package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Materialized partitioned layouts (SURVEY.md §2.1 S2): the Hive-style
  * `day=YYYY-MM-DD` directory scheme that turns a date filter into partition
  * pruning at the scan — at 100 TB the difference between reading one day
  * and reading three years. The reference's analog is HBase's region/store
  * directory layout (one directory per region, QHBaseCompact.java:139-149);
  * here the layout is written once per scale factor and reused.
  */
object PartitionedLayout {

  /** Day-partitioned copy of `events` for `sfDir`, built lazily and reused
    * across queries/runs (the parquet committer's _SUCCESS marker gates
    * re-writes, so a torn first write is redone, never half-read).
    *
    * Cache keying: the directory embeds a hash of the ABSOLUTE sfDir path
    * (two sfDirs sharing a basename must not collide) and the source's
    * [[Memo.fingerprint]] is written next to the layout and compared before
    * trusting _SUCCESS — a regenerated source (also one rewritten in place
    * under a Spark-written directory) invalidates the cached layout instead
    * of serving stale rows, and a missing source fails loudly. `synchronized` guards
    * this JVM only; cross-process races are resolved by the overwrite-mode
    * rewrite being idempotent.
    */
  def eventsByDay(s: SparkSession, sfDir: String): String = synchronized {
    val abs = new java.io.File(sfDir).getAbsolutePath
    val fingerprint = Memo.fingerprint(sfDir, "events")
    val key = f"${scala.util.hashing.MurmurHash3.stringHash(abs)}%08x"
    val dir = s"/tmp/graft_layouts/${new java.io.File(abs).getName}_$key/events_by_day"
    val fpFile = Paths.get(dir + ".fingerprint")
    val fresh = Files.exists(Paths.get(dir, "_SUCCESS")) &&
      Files.exists(fpFile) && Files.readString(fpFile).trim == fingerprint
    if (!fresh) {
      graft.Tables.events(s, sfDir)
        .withColumn("day", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("day").parquet(dir)
      Files.createDirectories(fpFile.getParent)
      Files.writeString(fpFile, fingerprint)
    }
    dir
  }
}
