package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Materialized partitioned layouts (SURVEY.md §2.1 S2): the Hive-style
  * `day=YYYY-MM-DD` directory scheme that turns a date filter into partition
  * pruning at the scan — at 100 TB the difference between reading one day
  * and reading three years. The reference's analog is HBase's region/store
  * directory layout (one directory per region, QHBaseCompact.java:139-149);
  * here the layout is written once per source snapshot and reused.
  */
object PartitionedLayout {

  private val layouts = new Memo.Cache[String]

  /** Day-partitioned copy of `events` under `sfDir`: one [[SnapshotStore]]
    * version per source [[Memo.fingerprint]], so a regenerated source (also
    * one rewritten in place under a Spark-written directory) commits a new
    * layout and retires the old one, and a missing source fails loudly.
    */
  def eventsByDay(s: SparkSession, sfDir: String): String = {
    val version = Memo.fingerprint(sfDir, "events")
    layouts.get(Memo.family(sfDir, "events"), version) {
      SnapshotStore.commit(s, SnapshotStore.family("events_by_day", sfDir, "events"), version) { dir =>
        graft.Tables.events(s, sfDir)
          .withColumn("day", to_date(col("ts")))
          .write.partitionBy("day").parquet(dir)
      }
    }
  }
}
