package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.SnapshotStore

/** The full compaction job (SURVEY.md §2.1 S5 + §3.2): what the reference
  * triggers remotely via `hadmin.majorCompact`
  * (/root/reference/src/main/java/com/qunar/dba/QHBaseCompact.java:167) —
  * merge a store's many files into few, keep only the newest cell versions,
  * preserve the sorted-run invariant — expressed as one declarative Spark
  * write:
  *
  *   read → LWW dedup (one shuffle, map-side partial SortAggregate) →
  *   repartitionByRange(k, key) (range shards ≙ HBase regions) →
  *   sortWithinPartitions(key) (HFile sorted-run invariant) →
  *   write maxRecordsPerFile → commit (one atomic rename)
  *
  * At 100 TB: range partitioning gives balanced shards via sampled bounds,
  * the sort is per-partition (no global sort barrier), and the output file
  * count derives from data size like the reference's dead `marjorfilesize`
  * knob intended (QHBaseCompact.java:97-98, README.md:23-24).
  */
object Compactor {

  /** One compaction pass over a keyed, versioned table. Returns the compacted
    * frame. If `outDir` is given, the frame is also committed there through
    * [[SnapshotStore]]: a kill leaves no `outDir` or a complete one. The
    * directory must not exist yet; graft never rewrites one in place.
    */
  def compact(
      df: DataFrame,
      keys: Seq[String],
      orderCols: Seq[String],
      numFiles: Int,
      outDir: Option[String] = None,
      maxRecordsPerFile: Long = 0L): DataFrame = {
    val deduped = Compaction.lastWriteWins(df, keys, orderCols)
    val keyCols = keys.map(col)
    val shaped = deduped
      .repartitionByRange(math.max(numFiles, 1), keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
    outDir.foreach { dir =>
      SnapshotStore.create(dir) { tmp =>
        val w = shaped.write
        (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w).parquet(tmp)
      }
    }
    shaped
  }

  /** Target output file count from total bytes — the size-based planning the
    * reference documented but never wired (README.md:23-24).
    */
  def planFileCount(totalBytes: Long, targetFileBytes: Long): Int =
    math.max(1, math.ceil(totalBytes.toDouble / math.max(targetFileBytes, 1L)).toInt)
}
