package graft.operators

import org.apache.spark.sql.DataFrame
import graft.sources.SnapshotStore
import graft.streaming.MergeStore

/** The full compaction job (SURVEY.md §2.1 S5 + §3.2): what the reference
  * triggers remotely via `hadmin.majorCompact`
  * (/root/reference/src/main/java/com/qunar/dba/QHBaseCompact.java:167) —
  * merge a store's many files into few, keep only the newest cell versions,
  * preserve the sorted-run invariant — expressed as the first snapshot of a
  * merge store ([[MergeStore.create]]):
  *
  *   read → LWW dedup (one shuffle, map-side partial SortAggregate) →
  *   repartitionByRange(k, key) (range shards ≙ HBase regions) →
  *   sortWithinPartitions(key) (HFile sorted-run invariant) →
  *   one file per shard + `_bounds` → commit (one atomic rename)
  *
  * At 100 TB: range partitioning gives balanced shards via bounds sampled
  * from the deduplicated keys, the sort is per-partition (no global sort
  * barrier), and the output file count derives from data size like the
  * reference's dead `marjorfilesize` knob intended (QHBaseCompact.java:97-98,
  * README.md:23-24).
  */
object Compactor {

  /** One compaction pass over a keyed, versioned table: the newest row of
    * every key of `df` by `orderCols`, committed into the new directory
    * `outDir` through [[SnapshotStore]] as a merge-store snapshot of at
    * most `numFiles` key-sorted, range-disjoint files with their `_bounds`
    * manifest, so a merge store whose `LATEST` names it merges upserts into
    * it. A kill leaves no `outDir` or a complete one. `outDir` must be given
    * and must not exist yet: graft never rewrites a directory in place.
    * `maxRecordsPerFile` is not read: a shard is one file.
    */
  def compact(
      df: DataFrame,
      keys: Seq[String],
      orderCols: Seq[String],
      numFiles: Int,
      outDir: Option[String],
      maxRecordsPerFile: Long = 0L): Unit = {
    val dir = outDir.getOrElse(throw new IllegalArgumentException("Compactor.compact needs an outDir to commit"))
    SnapshotStore.create(dir)(MergeStore.create(df.sparkSession, dir, keys, orderCols, df, math.max(numFiles, 1), _))
  }

  /** Target output file count from total bytes — the size-based planning the
    * reference documented but never wired (README.md:23-24).
    */
  def planFileCount(totalBytes: Long, targetFileBytes: Long): Int =
    math.max(1, math.ceil(totalBytes.toDouble / math.max(targetFileBytes, 1L)).toInt)
}
