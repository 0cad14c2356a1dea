package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) file layout for multi-dimensional data skipping
  * (SURVEY.md §2.1 S7).
  *
  * A single-key sorted layout skips files only on that key: every file spans
  * the full range of every OTHER column, so a filter on a second dimension
  * reads all of them. Interleaving the bits of two keys and range-writing on
  * the interleaved value keeps each file to a small rectangle of the (a, b)
  * plane, so per-file min/max stats prune scans on EITHER dimension — at
  * 100 TB the difference between touching ~sqrt(F) files and all F for a
  * point/band query on the non-sort key. The same per-file min/max pruning
  * Spark already applies to parquet row groups does the skipping; the layout
  * just makes the stats tight. (Published shape: the Z-order OPTIMIZE of
  * lakehouse table formats; the reference's analog is HBase's single-rowkey
  * sort order, QHBaseCompact.java:139-149, which this generalizes.)
  */
object ZOrder {

  /** Morton z-value: the low `bits` bits of two non-negative integral
    * columns, interleaved (a on even positions, b on odd). Unrolled at plan
    * build into one codegen'd projection of constant shifts/masks — no HOF,
    * no UDF; 2·bits ops per row.
    */
  def zvalue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Write `df` as `nFiles` parquet files range-partitioned and sorted by
    * the z-value of (`a`, `b`) — the Z-order OPTIMIZE — committed at `path`
    * through [[SnapshotStore]], which must not exist yet. The z column is an
    * unnamed shuffle/sort key only; the written schema is unchanged.
    */
  def writeZOrdered(df: DataFrame, a: String, b: String, bits: Int,
                    nFiles: Int, path: String): Unit = {
    val z = zvalue(col(a), col(b), bits)
    SnapshotStore.create(path)(df.repartitionByRange(nFiles, z).sortWithinPartitions(z).write.parquet(_))
  }

  /** Per-file [min, max] of `c1` and `c2` for a written layout — the
    * data-skipping statistics a scan planner consults. One row per file.
    */
  def fileRanges(s: SparkSession, path: String, c1: String, c2: String): DataFrame =
    s.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(
        min(col(c1)).as("min1"), max(col(c1)).as("max1"),
        min(col(c2)).as("min2"), max(col(c2)).as("max2"))

  /** Count of files whose [lo, hi] stats range intersects [qLo, qHi] on the
    * stats columns named by `side` ("1" or "2") — i.e. the files a
    * min/max-pruning scan must read for a band predicate.
    */
  def candidateFiles(ranges: DataFrame, side: Int, qLo: Long, qHi: Long): Long =
    ranges
      .filter(col(s"min$side") <= qHi && col(s"max$side") >= qLo)
      .count()
}
