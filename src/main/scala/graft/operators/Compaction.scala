package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Major-compaction data semantics, re-expressed Spark-first.
  *
  * The reference (`/root/reference/src/main/java/com/qunar/dba/QHBaseCompact.java`)
  * triggers HBase major compaction remotely (`hadmin.majorCompact`,
  * QHBaseCompact.java:167). The data transformation that call performs on the
  * RegionServer — merge all store files, keep only the newest version per
  * cell, emit one sorted run — is implemented here as declarative Spark plans:
  *
  *   - [[lastWriteWins]]: newest-version-per-key (the cell-version GC)
  *   - [[compactableStores]]: the ">1 file" work-avoidance filter
  *     (QHBaseCompact.java:151)
  *   - [[classifyBySize]]: the documented-but-dead size-threshold routing
  *     (QHBaseCompact.java:97-98, README.md:23-24)
  *   - [[Compactor.compact]]: the full file-merge job (sorted-run invariant)
  *
  * Scale posture: LWW is one `max_by(struct)` aggregate around a single
  * shuffle, not a window. Its struct buffers are not mutable in place, so
  * Spark plans it as a SortAggregate (a Sort on each side of the exchange);
  * the partial aggregate still runs map-side, so 100 TB of versioned cells
  * reduce before the exchange.
  */
object Compaction {

  /** Keep exactly the newest version of every key: the data semantics of
    * HBase major compaction (drop older versions). `orderCols` is the version
    * order (e.g. ts, then a unique id as deterministic tiebreak — mandatory
    * for reproducible output).
    *
    * Single-shuffle formulation: `max_by(struct(payload), struct(order))`
    * aggregates with map-side partials (a SortAggregate: struct buffers are
    * not hash-aggregable); equivalent to (and property-tested against) the
    * `row_number() === 1` window form.
    */
  def lastWriteWins(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val payloadCols = df.columns.filterNot(keys.contains).toSeq
    val payload     = struct(payloadCols.map(col): _*)
    val ord         = struct(orderCols.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, ord).as("__newest"))
      .select(keys.map(col) ++ payloadCols.map(c => col(s"__newest.$c").as(c)): _*)
  }

  /** Window-based LWW (two-pass: shuffle + sort). Kept for the property test
    * that both formulations agree; prefer [[lastWriteWins]] at scale.
    */
  def lastWriteWinsWindow(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Stores (groups) worth compacting: more than one file (reference skips
    * single-file stores, QHBaseCompact.java:151,186-190). `sizeCol` summed as
    * the store size report (QHBaseCompact.java:152-156).
    */
  def compactableStores(files: DataFrame, storeKeys: Seq[Column], sizeCol: Column): DataFrame =
    files
      .groupBy(storeKeys: _*)
      .agg(count(lit(1)).as("n_files"), sum(sizeCol).as("total_size"))
      .filter(col("n_files") > 1)

  /** The size-threshold routing the reference documents but never wired up
    * (knobs parsed at QHBaseCompact.java:97-98, intent README.md:23-24):
    * below `directSize` compact immediately, above `majorSize` skip, else
    * schedule.
    */
  def classifyBySize(size: Column, directSize: Long, majorSize: Long): Column =
    when(size < lit(directSize), "direct")
      .when(size > lit(majorSize), "skip")
      .otherwise("scheduled")
}
