package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Key range and order of one output file. */
final case class FileRange(file: String, rows: Long, min: Seq[Any], max: Seq[Any], outOfOrder: Long)

/** Output checks for the compaction workload. */
object Checks {

  /** Per-file key range and out-of-order row count of the parquet files
    * `df` was read from (one Spark job; rows keep their order within a file).
    */
  def fileRanges(df: DataFrame, keys: Seq[String]): Seq[FileRange] = {
    val key = struct(keys.map(col): _*)
    val inFile = Window.partitionBy(col("__file")).orderBy(col("__pos"))
    df.select(key.as("__key"), input_file_name().as("__file"), monotonically_increasing_id().as("__pos"))
      .withColumn("__prev", lag(col("__key"), 1).over(inFile))
      .groupBy(col("__file"))
      .agg(count(lit(1)).as("rows"), min(col("__key")).as("lo"), max(col("__key")).as("hi"),
        sum(when(col("__key") < col("__prev"), 1L).otherwise(0L)).as("bad"))
      .collect().toSeq
      .map(r => FileRange(r.getString(0), r.getLong(1), r.getAs[Row](2).toSeq, r.getAs[Row](3).toSeq, r.getLong(4)))
      .sortBy(_.file)
  }

  def compareKeys(a: Seq[Any], b: Seq[Any]): Int =
    a.zip(b).iterator.map {
      case (x: Long, y: Long)     => java.lang.Long.compare(x, y)
      case (x: String, y: String) => x.compareTo(y)
      case (x, y)                 => sys.error(s"cannot compare key parts $x and $y")
    }.find(_ != 0).getOrElse(0)

  /** None when every file is key-sorted and no two files' key ranges
    * overlap; otherwise what is wrong.
    */
  def sortedDisjoint(files: Seq[FileRange]): Option[String] = {
    val unsorted = files.filter(_.outOfOrder > 0)
    val ordered = files.filter(_.rows > 0).sortWith((a, b) => compareKeys(a.min, b.min) < 0)
    val overlaps = ordered.zip(ordered.drop(1)).filter { case (a, b) => compareKeys(a.max, b.min) >= 0 }
    val problems =
      unsorted.map(f => s"${f.file} has ${f.outOfOrder} rows out of key order") ++
        overlaps.map { case (a, b) => s"${a.file} and ${b.file} overlap in key range" }
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  /** None when the two frames hold the same rows. */
  def sameRows(got: DataFrame, want: DataFrame, what: String): Option[String] = {
    val (g, w) = (Digest.of(got), Digest.of(want))
    if (g == w) None else Some(s"$what: digest $g, expected $w")
  }
}
