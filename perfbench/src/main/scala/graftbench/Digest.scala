package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-insensitive digest of a frame's full output. */
object Digest {

  /** `<rows>:<sum of a 64-bit hash per row>`. Each row is rendered as JSON
    * over its columns sorted by name, so neither row order nor column order
    * matters; the sum is exact (decimal), so duplicate rows still count.
    */
  def of(df: DataFrame): String = {
    val names = df.columns
    val order = names.indices.sortBy(i => (names(i), i))
    val positional = df.toDF(names.indices.map(i => s"c$i"): _*)
    val row = to_json(struct(order.map(i => col(s"c$i").as(names(i))): _*))
    val r = positional
      .select(xxhash64(row).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }
}
