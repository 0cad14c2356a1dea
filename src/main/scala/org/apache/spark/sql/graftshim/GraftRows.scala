package org.apache.spark.sql.graftshim

import org.apache.hadoop.conf.Configuration
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Seams of the classic session for code that runs its own RDD stage
  * between a Spark read and a Spark write (the merge store's shard merge):
  * a frame over an `RDD[InternalRow]`, and the session's SQL and Hadoop
  * configuration. Spark 4 keeps `internalCreateDataFrame` private[sql],
  * hence the subpackage, as for [[GraftColumn]].
  */
object GraftRows {
  private def classic(s: SparkSession) = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** A frame over `rows`, which must match `schema`. */
  def dataFrame(s: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    classic(s).internalCreateDataFrame(rows, schema)

  def sqlConf(s: SparkSession): SQLConf = classic(s).sessionState.conf

  def hadoopConf(s: SparkSession): Configuration = classic(s).sessionState.newHadoopConf()
}
