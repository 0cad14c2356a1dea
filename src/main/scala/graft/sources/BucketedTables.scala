package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed-table layout for co-located joins (SURVEY.md §4.3): persisting
  * both sides of a recurring fact⋈fact join bucketed (and sorted) by the
  * join key lets sort-merge join read co-located, pre-sorted buckets — no
  * Exchange, no Sort at query time. At 100 TB this converts the recurring
  * shuffle (the single largest cost of lineitem⋈orders-shaped joins) into a
  * one-time write-side layout decision, exactly like HBase's region
  * pre-split strategy the reference relies on.
  */
object BucketedTables {

  /** Persist `df` bucketed+sorted by `key` as table `name`, over `version`
    * of the [[SnapshotStore]] family `name` — a fresh version by default; a
    * committed one is reused, not rewritten. The table is re-registered over
    * the committed version before the previous one is retired, so a failed
    * write leaves the previous table readable.
    */
  def writeBucketed(df: DataFrame, name: String, key: String, buckets: Int,
      version: String = java.util.UUID.randomUUID().toString): Unit = {
    // The name is interpolated into SQL and names a store directory: only
    // identifier characters, and not digit-led ("1tbl" fails the unquoted
    // DROP/CREATE parse instead of this require). Lowercased like the catalog.
    require(name.matches("[a-zA-Z_][a-zA-Z0-9_]*"), s"invalid table name: $name")
    val table = name.toLowerCase(java.util.Locale.ROOT)
    val spark = df.sparkSession
    val scratch = s"graft_scratch_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    SnapshotStore.commit(spark, table, version, publish = dir => {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      // the column list is required: Spark refuses a bucket spec without one
      spark.sql(s"CREATE TABLE $table (${df.schema.toDDL}) USING parquet CLUSTERED BY ($key) " +
        s"SORTED BY ($key) INTO $buckets BUCKETS LOCATION '${dir.replace("\\", "\\\\").replace("'", "\\'")}'")
    }) { dir =>
      // Spark writes bucketed files only for a catalog table: a scratch
      // table with a path, whose drop leaves the files in `dir`
      try df.write.bucketBy(buckets, key).sortBy(key).format("parquet").option("path", dir).saveAsTable(scratch)
      finally spark.sql(s"DROP TABLE IF EXISTS $scratch")
    }
  }
}
