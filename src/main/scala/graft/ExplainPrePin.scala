package graft

/** Dev tool (VERDICT r21 item 9): print the formatted physical plans of the
  * checkpoint-PRODUCING builder pipelines that `pin()` hides from the final
  * query plans [[Explain]] dumps — so exchange-count claims about builders
  * (gram-table grain, one-tokenization prefix build, consolidated LSH-sweep
  * bucket marking) are verifiable end-to-end from committed plan files.
  *
  * Usage: runMain graft.ExplainPrePin [sfDir]
  */
object ExplainPrePin {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.tuned("local[8]", "8")
    spark.sparkContext.setLogLevel("ERROR")
    val targets: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      // the (doc_id, gram, cnt)-grain artifact build (q_dedup_substring*)
      "grams10_build" -> operators.TextQueries.grams10Build(spark, sfDir),
      // the single-tokenization per-doc array build (q_dedup_prefix)
      "prefix_docs_arr_build" -> operators.TextQueries.prefixDocsArrBuild(spark, sfDir),
      // the per-doc prefix table CONSUMING the pinned arrays (0 parquet
      // scans expected: both the df aggregate and the join-back read the
      // checkpoint)
      "prefix_docs_build" -> operators.TextQueries.prefixDocsOf(spark, sfDir),
      // the consolidated one-window bucket marking of q_dedup_lsh_sweep:
      // what TextQueries.cappedPairs pins for the sweep's (r, band, bkey)
      // buckets
      "lsh_sweep_marked_build" -> operators.TextQueries.markBuckets(
        operators.TextQueries.lshSweepBandsBuild(
          operators.TextQueries.lshSweepSigsBuild(spark, sfDir)),
        Seq("r", "band", "bkey"), org.apache.spark.sql.functions.col("doc_id")))
    targets.foreach { case (name, df) =>
      println(s"\n========== $name ==========")
      df.explain("formatted")
    }
    spark.stop()
  }
}
