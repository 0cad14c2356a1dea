package graft

/** Dev tool (VERDICT r21 item 9): print the formatted physical plans of the
  * checkpoint-PRODUCING builder pipelines that `pin()` hides from the final
  * query plans [[Explain]] dumps — so exchange-count claims about builders
  * (gram-table grain, one-tokenization prefix build) are verifiable
  * end-to-end from committed plan files.
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
      "prefix_docs_build" -> operators.TextQueries.prefixDocsOf(spark, sfDir))
    targets.foreach { case (name, df) =>
      println(s"\n========== $name ==========")
      df.explain("formatted")
    }
    spark.stop()
  }
}
