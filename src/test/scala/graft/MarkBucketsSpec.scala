package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bucket-marking pre-pass (TextQueries.markBuckets) on a fixture
  * with both small and over-cap buckets, so the clique phase, the star
  * phase and the size boundary all execute.
  */
class MarkBucketsSpec extends AnyFunSuite with SparkSpec {

  private lazy val dir: String = {
    import spark.implicits._
    val d = tempDir("markbuckets").toString
    // 110 clones (over-cap bucket) + three 2-doc near-dup families (small
    // buckets) + noise singletons.
    val template = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = (0L until 110L).map(i => (i, template)) ++
      (0 until 3).flatMap { f =>
        val base = s"family$f one$f two$f three$f four$f five$f six$f seven$f"
        Seq((200L + 2 * f, base), (201L + 2 * f, base + s" tail$f"))
      } ++
      (0 until 5).map(i => (300L + i, s"noise$i only$i tokens$i here$i none$i match$i ever$i"))
    docs.map { case (id, t) => (id, t, "en", "test", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("the fixture actually exercises the over-cap star phase") {
    val audit = SparkEntry.queries("q_dedup_cap_audit")(spark, dir)
      .filter(col("pipeline") === "minhash_pairs").collect()
    assert(audit.length == 1 && audit.head.getLong(3) >= 1L,
      s"no over-cap minhash bucket: ${audit.toSeq}")
  }
}
