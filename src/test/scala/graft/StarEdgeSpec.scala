package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The clustering family reads star edges (one hub edge per bucket member)
  * instead of the C(sz,2) clique expansion. The claim is that over the SAME
  * band buckets the two edge sets have identical connected components —
  * within a bucket the star connects exactly the clique's member set. Pin
  * it end-to-end on the fixture: contraction labels from both edge sets
  * must be row-identical.
  */
class StarEdgeSpec extends AnyFunSuite with SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("star-edge contraction labels == clique-edge contraction labels") {
    def labelsOf(edges: org.apache.spark.sql.DataFrame) =
      operators.Components.labels(
        edges.select(col("doc_a").as("u"), col("doc_b").as("v")))
        .select(col("v").as("doc_id"), col("lbl"))
        .orderBy(col("doc_id")).collect().toSeq

    val viaStar = labelsOf(operators.TextQueries.starEdges(spark, d))
    val viaClique = labelsOf(operators.TextQueries.candidateEdges(spark, d))
    assert(viaStar.nonEmpty)
    assert(viaStar == viaClique)
  }

  test("over-cap minhash buckets are star-recovered on BOTH paths: clustering and the pair list") {
    import spark.implicits._
    val dir = tempDir("starovercap").toString
    // 120 identical docs: every minhash band bucket holds all 120 members,
    // i.e. over the 2..100 pair cap. The clustering path (starEdges) must
    // recover the component with 119 min→member edges (O(sz), round 9;
    // previously the whole 120-clone family silently fell apart into
    // singletons). Since round 11 the pair path (candidateEdges via
    // bandPairsOf) star-recovers too: the SAME 119 verified-star pairs —
    // never the C(120,2)=7140 clique, which is the quadratic blowup the
    // cap exists to stop — so over-cap members stay candidates for the
    // downstream exact verifies (q_dedup_near's Jaccard, minhash_est's
    // signature agreement) instead of vanishing from the pair list.
    val template = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = (0L until 120L).map(i => (i, template)) ++
      Seq((500L, "solo1 unique2 tokens3 nothing4 matches5 here6 ever7"))
    docs.map { case (id, t) => (id, t, "en", "test", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = operators.TextQueries.candidateEdges(spark, dir).collect()
    assert(pairs.length == 119, s"pair-path star edges: ${pairs.length}")
    assert(pairs.forall(r => r.getLong(0) == 0L && r.getLong(1) > 0L && r.getLong(1) < 120L))
    val star = operators.TextQueries.starEdges(spark, dir).collect()
    assert(star.length == 119, s"star edges: ${star.length}")
    assert(star.forall(r => r.getLong(0) == 0L && r.getLong(1) > 0L && r.getLong(1) < 120L))
    val labels = SparkEntry.queries("q_dedup_components")(spark, dir).collect()
    assert(labels.length == 120 && labels.forall(_.getLong(1) == 0L))
    // The audit prices the recovery identically on both minhash rows
    val audit = SparkEntry.queries("q_dedup_cap_audit")(spark, dir)
      .filter(col("pipeline").isin("minhash", "minhash_pairs")).collect()
    assert(audit.length == 2)
    audit.foreach { r =>
      assert(r.getLong(3) == 4L, s"overcap_buckets: $r") // 4 bands, all over-cap
      assert(r.getLong(5) == 4L * 119L, s"star_edges: $r")
      assert(r.getLong(4) == 4L * (7140L - 119L), s"pairs_foregone: $r")
    }
  }

  test("star edges are strictly fewer than clique edges and share the vertex set") {
    val star = operators.TextQueries.starEdges(spark, d)
    val clique = operators.TextQueries.candidateEdges(spark, d)
    assert(star.count() <= clique.count())
    val vs = star.select(explode(array(col("doc_a"), col("doc_b"))).as("v")).distinct()
    val vc = clique.select(explode(array(col("doc_a"), col("doc_b"))).as("v")).distinct()
    assert(vs.exceptAll(vc).isEmpty && vc.exceptAll(vs).isEmpty)
  }
}
