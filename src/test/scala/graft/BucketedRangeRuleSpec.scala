package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.BucketedRangeJoinRule]]: the naive `p >= lo AND p <= hi`
  * interval join must (1) stop planning as a nested-loop/cartesian join,
  * (2) stay row-identical to the un-rewritten form — including negative
  * values (floor bucketing), duplicates, NULLs on either side, strict
  * bounds, and residual conjuncts — and (3) leave non-matching shapes
  * untouched.
  */
class BucketedRangeRuleSpec extends AnyFunSuite with SparkSpec {

  // deterministic fixtures spanning NEGATIVE values: arithmetic-shift
  // bucketing is floor division, so sign handling is part of the contract.
  private def intervals(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    (0 until 40).map { i =>
      val lo = i.toLong * 300 - 6000
      (i.toLong, lo, lo + 50 + (i.toLong * 37 % 250))
    }.toDF("tid", "lo", "hi")
  }

  private def points(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    (0 until 300).map { i =>
      val x = i.toLong * 0x9e3779b97f4a7c15L
      (i.toLong, (x ^ (x >>> 31)) % 7000) // in [-6999, 6999]
    }.toDF("pid", "p")
  }

  // A fresh session per arm; the naive arm excludes the rule through
  // Spark's own optimizer setting.
  private def session(disableRule: Boolean) = {
    val s2 = spark.newSession()
    if (disableRule)
      s2.conf.set("spark.sql.optimizer.excludedRules", graft.plans.BucketedRangeJoinRule.ruleName)
    s2
  }

  private def naive(disableRule: Boolean, cond: String = "p >= lo AND p <= hi") = {
    val s2 = session(disableRule)
    points(s2).join(intervals(s2), expr(cond))
      .select(col("pid"), col("tid"))
      .orderBy(col("pid"), col("tid"))
  }

  test("kill switch actually disables the rewrite (guards the identity test against a vacuous compare)") {
    // the kill switch is spark.sql.optimizer.excludedRules naming the rule
    val off = naive(disableRule = true).queryExecution.executedPlan.toString
    assert(!off.contains("__graft_bkt"), off)
    val on = naive(disableRule = false).queryExecution.executedPlan.toString
    assert(on.contains("__graft_bkt"), on)
  }

  test("rewritten plan joins on the bucket key — no cartesian/nested loop, one Generate (interval side)") {
    val df = naive(disableRule = false)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
    assert("Generate".r.findAllIn(p).size == 1, p)
    assert(p.contains("HashJoin") || p.contains(PlanPins.SortMergeJoin), p)
  }

  test("rewrite is row-identical to the naive join, negatives included") {
    val got = naive(disableRule = false).collect().toSeq
    val want = naive(disableRule = true).collect().toSeq
    assert(got == want, s"${got.size} vs ${want.size} rows")
    assert(want.nonEmpty, "fixture produced no containments — domains must overlap")
    assert(want.size < 300L * 40, "fixture degenerated to all-pairs")
  }

  test("strict bounds rewrite too, and stay row-identical") {
    val got = naive(disableRule = false, "p > lo AND p < hi")
    assert(got.queryExecution.executedPlan.toString.contains("__graft_bkt"))
    assert(got.collect().toSeq == naive(disableRule = true, "p > lo AND p < hi").collect().toSeq)
  }

  test("duplicates and NULLs on either side behave exactly like the naive join") {
    import spark.implicits._
    val pts = Seq((1L, Some(10L)), (1L, Some(10L)), (2L, None), (3L, Some(-200L)))
      .toDF("pid", "p")
    val ivs = Seq((10L, Some(0L), Some(20L)), (20L, None, Some(5L)), (30L, Some(-300L), Some(-100L)))
      .toDF("tid", "lo", "hi")
    def run(disable: Boolean) = {
      val s2 = session(disable)
      val p2 = s2.createDataFrame(java.util.Arrays.asList(pts.collect(): _*), pts.schema)
      val i2 = s2.createDataFrame(java.util.Arrays.asList(ivs.collect(): _*), ivs.schema)
      p2.join(i2, expr("p >= lo AND p <= hi"))
        .select(col("pid"), col("tid")).orderBy(col("pid"), col("tid"))
        .collect().toSeq
    }
    val got = run(false)
    val want = run(true)
    assert(got == want)
    // duplicate point row matches twice; NULL point / NULL bound never match
    assert(want.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 10L), (1L, 10L), (3L, 30L)))
  }

  test("residual conjuncts ride along: containment AND pid < tid still rewrites, tiebreak applies") {
    val df = naive(disableRule = false, "p >= lo AND p <= hi AND pid < tid")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("__graft_bkt"), p)
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
    val rows = df.collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.toSeq == naive(disableRule = true, "p >= lo AND p <= hi AND pid < tid").collect().toSeq)
  }

  test("identity holds across grid sizes: bucketBits 4, 8 and 13 all reproduce the naive rows") {
    // The grid is fixed at 2^8 units; rescaling the fixture coordinates
    // moves them onto the other grids exactly: (x << 4) >> 8 == x >> 4 and
    // (x >> 5) >> 8 == x >> 13, so each case buckets the fixture as that
    // grid size would.
    for ((bits, rescale) <- Seq[(Int, String => String)](
        4 -> (c => s"$c * 16"), 8 -> (c => c), 13 -> (c => s"shiftright($c, 5)"))) {
      def run(disable: Boolean) = {
        val s2 = session(disable)
        val pts = points(s2).withColumn("p", expr(rescale("p")))
        val ivs = intervals(s2)
          .withColumn("lo", expr(rescale("lo"))).withColumn("hi", expr(rescale("hi")))
        pts.join(ivs, expr("p >= lo AND p <= hi"))
          .select(col("pid"), col("tid")).orderBy(col("pid"), col("tid"))
      }
      val got = run(disable = false)
      assert(got.queryExecution.executedPlan.toString.contains("__graft_bkt"), s"bits=$bits")
      val want = run(disable = true).collect().toSeq
      assert(got.collect().toSeq == want, s"bits=$bits")
      assert(want.nonEmpty, s"bits=$bits")
    }
  }

  test("lossy cast chains bucket the COMPARED value: rows identical to naive") {
    // The old stripCast would bucket the UN-truncated column while the
    // residual compared the truncated value — rows whose raw bucket fell
    // outside [bucket(lo), bucket(hi)] silently vanished. Bare matching
    // takes the whole cast chain as the point expression, so bucket key and
    // residual agree on the same (truncated) value and monotonicity holds.
    val cond = "CAST(CAST(p AS INT) AS BIGINT) >= lo AND CAST(CAST(p AS INT) AS BIGINT) <= hi"
    val on = naive(disableRule = false, cond)
    val plan = on.queryExecution.executedPlan.toString
    // bucket must be derived from the cast chain, never the bare column
    assert(!plan.contains("shiftright(p#"), plan)
    assert(on.collect().toSeq == naive(disableRule = true, cond).collect().toSeq)
  }

  test("wide intervals split to the fallback path at maxBuckets, rows stay identical") {
    import spark.implicits._
    // one absurdly wide interval (epoch-micros-day scale) among narrow ones
    val ivs = Seq((1L, 0L, 100L), (2L, 200L, 450L), (3L, -5000L, 400000000L))
      .toDF("tid", "lo", "hi")
    // the wide interval touches ~1.6M buckets, far past the 4096 cap
    def run(disable: Boolean) = {
      val s2 = session(disable)
      val i2 = s2.createDataFrame(java.util.Arrays.asList(ivs.collect(): _*), ivs.schema)
      points(s2).join(i2, expr("p >= lo AND p <= hi"))
        .select(col("pid"), col("tid")).orderBy(col("pid"), col("tid"))
    }
    val got = run(disable = false)
    val plan = got.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_bkt"), plan)  // narrow branch still equi
    assert(plan.contains(PlanPins.Union), plan)        // wide branch split off
    val want = run(disable = true).collect().toSeq
    assert(got.collect().toSeq == want)
    assert(want.nonEmpty)
  }

  test("all-wide constant bounds skip the rewrite entirely (no 2^31 sequence crash)") {
    val s2 = spark.newSession()
    val df = points(s2).join(intervals(s2),
      expr("p >= CAST(-4000000000 AS BIGINT) AND p <= CAST(4000000000 AS BIGINT)"))
      .select(col("pid"), col("tid"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("__graft_bkt"), plan)
    // and it still RUNS (the exploded form would throw sequence's
    // array-length error at ~31M buckets before ever returning)
    assert(df.count() == 300L * 40)
  }

  test("non-matching shapes are untouched: an extra equi conjunct keeps the hash-join plan") {
    val s2 = spark.newSession()
    val pts = points(s2).withColumn("g", col("pid") % 5)
    val ivs = intervals(s2).withColumn("g_i", col("tid") % 5)
    val df = pts.join(ivs, col("g") === col("g_i") && expr("p >= lo AND p <= hi"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("__graft_bkt"), p) // g key already carries the join
  }
}
