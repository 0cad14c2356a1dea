package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.BandedHammingJoinRule]]: the naive `bit_count(a ^ b) <= k`
  * join must (1) stop planning as a nested-loop/cartesian join, (2) stay
  * row-identical to the un-rewritten form for every k, including duplicate
  * rows and NULL signatures, and (3) leave non-matching shapes untouched.
  */
class BandedHammingRuleSpec extends AnyFunSuite with SparkSpec {

  // deterministic pseudo-random 64-bit signatures (no RNG). Built on an
  // EXPLICIT session: the optimizer reads the conf of the session that
  // EXECUTES the join, so the naive arm must construct its DataFrames on
  // the session that excludes the rule or both arms silently run
  // rewritten (vacuous compare).
  private def sigs(s: org.apache.spark.sql.SparkSession, n: Int, seed: Long) = {
    import s.implicits._
    (0 until n).map { i =>
      val x = i.toLong * 0x9e3779b97f4a7c15L + seed
      (i.toLong, x ^ (x >>> 31))
    }.toDF("id", "sig")
  }

  // A fresh session per arm; the naive arm excludes the rule through
  // Spark's own optimizer setting.
  private def session(disableRule: Boolean) = {
    val s2 = spark.newSession()
    if (disableRule)
      s2.conf.set("spark.sql.optimizer.excludedRules", graft.plans.BandedHammingJoinRule.ruleName)
    s2
  }

  private def naiveJoin(k: Int, disableRule: Boolean) = {
    val s2 = session(disableRule)
    val a = sigs(s2, 120, 7L).withColumnRenamed("id", "id_a").withColumnRenamed("sig", "sig_a")
    val b = sigs(s2, 120, 7L).withColumnRenamed("id", "id_b").withColumnRenamed("sig", "sig_b")
    a.join(b, expr(s"bit_count(sig_a ^ sig_b) <= $k"))
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  test("kill switch actually disables the rewrite (guards the identity test against a vacuous compare)") {
    // the kill switch is spark.sql.optimizer.excludedRules naming the rule
    val off = naiveJoin(3, disableRule = true).queryExecution.executedPlan.toString
    assert(!off.contains("__graft_bval"), off)
    val on = naiveJoin(3, disableRule = false).queryExecution.executedPlan.toString
    assert(on.contains("__graft_bval"), on)
  }

  test("rewritten plan joins on band keys — no cartesian, no nested loop, a Generate per side") {
    val df = naiveJoin(3, disableRule = false)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
    assert("Generate".r.findAllIn(p).size == 2, p)
    assert(p.contains("HashJoin") || p.contains(PlanPins.SortMergeJoin), p)
  }

  test("rewrite is row-identical to the naive join for k = 0, 3, 7") {
    for (k <- Seq(0, 3, 7)) {
      val got = naiveJoin(k, disableRule = false).collect().toSeq
      val want = naiveJoin(k, disableRule = true).collect().toSeq
      assert(got == want, s"k=$k: ${got.size} vs ${want.size} rows")
      assert(want.nonEmpty, s"k=$k produced an empty fixture — identical seeds must self-match")
    }
  }

  test("duplicate rows and NULL signatures behave exactly like the naive join") {
    import spark.implicits._
    val a = Seq((1L, Some(0L)), (1L, Some(0L)), (2L, None), (3L, Some(3L)))
      .toDF("id_a", "sig_a")
    val b = Seq((10L, Some(1L)), (20L, None)).toDF("id_b", "sig_b")
    def run(disable: Boolean) = {
      val s2 = session(disable)
      val a2 = s2.createDataFrame(java.util.Arrays.asList(a.collect(): _*), a.schema)
      val b2 = s2.createDataFrame(java.util.Arrays.asList(b.collect(): _*), b.schema)
      a2.join(b2, expr("bit_count(sig_a ^ sig_b) <= 1"))
        .select(col("id_a"), col("id_b")).orderBy(col("id_a"), col("id_b"))
        .collect().toSeq
    }
    val got = run(false)
    val want = run(true)
    assert(got == want)
    // sanity: the duplicate (1L, 0) row pairs twice with sig 1 (hamming 1);
    // NULL sigs never match anything
    assert(want.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 10L), (1L, 10L), (3L, 10L)))
  }

  test("the ubiquitous pair-ordering tiebreak rides along: hamming AND id_a < id_b still rewrites") {
    import spark.implicits._
    // even/odd id pairs share a base signature one bit apart → guaranteed
    // cross-id matches at hamming 1 (pure-random sigs only ever self-match)
    val paired = (0 until 120).map { i =>
      val x = (i / 2).toLong * 0x9e3779b97f4a7c15L + 7L
      (i.toLong, (x ^ (x >>> 31)) ^ (i % 2).toLong)
    }.toDF("id", "sig") // parent session: this test only pins the ON plan + residual
    val a = paired.withColumnRenamed("id", "id_a").withColumnRenamed("sig", "sig_a")
    val b = paired.withColumnRenamed("id", "id_b").withColumnRenamed("sig", "sig_b")
    val df = a.join(b, expr("bit_count(sig_a ^ sig_b) <= 3") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).orderBy(col("id_a"), col("id_b"))
    val p = df.queryExecution.executedPlan.toString
    assert("Generate".r.findAllIn(p).size == 2, p)
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
    // and the residual tiebreak still applies
    val rows = df.collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.nonEmpty)
  }

  test("cast-strip audit: CAST around bit_count rewrites exactly; operand casts band over the cast value; cast-free int operands are untouched") {
    // Round-9 spec for the r8 BucketedRangeJoinRule lesson: stripCast here
    // is only ever applied to the comparison sides (to find bit_count
    // under a spelling like CAST(bit_count(..) AS BIGINT)) — always
    // lossless because bit_count ∈ [0, 64] survives any numeric cast.
    // Operand casts are NEVER stripped: a CAST(int_col AS BIGINT) operand
    // is itself the LongType signature expression, so the bands compute
    // over exactly the 64-bit value the naive predicate sees — exact by
    // construction, pinned against the rule-excluded run below.
    def run(cond: String, disable: Boolean, intSigs: Boolean) = {
      val s2 = session(disable)
      import s2.implicits._
      val base = (0 until 80).map { i =>
        val x = (i / 2).toLong * 0x9e3779b97f4a7c15L + 11L
        val full = (x ^ (x >>> 31)) ^ (i % 2).toLong
        (i.toLong, full)
      }
      val df =
        if (intSigs) base.map { case (id, s) => (id, s.toInt) }.toDF("id", "sig")
        else base.toDF("id", "sig")
      val a = df.withColumnRenamed("id", "id_a").withColumnRenamed("sig", "sig_a")
      val b = df.withColumnRenamed("id", "id_b").withColumnRenamed("sig", "sig_b")
      a.join(b, expr(cond))
        .select(col("id_a"), col("id_b")).orderBy(col("id_a"), col("id_b"))
    }
    // (a) cast AROUND bit_count: fires, row-identical
    val castCond = "CAST(bit_count(sig_a ^ sig_b) AS BIGINT) <= 2"
    val ca = run(castCond, disable = false, intSigs = false)
    val cap = ca.queryExecution.executedPlan.toString
    assert("Generate".r.findAllIn(cap).size == 2, cap)
    assert(ca.collect().toSeq == run(castCond, disable = true, intSigs = false).collect().toSeq)
    // (b) casts on the OPERANDS (int sigs widened in the query): the cast
    // IS the LongType signature; fires and stays row-identical
    val opCond = "bit_count(CAST(sig_a AS BIGINT) ^ CAST(sig_b AS BIGINT)) <= 1"
    val ob = run(opCond, disable = false, intSigs = true)
    val obp = ob.queryExecution.executedPlan.toString
    assert("Generate".r.findAllIn(obp).size == 2, obp)
    val obRows = ob.collect().toSeq
    assert(obRows == run(opCond, disable = true, intSigs = true).collect().toSeq)
    assert(obRows.nonEmpty)
    // (c) cast-free INT operands are not LongType → the gate rejects, plan untouched
    val ic = run("bit_count(sig_a ^ sig_b) <= 1", disable = false, intSigs = true)
    assert(!ic.queryExecution.executedPlan.toString.contains("Generate"))
  }

  test("non-matching shapes are untouched: a condition with an extra equi conjunct keeps its plan") {
    import spark.implicits._
    val a = sigs(spark, 50, 1L).withColumnRenamed("id", "id_a").withColumnRenamed("sig", "sig_a")
      .withColumn("grp", col("id_a") % 5)
    val b = sigs(spark, 50, 2L).withColumnRenamed("id", "id_b").withColumnRenamed("sig", "sig_b")
      .withColumn("grp_b", col("id_b") % 5)
    val df = a.join(b, col("grp") === col("grp_b") && expr("bit_count(sig_a ^ sig_b) <= 3"))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Generate"), p) // rule did not fire; grp key already carries the join
  }
}
