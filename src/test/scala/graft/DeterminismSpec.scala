package graft

/** The driver hash-matches parquet output, so every query must be
  * bit-deterministic across executions — unstable orderings (collect_set,
  * ties without a tiebreak, partition-dependent float folds) would pass once
  * and flake later. Run every query twice and require identical rows.
  */
import org.scalatest.funsuite.AnyFunSuite

class DeterminismSpec extends AnyFunSuite with SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("every query is run-to-run deterministic (collected rows identical)") {
    val diffs = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val a = fn(spark, d).collect().toSeq
      val b = fn(spark, d).collect().toSeq
      if (a == b) None else Some(name)
    }
    assert(diffs.isEmpty, s"nondeterministic queries: $diffs")
  }

  test("bounded-state dedup shapes are shuffle-partition-count invariant") {
    // The round-9 rewrites lean on windows, dropDuplicates and two-branch
    // unions — shapes where a partition-order dependence (first() over an
    // unstable order, a tie without a total key) would pass the
    // run-to-run check above on the SAME session config and still flake
    // on a cluster with different parallelism. Re-run the rewritten
    // queries on a session with a different (prime) shuffle partition
    // count and require identical rows.
    val s7 = spark.newSession()
    s7.conf.set("spark.sql.shuffle.partitions", "7")
    // q_dedup_components' chain is memoized, and a memo family holds the
    // source path as SPELLED plus the CONTEXT identity — which newSession()
    // shares — so running it on `d` under s7 would be served the base
    // session's checkpointed artifacts and never execute a single stage at
    // 7 partitions (a vacuous pass). Spell the same directory differently
    // for the s7 leg: same files, same fingerprint, different family → the
    // whole chain genuinely replans and runs at shuffle.partitions=7. The
    // asserts pin the mechanism on a probe artifact so a future path
    // normalization can't silently re-vacuate the test.
    val d7 = d + "/."
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val probe = graft.sources.Memo.artifact("documents") { (s, _) =>
      builds.incrementAndGet(); s.range(1).toDF()
    }
    probe(spark, d); probe(s7, d)
    assert(builds.get == 1, "a newSession() sibling must share the base session's artifacts")
    probe(s7, d7)
    assert(builds.get == 2, "d7 spelling no longer misses the base session's artifacts; fix the test")
    for (n <- Seq("q_dedup_prefix", "q_dedup_simhash_pairs", "q_dedup_minhash",
        "q_dedup_cap_audit", "q_dedup_components")) {
      val a = SparkEntry.queries(n)(spark, d).collect().toSeq
      val b = SparkEntry.queries(n)(s7, d7).collect().toSeq
      assert(a == b, s"$n differs at shuffle.partitions=7")
    }
  }
}
