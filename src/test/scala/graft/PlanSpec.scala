package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests — the scale properties .explain review
  * found, pinned so refactors can't silently regress them: pushdown reaching
  * the scan, pruned read schemas, declared broadcasts, top-k without a global
  * sort, single-shuffle LWW, and no stray exchanges.
  */
class PlanSpec extends AnyFunSuite with SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, d)
    df.queryExecution.executedPlan.toString
  }
  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, d)
    org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
  }

  test("q_scan_project: filter is pushed to the parquet scan and columns pruned") {
    val df = SparkEntry.queries("q_scan_project")(spark, d)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), scan)
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double,l_shipdate:timestamp"), scan)
  }

  test("q_join_broadcast: both dims broadcast, no shuffle of the fact side for the join") {
    val p = plan("q_join_broadcast")
    assert(p.contains(PlanPins.BroadcastHashJoin), p)
    assert(!p.contains(PlanPins.SortMergeJoin), p)
  }

  test("q_topk_files: top-k runs as TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk_files")
    assert(p.contains(PlanPins.TakeOrderedAndProject), p)
  }

  test("q_compact_lww: single shuffle, partial+final aggregation, no window") {
    val p = plan("q_compact_lww")
    assert(!p.contains(PlanPins.Window), p)
    // max_by over a struct buffer is not hash-aggregable, so Spark picks
    // SortAggregate — still partial (map-side) + final around ONE hash
    // exchange, which is the point: versions reduce before the shuffle.
    assert("SortAggregate".r.findAllIn(p).size >= 2, p)
    assert("hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q_join_theta_range: range predicate rides the equi join, no BNLJ/cartesian") {
    val p = plan("q_join_theta_range")
    assert(!p.contains(PlanPins.BroadcastNestedLoopJoin) && !p.contains(PlanPins.CartesianProduct), p)
  }

  test("q_dedup_embed: LSH candidate join — no cartesian product, no nested-loop join") {
    val p = plan("q_dedup_embed")
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
  }

  test("q_dedup_near: candidates from in-bucket expansion, never a raw-shingle join") {
    val df = SparkEntry.queries("q_dedup_near")(spark, d)
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains(PlanPins.CartesianProduct), p)
    // Joins key on doc ids only; the exploded shingle column must not appear
    // as a join key anywhere (the round-1 quadratic form).
    val joinConds = "Join .*".r.findAllIn(p).toList
    assert(joinConds.nonEmpty, p)
    assert(!joinConds.exists(_.matches(".*\\bsh#\\d+ = sh#\\d+.*")), joinConds.mkString("\n"))
  }

  test("q_dedup_minhash: both pair phases read ONE bucket-key exchange — no join, no re-scan") {
    val df = SparkEntry.queries("q_dedup_minhash")(spark, d)
    df.collect()
    // bandPairsOf marks each bucket row with (mn, sz) in one window pass;
    // the small-bucket collect phase and the over-cap star phase both read
    // it. The final adaptive plan (the initial one shows no reuse yet)
    // computes the bucket-key exchange once and the second phase reads it
    // as a ReusedExchange — the minhash pipeline (and the documents
    // parquet) is never rebuilt per phase.
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan.toString
      case other => other.toString
    }
    assert(PlanPins.FileScan.r.findAllIn(p).size == 1, p)
    // the ReusedExchange line prints the exchange it reuses
    assert(PlanPins.BucketExchange.findAllIn(p).size == 2, p)
    assert(PlanPins.ReusedBucketExchange.findAllIn(p).size == 1, p)
    assert(!p.contains(PlanPins.AnyJoin), p)
    // pair rows from both phases collapse in ONE final (doc_a, doc_b) agg
    assert(PlanPins.PairExchange.findAllIn(p).size == 1, p)
  }

  test("q_simsearch_ivf: centroid assignment is a partial aggregate, no Window anywhere") {
    // The assignment is the build of the memoized IVF index
    // (VectorQueries.assignCells); the query only probes the pinned index.
    val build = graft.operators.VectorQueries.assignCells(spark, d).queryExecution.executedPlan.toString
    assert(!build.contains(PlanPins.Window), build)
    // A map-side partial max_by before the exchange: struct buffers are not
    // hash-aggregable, so both halves are SortAggregates.
    assert(build.contains("partial_max_by"), build)
    assert("SortAggregate".r.findAllIn(build).size >= 2, build)
    val p = plan("q_simsearch_ivf")
    assert(!p.contains(PlanPins.Window), p)
    // The query reads the pinned index: no aggregate, and no nested-loop
    // join of the embeddings against the centroids.
    assert(p.contains(PlanPins.ExistingRDD), p)
    assert(!p.contains("Aggregate") && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
  }

  test("q_round_robin_cursor: global window is a deliberate metadata-only single task") {
    // A no-partition Window.orderBy funnels all rows through one task. That
    // is the DESIGNED shape here — the input is the per-shard metadata
    // relation (the reference's in-memory region list), never a fact table.
    // This pin exists so the pattern can't silently migrate to a big input:
    // if the query stops using a global window, update the scale comment in
    // MetaQueries too.
    val p = plan("q_round_robin_cursor")
    assert(p.contains(PlanPins.Window), p)
    assert("SinglePartition".r.findAllIn(p).nonEmpty, p)
  }

  test("q_window_rank: full scan feeds the SALTED window, never the bare-priority one") {
    // The scale fix for the 5-value partition key: phase 1's window is
    // keyed (priority, salt) so the fact-table sort fans out 320 ways; the
    // bare-priority window only ever sees phase 1's ≤960 survivors. The
    // tree dump prints parents above children, so the pin is the order:
    // global (bare-priority) window ABOVE salted window ABOVE the scan.
    val p = plan("q_window_rank")
    val salted = "windowspecdefinition\\(o_orderpriority#\\d+, salt#".r
      .findFirstMatchIn(p).map(_.start)
    val bare = "windowspecdefinition\\(o_orderpriority#\\d+, o_totalprice".r
      .findFirstMatchIn(p).map(_.start)
    val scan = "FileScan parquet [^\\n]*orders".r.findFirstMatchIn(p).map(_.start)
    assert(salted.isDefined && bare.isDefined && scan.isDefined, p)
    assert(bare.get < salted.get && salted.get < scan.get, p)
  }

  test("q_simsearch_topk: fused codegen cosine expression is in the plan") {
    val p = plan("q_simsearch_topk")
    assert(p.contains("graft_cosine_f32"), p)
  }

  test("q_simsearch_knn: reads materialized candidate pairs — single leaf, no join") {
    // The round-2 self-union form referenced the LIVE candidate pipeline
    // from two plan branches and executed the whole band/bucket/cosine
    // chain twice; kNN now consumes the per-snapshot pair materialization,
    // so its own plan is one leaf (the checkpointed pairs) + argmax.
    val df = SparkEntry.queries("q_simsearch_knn")(spark, d)
    val plan = df.queryExecution.executedPlan
    assert(plan.collectLeaves().size == 1, plan.toString)
    assert(!plan.toString.contains(PlanPins.AnyJoin), plan.toString)
  }

  test("q_dedup_paragraph: one corpus pass — single scan, no join, no window") {
    val df = SparkEntry.queries("q_dedup_paragraph")(spark, d)
    val plan = df.queryExecution.executedPlan
    assert(plan.collectLeaves().size == 1, plan.toString)
    assert(!plan.toString.contains(PlanPins.AnyJoin) && !plan.toString.contains(PlanPins.Window), plan.toString)
  }

  test("q_text_tfidf: tf materialized once — exactly one scan of documents") {
    // tf is localCheckpoint'ed, so both its consumers (doc-term join and
    // per-term df) read the same computed table; the only parquet scan of
    // documents left in the plan is the 1-row corpus count.
    val df = SparkEntry.queries("q_text_tfidf")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert("FileScan parquet [^\\n]*documents".r.findAllIn(p).size == 1, p)
  }

  test("q_groupingsets_report: one scan, one Expand — never three separate aggregations") {
    val df = SparkEntry.queries("q_groupingsets_report")(spark, d)
    val plan = df.queryExecution.executedPlan
    assert(plan.collectLeaves().size == 1, plan.toString) // orders read ONCE
    assert("Expand".r.findAllIn(plan.toString).nonEmpty, plan.toString)
  }

  test("whole-stage codegen covers the scan+filter+project pipeline of q_scan_project") {
    val s = formatted("q_scan_project")
    assert(s.contains("WholeStageCodegen"), s.take(500))
  }

  test("q_dedup_substring: one corpus scan, map-side combine, top-k not a global sort") {
    val df = SparkEntry.queries("q_dedup_substring")(spark, d)
    val plan = df.queryExecution.executedPlan
    assert(plan.collectLeaves().size == 1, plan.toString) // documents read ONCE
    val p = plan.toString
    assert(!p.contains(PlanPins.AnyJoin) && !p.contains(PlanPins.Window), p)
    assert(p.contains(PlanPins.TakeOrderedAndProject), p) // bounded report, no Sort+Limit
    // partial+final aggregation pair: a doc's internal repeats collapse
    // map-side before the gram shuffle.
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q_dedup_substring_frac: all branches read the materialized gram table, not the corpus") {
    // Three consumers (per-doc totals, dup-gram set, join back) of the
    // 10-gram table: without the checkpoint each branch re-tokenizes the
    // corpus (no CSE across a join's sides — the round-2 TF-IDF lesson).
    val df = SparkEntry.queries("q_dedup_substring_frac")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(!"FileScan parquet [^\\n]*documents".r.findAllIn(p).hasNext, p)
  }

  test("q_join_skew_salted: salted hot path (replicating Generate) + cold path united, no cartesian") {
    val df = SparkEntry.queries("q_join_skew_salted")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains(PlanPins.GenerateExplode), p) // the S-way hot-side replication
    assert(p.contains(PlanPins.Union), p)            // hot and cold paths
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
  }

  test("q_join_attribution: the interval rides the user_id equi-join, never a nested loop") {
    // 100 TB shape: with size-based broadcast off, the plan must be ONE
    // key-partitioned equi-join on user_id carrying the time range as a
    // post-join condition — a time-only theta join would plan as a
    // nested-loop cartesian across users and die at scale.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = SparkEntry.queries("q_join_attribution")(s2, d)
    val p = df.queryExecution.executedPlan.toString
    val equiJoins = "SortMergeJoin".r.findAllIn(p).size +
      "ShuffledHashJoin".r.findAllIn(p).size
    assert(equiJoins == 1, s"expected exactly 1 shuffle equi-join, got $equiJoins\n$p")
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
    // the event_type filters are pushed to the scans, not evaluated post-join
    assert(p.contains("EqualTo(event_type,click)"), p)
    assert(p.contains("EqualTo(event_type,purchase)"), p)
  }

  test("q_report_multijoin: dim broadcast by hint, exactly two shuffle joins at scale, filters pushed") {
    // At sf0.001 every filtered fact fits under the auto-broadcast
    // threshold, so the toy plan is all-BHJ (correct for toy inputs).
    // The property worth pinning is the 100 TB shape: disable size-based
    // broadcast (facts too big to broadcast) and the plan must become the
    // two shuffle joins on c_custkey and o_orderkey, with nation STILL
    // broadcast because the query hints it explicitly — the hint, not
    // fixture luck, is what keeps the dim off the wire.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = SparkEntry.queries("q_report_multijoin")(s2, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains(PlanPins.BroadcastHashJoin), p) // nation: explicit hint
    val shuffleJoins = "SortMergeJoin".r.findAllIn(p).size +
      "ShuffledHashJoin".r.findAllIn(p).size
    assert(shuffleJoins == 2, s"expected exactly 2 shuffle joins, got $shuffleJoins\n$p")
    // selective filters reach the parquet scans before any join
    assert(p.contains("EqualTo(o_orderstatus,F)"), p)
    // (the PushedFilters list renders truncated, so the date bound is
    // asserted on the scan's Filter predicate instead)
    assert(p.contains(">= 1998-01-01"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
  }

  test("q_join_bloom: bloom runtime filter gates the fact scan before the shuffle join") {
    val df = SparkEntry.queries("q_join_bloom")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), p) // InjectRuntimeFilter fired
    assert(p.contains(PlanPins.SortMergeJoin) || p.contains(PlanPins.ShuffledHashJoin), p)
  }

  test("q_text_outliers: moments applied via broadcast join, no window, no corpus shuffle join") {
    val df = SparkEntry.queries("q_text_outliers")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains(PlanPins.BroadcastHashJoin), p) // tiny moments table broadcast
    assert(!p.contains(PlanPins.SortMergeJoin) && !p.contains(PlanPins.Window), p)
  }

  test("q_text_dsir: LMs broadcast onto the token stream — no shuffle join, no cartesian blowup") {
    val df = SparkEntry.queries("q_text_dsir")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains(PlanPins.BroadcastHashJoin), p) // vocab-bounded LM is the build side
    assert(!p.contains(PlanPins.SortMergeJoin) && !p.contains(PlanPins.CartesianProduct), p)
  }

  test("q_simsearch_pq: codebooks and ADC tables broadcast — no shuffle join, no cartesian") {
    val df = SparkEntry.queries("q_simsearch_pq")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains(PlanPins.BroadcastHashJoin), p)
    assert(!p.contains(PlanPins.SortMergeJoin) && !p.contains(PlanPins.CartesianProduct), p)
  }

  test("q_merge_upsert: one key-partitioned join applies the whole delta") {
    val df = SparkEntry.queries("q_merge_upsert")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert("FullOuter".r.findAllIn(p).size == 1, p) // exactly one merge join
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
  }

  test("q_funnel_stages: three chained windows collapse onto ONE sort (same partition+order spec)") {
    val df = SparkEntry.queries("q_funnel_stages")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert("\\bWindow\\b".r.findAllIn(p).size == 3, p) // the three running mins
    assert("\\bSort\\b".r.findAllIn(p).size == 1, p)   // but only one user-keyed sort
  }

  test("q_text_gopher: zero shuffles — the rule battery is one codegen'd projection") {
    val df = SparkEntry.queries("q_text_gopher")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains(PlanPins.HashPartitioning), p) // only the final presentation sort
    assert(!p.contains(PlanPins.AnyJoin) && !p.contains(PlanPins.Window), p)
  }

  test("q_sessionize: window + session rollup share ONE user_id hash exchange") {
    val p = plan("q_sessionize")
    assert("hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains(PlanPins.AnyJoin), p)
  }

  test("q_scd2_history: change-detect, version and close ride one user_id shuffle") {
    val p = plan("q_scd2_history")
    assert("hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q_time_ewma: all eight lags collapse into a single Window on one shuffle") {
    val p = plan("q_time_ewma")
    assert("hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
  }

  test("q_alloc_prorata: at scale the SMJ's l_orderkey partitioning feeds grain groupBy and all windows") {
    // Same discipline as q_report_multijoin: at sf0.001 the orders side
    // auto-broadcasts (fine for toy inputs); the 100 TB property is that
    // with size-based broadcast off, the ONLY hash exchanges are the two
    // SMJ inputs — hash(l_orderkey) clusters every finer key, so the
    // line-grain aggregate and both window specs add none.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = SparkEntry.queries("q_alloc_prorata")(s2, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains(PlanPins.SortMergeJoin) || p.contains(PlanPins.ShuffledHashJoin), p)
    assert("hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("q_text_ppl_buckets: quartile boundaries rejoin by broadcast — token stream never shuffles for scoring") {
    val df = SparkEntry.queries("q_text_ppl_buckets")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains(PlanPins.BroadcastHashJoin), p)
    assert(!p.contains(PlanPins.SortMergeJoin) && !p.contains(PlanPins.Window), p)
  }

  test("q_zonemap_prune: metadata-scale plan — one groupBy on the file key, no join, no window") {
    val p = plan("q_zonemap_prune")
    assert("hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains(PlanPins.AnyJoin) && !p.contains(PlanPins.Window), p)
  }

  test("q_subquery_corr: correlated scalar subqueries fully decorrelate — aggregates + equi joins, no per-row subquery") {
    val df = SparkEntry.queries("q_subquery_corr")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    // Decorrelation must leave NO scalar-subquery execution node: the
    // correlated count/sum become per-part aggregates joined back on
    // l_partkey (part-dim-sized — broadcastable at any fact scale).
    assert(!p.contains(PlanPins.Subquery), p)
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
    // two decorrelated per-part aggregates + the final p_brand rollup,
    // each partial+final
    assert("HashAggregate".r.findAllIn(p).size >= 6, p)
    val joins = "BroadcastHashJoin".r.findAllIn(p).size +
      "SortMergeJoin".r.findAllIn(p).size + "ShuffledHashJoin".r.findAllIn(p).size
    assert(joins >= 3, s"expected >=3 equi joins (2 decorrelated + part dim), got $joins\n$p")
  }

  test("q_dedup_hamming_join: the naive hamming join is rewritten to a banded equi join by the optimizer rule") {
    val df = SparkEntry.queries("q_dedup_hamming_join")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
    // one band posexplode per side (the signature build uses plain explode)
    assert("posexplode".r.findAllIn(p).size == 2, p)
    assert(p.contains("__graft_bval"), p) // the join keys ARE the band columns
  }

  test("q_text_bigram_lp: both LM tables broadcast onto the bigram stream — no shuffle join in scoring") {
    val df = SparkEntry.queries("q_text_bigram_lp")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains(PlanPins.BroadcastHashJoin), p)
    assert(!p.contains(PlanPins.SortMergeJoin) && !p.contains(PlanPins.ShuffledHashJoin), p)
    assert(!p.contains(PlanPins.CartesianProduct), p) // unk is a broadcast NLJ of 1 row, never cartesian
  }

  test("q_join_lateral: LATERAL subquery decorrelates to map-side WindowGroupLimit, no per-row subquery") {
    val df = SparkEntry.queries("q_join_lateral")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    // the per-group LIMIT became a partial (map-side) + final group-limit
    // around ONE exchange — per-key top-k reduces before the shuffle
    assert(p.contains(PlanPins.WindowGroupLimit), p)
    assert(p.contains("Partial"), p)
    assert(!p.contains(PlanPins.Subquery), p)
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
    assert("hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q_unpivot_wide: unpivot is a zero-shuffle Expand over the aggregate — one exchange total") {
    val df = SparkEntry.queries("q_unpivot_wide")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains(PlanPins.Expand), p)
    assert("hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains(PlanPins.AnyJoin) && !p.contains(PlanPins.Window), p)
  }

  test("q_report_custdist: per-customer count rides the join partitioning; only the histogram adds an exchange") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = SparkEntry.queries("q_report_custdist")(s2, d)
    val p = df.queryExecution.executedPlan.toString
    // two SMJ inputs + one c_count rollup = exactly 3 hash exchanges; the
    // c_custkey groupBy must NOT re-shuffle after the join
    assert("hashpartitioning".r.findAllIn(p).size == 3, p)
    assert(p.contains(PlanPins.SortMergeJoin) || p.contains(PlanPins.ShuffledHashJoin), p)
  }

  test("q_report_suppwait: semi and anti compose on the same fact, no cartesian, supplier stays broadcast at scale") {
    // 100 TB shape: with size-based broadcast off, the semi and anti legs
    // become shuffle joins on l_orderkey while the supplier name lookup
    // stays broadcast because the query hints it explicitly.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = SparkEntry.queries("q_report_suppwait")(s2, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains(PlanPins.LeftSemi), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
    assert(p.contains(PlanPins.BroadcastHashJoin), p) // supplier dim: explicit hint
  }

  test("q_report_partvalue: global scalar subqueries aggregate the materialized part-cardinality table — no join, no fact rescans") {
    val df = SparkEntry.queries("q_report_partvalue")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains(PlanPins.Subquery), p)            // the HAVING gate stays a scalar subquery
    assert(!p.contains(PlanPins.AnyJoin), p)               // never decorrelates into a join — it's uncorrelated
    assert(!p.contains(PlanPins.FileScan), p)           // every branch reads the ONE checkpointed grouped table
    assert(p.contains("Scan ExistingRDD"), p)
    // MergeScalarSubqueries folds count(*) and sum(value_c) into ONE
    // aggregation pass (the named_struct mergedValue) — pin it so the two
    // scalars never regress into two passes over the grouped table
    assert(p.contains("mergedValue"), p)
  }

  test("q_join_notin_null: NOT IN on a nullable key plans as a null-aware anti join, not a nested loop") {
    val df = SparkEntry.queries("q_join_notin_null")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    // isNullAware renders as the trailing `true` on the BHJ line
    assert(p.contains("LeftAnti, BuildRight, true"), p)
    assert(!p.contains(PlanPins.BroadcastNestedLoopJoin) && !p.contains(PlanPins.CartesianProduct), p)
  }

  test("q_recursive_chain: closed form is ONE window pass + one aggregation — no UnionLoop, no join") {
    // Round 21: the monotone running sum collapsed the frontier recursion
    // to a single window (row_number + running sum sharing one
    // WindowExec/exchange on o_custkey) and one aggregation —
    // RecursiveChainSpec pins row equality against the recursive-CTE
    // spelling; this pin keeps the plan from regressing to per-level joins.
    val df = SparkEntry.queries("q_recursive_chain")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("UnionLoop"), p)
    assert(!p.contains(PlanPins.AnyJoin), p)
    assert("Window \\[".r.findAllIn(p).size == 1, p)
    // one o_custkey exchange feeds window AND aggregation; the only other
    // exchange is the final rangepartitioning sort
    assert("hashpartitioning\\(o_custkey".r.findAllIn(p).size == 1, p)
  }

  test("q_histogram: one corpus exchange — per-bin combine is map-side, bin spine joins by broadcast") {
    val p = plan("q_histogram")
    assert(p.contains(PlanPins.BroadcastHashJoin), p)
    assert(!p.contains(PlanPins.SortMergeJoin), p)
    // ≤20 distinct bins ⇒ partial aggregation collapses each task's rows
    // before the ONE hash exchange; the shuffle carries bins, not events
    assert(p.contains(PlanPins.PartialCount), p)
    assert("hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q_mix_epochs / q_drift_psi: ONE corpus scan — totals ride windows over the aggregated table") {
    // The grand-total scalar must NOT be a crossJoin(agg) that re-derives
    // the lineage: that plans a second full corpus scan for one number.
    for (n <- Seq("q_mix_epochs", "q_drift_psi")) {
      val leaves = SparkEntry.queries(n)(spark, d)
        .queryExecution.executedPlan.collectLeaves()
      assert(leaves.count(_.toString.contains(PlanPins.FileScan)) == 1, s"$n: $leaves")
    }
  }

  test("q_mix_epochs: corpus collapses through ONE hash exchange; apportionment runs at source cardinality") {
    val p = plan("q_mix_epochs")
    assert("hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains(PlanPins.PartialCount), p)
  }

  test("q_dedup_prefix: pairs expand inside prefix buckets — no cartesian, joins only fetch endpoint token sets") {
    val p = plan("q_dedup_prefix")
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
    // candidate pairs come from in-bucket array expansion (Generate) plus
    // the relational over-cap star, never a doc↔doc self-join; the only
    // joins visible in the final plan are the TWO endpoint ws lookups onto
    // surviving candidates (round 9 — the token → global-df join lives
    // below the materialized per-doc prefix table)
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r.findAllIn(p).size == 2, p)
    assert(p.contains(PlanPins.GenerateExplode), p)
  }

  test("q_join_pointrange: interval lookup decomposes onto the bucket grid — equi join, never a nested loop") {
    val p = plan("q_join_pointrange")
    assert(!p.contains(PlanPins.BroadcastNestedLoopJoin) && !p.contains(PlanPins.CartesianProduct), p)
    // the containment predicate rides the bkt equi key as a residual —
    // which side broadcasts is AQE's call, the join KIND is the invariant
    assert(p.contains("bkt"), p)
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r.findAllIn(p).size == 1, p)
  }

  test("q_subquery_nested: IN + two correlated scalars fully decorrelate — semi join over aggregate joins, no per-row subquery") {
    val df = SparkEntry.queries("q_subquery_nested")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains(PlanPins.LeftSemi), p)
    assert(!p.contains(PlanPins.BroadcastNestedLoopJoin) && !p.contains(PlanPins.CartesianProduct), p)
    assert(!p.toLowerCase.contains("subqueryexec"), p) // nothing executes per-row
    assert("HashAggregate".r.findAllIn(p).size >= 4, p) // both correlated aggregates, partial+final
  }

  test("q_assoc_rules: all branches read the materialized basket table — one corpus scan, stats join broadcast") {
    val df = SparkEntry.queries("q_assoc_rules")(spark, d)
    val plan0 = df.queryExecution.executedPlan
    assert(plan0.collectLeaves().count(_.toString.contains(PlanPins.FileScan)) == 0, plan0.toString)
    val p = plan0.toString
    assert(!p.contains(PlanPins.CartesianProduct), p)
    assert(!p.contains(PlanPins.SortMergeJoin), p)
  }

  test("q_dedup_lsh_sweep: configs re-band the materialized signature table — corpus tokenizes once, no cartesian") {
    val df = SparkEntry.queries("q_dedup_lsh_sweep")(spark, d)
    val plan0 = df.queryExecution.executedPlan
    // ZERO FileScans (round 22): the candidate union is checkpointed (its
    // build computes the signatures once; the second and third banding
    // configs read them through a ReusedExchange), and the exact verify
    // reads the memoized shingle-set table (docShingleSets) instead of
    // re-tokenizing the corpus once per endpoint join
    assert(plan0.collectLeaves().count(_.toString.contains(PlanPins.FileScan)) == 0, plan0.toString)
    val p = plan0.toString
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
  }

  test("q_multimodal_resize: decode + resample is one shuffle-free projection — no join, no window, no aggregate") {
    val df = SparkEntry.queries("q_multimodal_resize")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains(PlanPins.AnyJoin) && !p.contains(PlanPins.Window) && !p.contains("Aggregate"), p)
    assert("hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("q_window_firstlast: first/last/nth share ONE WindowExec on one user_id exchange") {
    val p = plan("q_window_firstlast")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert("Window \\[".r.findAllIn(p).size == 1, p)
  }

  test("q_profile_skew: ONE corpus exchange — bucket counts combine map-side, ranking runs at reducer cardinality") {
    val df = SparkEntry.queries("q_profile_skew")(spark, d)
    val leaves = df.queryExecution.executedPlan.collectLeaves()
    assert(leaves.count(_.toString.contains(PlanPins.FileScan)) == 1, leaves.mkString("\n"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains(PlanPins.PartialCount), p)
    assert(!p.contains(PlanPins.SortMergeJoin), p)
  }

  test("q_time_twap: interval weights and the aggregate share ONE user_id exchange") {
    val p = plan("q_time_twap")
    // lead() partitions on user_id; the groupBy(user_id) rides the same
    // hash partitioning — a second exchange here would be a regression
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert("WindowExec|Window ".r.findAllIn(p).size >= 1, p)
  }

  test("q_join_interval_rule: the naive BETWEEN join is rewritten to the bucket-grid equi join by the optimizer rule") {
    val p = plan("q_join_interval_rule")
    assert(p.contains("__graft_bkt"), p)
    assert(!p.contains(PlanPins.CartesianProduct), p)
    // Two-path width guard: the bulk rides the bucket equi join; a nested
    // loop may appear ONLY as the wide-interval fallback branch, i.e. fed
    // by the span>=maxBuckets filter (empty for this fixture's <=300-unit
    // intervals — the branch exists for epoch-scale ranges, and AQE's
    // empty-relation propagation elides it at runtime).
    val bnljs = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnljs <= 1, p)
    if (bnljs == 1) assert(p.contains(">= 4096"), p)
  }

  test("q_text_bm25: one tokenization — scoring joins the broadcast probe, top-20 via TakeOrdered") {
    val df = SparkEntry.queries("q_text_bm25")(spark, d)
    val plan0 = df.queryExecution.executedPlan
    // all branches read the materialized tf table, never the corpus again
    assert(plan0.collectLeaves().count(_.toString.contains(PlanPins.FileScan)) == 0, plan0.toString)
    val p = plan0.toString
    assert(p.contains(PlanPins.TakeOrderedAndProject), p)
    assert(!p.contains(PlanPins.SortMergeJoin), p)
  }

  test("q_index_postings: champion lists merge map-side with bounded state — no corpus re-scan") {
    val df = SparkEntry.queries("q_index_postings")(spark, d)
    val plan0 = df.queryExecution.executedPlan
    assert(plan0.collectLeaves().count(_.toString.contains(PlanPins.FileScan)) == 0, plan0.toString)
    val p = plan0.toString
    // partial_topkaggregator = the k-entry buffer combining BEFORE the
    // term shuffle; a collect_list here would ship every posting
    assert(p.contains("partial_topkaggregator"), p)
    assert(!p.contains("collect_list"), p)
  }

  test("q_agg_sketch_setops: segments, union and sketches from ONE corpus pass — single scan, no join") {
    val df = SparkEntry.queries("q_agg_sketch_setops")(spark, d)
    val plan0 = df.queryExecution.executedPlan
    assert(plan0.collectLeaves().size == 1, plan0.toString)
    val p = plan0.toString
    assert(p.contains(PlanPins.Expand), p) // multi-distinct runs as one Expand pass
    assert(!p.contains(PlanPins.AnyJoin), p)
  }

  test("q_agg_incremental: only the delta branch reads the raw table — stored aggregate merges via one outer join") {
    val df = SparkEntry.queries("q_agg_incremental")(spark, d)
    val leaves = df.queryExecution.executedPlan.collectLeaves()
    assert(leaves.count(_.toString.contains(PlanPins.FileScan)) == 1, leaves.mkString("\n"))
    assert(leaves.count(_.toString.contains("ExistingRDD")) == 1, leaves.mkString("\n"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("FullOuter"), p)
  }

  test("q_graph_clustercoef: degrees and triangles both ride the memoized edge list — no corpus re-scan, no cartesian") {
    val df = SparkEntry.queries("q_graph_clustercoef")(spark, d)
    val plan0 = df.queryExecution.executedPlan
    assert(plan0.collectLeaves().count(_.toString.contains(PlanPins.FileScan)) == 0, plan0.toString)
    val p = plan0.toString
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
  }

  test("q_histogram_eqdepth: boundary table broadcasts back — fact side never shuffles to classify, no window") {
    val p = plan("q_histogram_eqdepth")
    assert(p.contains(PlanPins.BroadcastHashJoin), p)
    assert(!p.contains(PlanPins.SortMergeJoin), p)
    assert(!p.contains(PlanPins.Window), p)
  }

  test("q_sample_fixedk: bottom-k-by-hash merges map-side with bounded state — no per-lang sort or window") {
    val df = SparkEntry.queries("q_sample_fixedk")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_topkaggregator"), p)
    assert(!p.contains(PlanPins.Window), p)
  }

  test("q_multimodal_jpeg: encode→decode→contract is one shuffle-free map stage before the output sort") {
    val p = plan("q_multimodal_jpeg")
    // per-partition codec batch (typed mapPartitions), no relational join,
    // and the ONLY exchange is the final orderBy's range partitioning —
    // decode stats never leave the partition that produced them
    assert(p.contains("MapPartitions"), p)
    assert(!p.contains(PlanPins.AnyJoin), p)
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains(PlanPins.RangePartitioning), p)
  }

  test("q_dedup_phash_png: craft→decode→hash→band chain stays joinless until the band-bucket expansion") {
    val p = plan("q_dedup_phash_png")
    // candidates expand via Generate inside buckets, never a doc↔doc join
    assert(p.contains(PlanPins.GenerateExplode), p)
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
    assert(!"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r.findAllIn(p).hasNext, p)
  }

  test("q_text_editdist: final pass scans the checkpointed pair table — no join, no corpus re-scan, top-10 via TakeOrdered") {
    val df = SparkEntry.queries("q_text_editdist")(spark, d)
    val p = df.queryExecution.executedPlan.toString
    // the adaptive passes paid the joins once into the localCheckpoint; the
    // returned plan must be filter+project+TakeOrdered over that RDD only
    assert(p.contains(PlanPins.TakeOrderedAndProject), p)
    assert(!p.contains(PlanPins.AnyJoin), p)
    val leaves = df.queryExecution.executedPlan.collectLeaves()
    assert(leaves.count(_.toString.contains(PlanPins.FileScan)) == 0, leaves.mkString("\n"))
  }

  test("q_graph_triangles: wedges close via LeftSemi on the memoized edge list — no cartesian, no corpus re-scan") {
    val p = plan("q_graph_triangles")
    assert(p.contains(PlanPins.LeftSemi), p)
    assert(!p.contains(PlanPins.CartesianProduct) && !p.contains(PlanPins.BroadcastNestedLoopJoin), p)
    // all three join inputs are the checkpointed candidate-edge RDD — the
    // document corpus is never re-tokenized for the wedge or closure pass
    val leaves = SparkEntry.queries("q_graph_triangles")(spark, d)
      .queryExecution.executedPlan.collectLeaves()
    assert(leaves.count(_.toString.contains(PlanPins.FileScan)) == 0, leaves.mkString("\n"))
  }
}
