package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** The reference's own dataflow, generalized (SURVEY.md §2.1-2.8, §3.3):
  * enumerate → filter compactable → aggregate/report → rank/cursor → verify
  * change. The reference runs it imperatively over HBase store-file metadata
  * (QHBaseCompact.java:117-270); here each step is a declarative Spark plan
  * over the test star schema, so Catalyst handles pushdown/pruning/partial
  * aggregation and the same plan scales from 6k rows to 100 TB.
  */
object MetaQueries extends QueryPack {

  val queries: Map[String, Q] = Map(
    // S1: scan + project + filter; predicate and column pruning reach the
    // parquet reader (PushedFilters / ReadSchema in .explain).
    "q_scan_project" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // S2: range-shard enumeration (region analog, QHBaseCompact.java:139):
    // deterministic range partitioning via (min,max) bounds — the arithmetic
    // mirror of repartitionByRange, so the shard map is oracle-able.
    "q_scan_partitioned" -> ((s, d) => {
      val o      = Tables.orders(s, d)
      val bounds = o.agg(min(col("o_orderkey")).as("lo"), max(col("o_orderkey")).as("hi"))
      o.crossJoin(broadcast(bounds))
        .withColumn(
          "shard",
          floor((col("o_orderkey") - col("lo")) * 8.0 / (col("hi") - col("lo") + 1)).cast("long"))
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).as("n_rows"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy(col("shard"))
    }),

    // S2b: partition-pruned scan — reads the day-partitioned events layout
    // (Hive-style day=YYYY-MM-DD dirs, built once per source snapshot by
    // [[graft.sources.PartitionedLayout]]) with a 3-day filter that prunes
    // 27 of 30 partitions at the scan (PartitionFilters, pinned in
    // PartitionPruningSpec). Sums run in DECIMAL for order-exactness.
    "q_scan_pruned" -> ((s, d) => {
      val dir = graft.sources.PartitionedLayout.eventsByDay(s, d)
      s.read.parquet(dir)
        .filter(col("day").between(lit("2024-01-05"), lit("2024-01-07")))
        .groupBy(col("day"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,6)")), 2).cast("double").as("total"))
        .select(col("day").cast("string").as("day"), col("event_type"), col("n"), col("total"))
        .orderBy(col("day"), col("event_type"))
    }),

    // S2c: ZONE-MAP pruning planner — the data-skipping decision table over
    // a time-partitioned layout: per monthly "file", rowcount + min/max
    // shipdate (the zone map a parquet footer carries), classified against
    // a ship-window predicate as pruned / full / partial. This is the
    // metadata pass a scan planner runs BEFORE touching data: at 100 TB the
    // zone-map table is file-count-sized (metadata scale, one groupBy on
    // the high-cardinality file key), and only 'partial' files need their
    // row-level filter — 'pruned' files are never opened, 'full' files
    // skip the filter entirely. Mid-month bounds on purpose so all three
    // classes appear. Pairs with [[graft.sources.ZOrder]], which is what
    // makes zone maps tight on multi-column predicates.
    "q_zonemap_prune" -> ((s, d) => {
      val lo = lit(858470400000000L)  // 1997-03-15 epoch-µs
      val hi = lit(905385600000000L)  // 1998-09-10 epoch-µs
      Tables.lineitem(s, d)
        .select(
          unix_micros(date_trunc("month", col("l_shipdate")).cast("timestamp"))
            .as("file_id"),
          unix_micros(col("l_shipdate").cast("timestamp")).as("sus"))
        .groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("sus")).as("mn_us"), max(col("sus")).as("mx_us"))
        .withColumn("status",
          when(col("mx_us") < lo || col("mn_us") > hi, lit("pruned"))
            .when(col("mn_us") >= lo && col("mx_us") <= hi, lit("full"))
            .otherwise(lit("partial")))
        .orderBy(col("file_id"))
    }),

    // S7: the Z-ORDER KEY itself under the oracle — Morton interleave of
    // (p_partkey, p_size) low 16 bits via [[graft.sources.ZOrder.zvalue]],
    // the exact integer the S7 layout range-partitions and sorts files by
    // (ZOrderSpec proves the pruning win; this pins the curve's VALUES
    // against independent bit arithmetic in DuckDB). Pure codegen'd
    // shifts/masks, zero shuffles before the output sort — at 100 TB this
    // is the projection the OPTIMIZE write prepends, costing one map pass.
    "q_zorder_key" -> ((s, d) => {
      Tables.part(s, d)
        .select(col("p_partkey"), col("p_size").cast("long").as("p_size"),
          graft.sources.ZOrder.zvalue(col("p_partkey"), col("p_size"), 16).as("zval"))
        .orderBy(col("p_partkey"))
    }),

    // F1+A1: stores with >1 file → (count, Σsize) per store
    // (QHBaseCompact.java:151-156); customer=region, orders=files analog.
    "q_filter_compactable" -> ((s, d) => {
      Compaction
        .compactableStores(Tables.orders(s, d), Seq(col("o_custkey")),
          col("o_totalprice").cast("decimal(18,6)"))
        .withColumn("total_size", round(col("total_size"), 2).cast("double"))
        .orderBy(col("o_custkey"))
    }),

    // F1b: compaction OUTPUT PLAN — the file-level half of the S5 sink's
    // size planning ([[Compactor.planFileCount]]): per store, files (orders
    // rows under the same metadata mapping as q_filter_compactable) fill
    // output bins sequentially in key order — a file lands in bin k when
    // the bytes before it occupy k whole target units. Sizes ride exact
    // integer cents (decimal(18,2)·100 — never a double product), so the
    // running sum and the bin division are bit-stable at any partition
    // count. One shuffle: the store-keyed window and the (store, bin)
    // groupBy share the o_custkey partitioning.
    "q_compact_plan" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("sz"))
        .withColumn("before", coalesce(sum(col("sz")).over(w), lit(0L)))
        .withColumn("bin", expr("before div 50000000").cast("long"))
        .groupBy(col("o_custkey"), col("bin"))
        .agg(count(lit(1)).as("n_files"), sum(col("sz")).as("bin_c"))
        .orderBy(col("o_custkey"), col("bin"))
    }),

    // F2: HH:mm:ss admission window with the reference's *string-compare*
    // semantics (QHBaseCompact.java:48-60; window conf/config.properties:5-6).
    "q_time_window_gate" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("hms", date_format(col("ts"), "HH:mm:ss"))
        .filter(col("hms").between("08:30:00", "12:30:00"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("hms"))
        .orderBy(col("event_id"))
    }),

    // F3 + C2: the documented-but-dead size-threshold routing
    // (QHBaseCompact.java:97-98, README.md:23-24) + the reference's 40 s/GB
    // wait heuristic (QHBaseCompact.java:170) as a per-class report.
    "q_size_threshold" -> ((s, d) => {
      Tables.orders(s, d)
        .withColumn("size_class", Compaction.classifyBySize(col("o_totalprice"), 50000L, 200000L))
        .groupBy(col("size_class"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,6)")), 2).cast("double").as("total"),
          ceil(sum(col("o_totalprice").cast("decimal(18,6)")).cast("double")
            / 1073741824.0 * 40000).cast("long").as("est_wait_ms"))
        .orderBy(col("size_class"))
    }),

    // A2: max + argmax with deterministic tiebreak (QHBaseCompact.java:153-161):
    // single-shuffle max_by(struct) instead of a window sort.
    "q_agg_max_argmax" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          max(col("o_totalprice")).as("max_price"),
          max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey"))).as("max_order"))
        .orderBy(col("o_orderpriority"))
    }),

    // A1 (pure form): Σ/count per group, partial+final hash aggregation.
    "q_agg_sum_by_group" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity").cast("decimal(18,6)")), 2).cast("double").as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,6)")), 2).cast("double").as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // A3: per-store subtotal + grand total in one pass (grouping sets),
    // the reference's getTableDetails report (QHBaseCompact.java:238-255).
    "q_rollup_report" -> ((s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,6)")), 2).cast("double").as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"),
          col("sum_qty"))
        .orderBy(col("returnflag"), col("linestatus"))
    }),

    // A4: exact distinct (expand+two-phase under the hood).
    "q_agg_distinct" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // A4 approx variant: HLL++ sketch distinct — at 100 TB the exact
    // expand+two-phase distinct shuffles every (group, user) pair; the sketch
    // is one pass with fixed-size state. The raw estimate is engine-specific
    // (Spark HLL++ vs DuckDB's sketch will not hash-match), so the ORACLED
    // contract is the bounded-error check itself: each side emits the exact
    // count and whether ITS OWN sketch lands within the ±5% documented
    // tolerance (rsd 0.01 → ~1% expected error; 5% is a generous envelope a
    // healthy sketch never leaves at this cardinality). Values hash-match
    // because both engines agree on the exact count and both sketches are in
    // tolerance — a broken sketch flips within_tol and fails the gate. The
    // exact count is the HARNESS yardstick only — production emits just the
    // one-pass sketch; pairing it with the exact form is what makes the
    // sketch's error testable.
    "q_agg_approx_distinct" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.01).as("approx"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx") - col("exact_users")) <= col("exact_users") * lit(0.05))
            .cast("long").as("within_tol"))
        .orderBy(col("event_type"))
    }),

    // A4b: heavy hitters under a COUNT-MIN SKETCH bounded-error contract —
    // the third classic sketch beside HLL (q_agg_approx_distinct) and the
    // quantile sketch (q_agg_approx_percentile). The sketch is built in ONE
    // streaming pass (fixed depth×width counter grid, merged commutatively
    // across partitions — the 1000-executor shape; seed pinned so runs are
    // reproducible), and CMS's one-sided guarantee is the contract: for any
    // key, exact ≤ estimate ≤ exact + ε·N. The exact top-20 branch is the
    // HARNESS yardstick (production reports estimates alone); DuckDB has no
    // CMS, so its oracle side supplies the exact counts and the contract
    // column — the gate fails iff Spark's sketch leaves its bound. The
    // 20-row probe runs as a closure over the broadcast-sized sketch; the
    // corpus itself is never collected.
    "q_agg_heavyhitters" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_partkey"))
      val cms = li.stat.countMinSketch("l_partkey", 0.0005, 0.99, 42)
      val slack = math.ceil(0.0005 * cms.totalCount).toLong
      val est = udf((k: Long) => cms.estimateCount(k))
      li.groupBy(col("l_partkey")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("l_partkey")).limit(20)
        .withColumn("est", est(col("l_partkey")))
        .select(col("l_partkey"), col("exact_n"),
          (col("est") >= col("exact_n") && col("est") <= col("exact_n") + lit(slack))
            .cast("long").as("within_tol"))
        .orderBy(col("exact_n").desc, col("l_partkey"))
    }),

    // A4c: SKETCH SET ALGEBRA — distinct-count set operations over MERGED
    // HLL sketches (DataSketches HllSketch, the mergeable-summary design of
    // Agarwal et al. "Mergeable Summaries"). The 100 TB story: per-segment
    // sketches are built independently in ONE corpus pass (per day / per
    // partition in production), then |A∪B| comes from hll_union of the two
    // sketch binaries and |A∩B| from inclusion–exclusion — NO rescan of the
    // raw data to answer a new set combination, which is exactly what a
    // sketch store buys over count(DISTINCT). Bounded-error contract (the
    // q_agg_approx_distinct closure): each engine checks its own estimates
    // against its own exact values — segments and union within ±5%
    // (lgK=12 rse ≈ 1.6%), the derived intersection within the compounded
    // ±10% of the union size + 8 absolute (three estimate errors stack
    // and the fixture intersection is small). Exact columns hash-match
    // across engines; a flag flips to 0 iff a sketch leaves its envelope.
    "q_agg_sketch_setops" -> ((s, d) => {
      Tables.events(s, d)
        .agg(
          countDistinct(when(col("event_type") === "click", col("user_id"))).as("exact_a"),
          countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("exact_b"),
          countDistinct(when(col("event_type").isin("click", "purchase"), col("user_id")))
            .as("exact_u"),
          hll_sketch_agg(when(col("event_type") === "click", col("user_id"))).as("ska"),
          hll_sketch_agg(when(col("event_type") === "purchase", col("user_id"))).as("skb"))
        .select(col("exact_a"), col("exact_b"), col("exact_u"),
          (col("exact_a") + col("exact_b") - col("exact_u")).as("exact_i"),
          hll_sketch_estimate(col("ska")).as("est_a"),
          hll_sketch_estimate(col("skb")).as("est_b"),
          hll_sketch_estimate(hll_union(col("ska"), col("skb"))).as("est_u"))
        .select(col("exact_a"), col("exact_b"), col("exact_u"), col("exact_i"),
          (abs(col("est_a") - col("exact_a")) <= col("exact_a") * lit(0.05))
            .cast("long").as("ok_a"),
          (abs(col("est_b") - col("exact_b")) <= col("exact_b") * lit(0.05))
            .cast("long").as("ok_b"),
          (abs(col("est_u") - col("exact_u")) <= col("exact_u") * lit(0.05))
            .cast("long").as("ok_u"),
          (abs((col("est_a") + col("est_b") - col("est_u")) - col("exact_i"))
            <= col("exact_u") * lit(0.10) + lit(8)).cast("long").as("ok_i"))
    }),

    // A5 flagship: major-compaction LWW semantics (QHBaseCompact.java:167).
    "q_compact_lww" -> ((s, d) => {
      Compaction
        .lastWriteWins(Tables.events(s, d), Seq("user_id", "event_type"), Seq("ts", "event_id"))
        .select(
          col("user_id"),
          col("event_type"),
          col("event_id").as("last_event_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("value").as("last_value"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // T1: top-k (generalizes the reference's k=1 max-file scan, :155-161);
    // TakeOrderedAndProject — no global sort materialized.
    "q_topk_files" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    }),

    // T2: rolling cursor with wrap-around (QHBaseCompact.java:133,140-143,193):
    // tick = in how many rounds this shard gets compacted, cursor at 7.
    //
    // SCALE CONSTRAINT: the no-partition Window.orderBy below funnels every
    // row through ONE task — acceptable ONLY because the input is the shard
    // *metadata* relation (one row per region, mirroring the reference's
    // in-memory region list), which is small by definition at any data
    // scale. Never reuse this pattern on a fact table: assign global
    // ordinals there with zipWithIndex-style partition offsets or a
    // range-partitioned sort. PlanSpec pins the global-window plan shape so
    // this constraint stays visible.
    "q_round_robin_cursor" -> ((s, d) => {
      val n  = Tables.nation(s, d)
      val cn = n.agg(count(lit(1)).as("n_total"))
      n.select(col("n_nationkey"))
        .withColumn("rn", row_number().over(Window.orderBy(col("n_nationkey"))).cast("long"))
        .crossJoin(broadcast(cn))
        .withColumn("tick", pmod(col("rn") - 1 - 7 + col("n_total"), col("n_total")))
        .select(col("n_nationkey"), col("rn"), col("tick"))
        .orderBy(col("n_nationkey"))
    }),

    // C1: snapshot change detection — the reference's compaction-done test
    // ("largest file name differs", QHBaseCompact.java:171-184) over two
    // snapshots of the keyed relation.
    // Round 21 (guide §2.4): the before-cutoff rows are a SUBSET of the
    // after rows, so both snapshots' argmaxes compute in ONE aggregation —
    // the before side as a conditional max_by (null ordering rows are
    // ignored, so a key with no pre-cutoff row reads null exactly like the
    // old left_outer join's miss). One scan + one (user_id, event_type)
    // exchange replace two LWW passes + a join; same max_by((ts, event_id))
    // tie-break as Compaction.lastWriteWins, identical rows (oracle
    // unchanged).
    // NULL-KEY CAVEAT (r21 ADVICE): the identical-rows claim assumes
    // non-null (user_id, event_type) — the old left_outer join never
    // matched a NULL key (null ≠ null under EqualTo), so such groups always
    // surfaced with before_id = null ('changed'), while this single groupBy
    // computes before_id INSIDE the null-key group and can suppress the row
    // when before_id = after_id. The events fixture carries no null keys
    // (oracle-proven at every SF); a nullable-key source needs the join
    // spelling or a null-key pre-filter.
    "q_change_detect" -> ((s, d) => {
      val cutoff = lit("2024-01-15").cast("timestamp")
      val ord = struct(col("ts"), col("event_id"))
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(
          max_by(when(col("ts") < cutoff, col("event_id")),
            when(col("ts") < cutoff, ord)).as("before_id"),
          max_by(col("event_id"), ord).as("after_id"))
        .filter(col("before_id").isNull || col("before_id") =!= col("after_id"))
        .select(col("user_id"), col("event_type"), col("before_id"), col("after_id"))
        .orderBy(col("user_id"), col("event_type"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_scan_partitioned" ->
      """WITH b AS (SELECT min(o_orderkey) lo, max(o_orderkey) hi FROM orders)
        |SELECT CAST(floor((o_orderkey - lo) * 8.0 / (hi - lo + 1)) AS BIGINT) AS shard,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders, b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_scan_pruned" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN '2024-01-05' AND '2024-01-07'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_zonemap_prune" ->
      """WITH f AS (SELECT epoch_us(date_trunc('month', l_shipdate)) AS file_id,
        |                  epoch_us(l_shipdate) AS sus
        |           FROM lineitem),
        |z AS (SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
        |             min(sus) AS mn_us, max(sus) AS mx_us
        |      FROM f GROUP BY 1)
        |SELECT file_id, n_rows, mn_us, mx_us,
        |       CASE WHEN mx_us < 858470400000000 OR mn_us > 905385600000000 THEN 'pruned'
        |            WHEN mn_us >= 858470400000000 AND mx_us <= 905385600000000 THEN 'full'
        |            ELSE 'partial' END AS status
        |FROM z ORDER BY file_id""".stripMargin,
    // Independent bit arithmetic: bit i of each key lands at positions 2i
    // (partkey) and 2i+1 (size); disjoint bit positions make sum == OR.
    "q_zorder_key" ->
      """SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |       CAST(sum(((p_partkey >> CAST(r.i AS INT)) & 1) << CAST(2*r.i AS INT))
        |            + sum(((CAST(p_size AS BIGINT) >> CAST(r.i AS INT)) & 1) << CAST(2*r.i+1 AS INT))
        |            AS BIGINT) AS zval
        |FROM part, LATERAL (SELECT unnest(range(0, 16)) AS i) r
        |GROUP BY p_partkey, p_size
        |ORDER BY p_partkey""".stripMargin,
    "q_filter_compactable" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_size
        |FROM orders GROUP BY o_custkey HAVING count(*) > 1
        |ORDER BY o_custkey""".stripMargin,
    // Integer-cents sizes and floor division both sides (operands
    // non-negative, so DuckDB // equals Spark div).
    "q_compact_plan" ->
      """WITH f AS (SELECT o_custkey, o_orderkey,
        |                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS sz
        |           FROM orders),
        |c AS (SELECT o_custkey, sz,
        |             coalesce(sum(sz) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |                      0) AS bfr
        |      FROM f)
        |SELECT o_custkey, CAST(bfr // 50000000 AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n_files, CAST(sum(sz) AS BIGINT) AS bin_c
        |FROM c GROUP BY 1, 2 ORDER BY o_custkey, bin""".stripMargin,
    "q_time_window_gate" ->
      """SELECT event_id, user_id, event_type, strftime(ts, '%H:%M:%S') AS hms
        |FROM events
        |WHERE strftime(ts, '%H:%M:%S') BETWEEN '08:30:00' AND '12:30:00'
        |ORDER BY event_id""".stripMargin,
    "q_size_threshold" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'direct'
        |            WHEN o_totalprice > 200000 THEN 'skip'
        |            ELSE 'scheduled' END AS size_class,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total,
        |       CAST(ceil(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |                 / 1073741824.0 * 40000) AS BIGINT) AS est_wait_ms
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_max_argmax" ->
      """SELECT o_orderpriority, o_totalprice AS max_price, o_orderkey AS max_order
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_orderpriority
        |                           ORDER BY o_totalprice DESC, o_orderkey DESC) = 1
        |ORDER BY o_orderpriority""".stripMargin,
    "q_agg_sum_by_group" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_price,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_rollup_report" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q_agg_distinct" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // DuckDB checks ITS OWN sketch against the same ±5% envelope — the
    // bounded-error contract both engines must satisfy; raw estimates are
    // never compared (engine-specific sketches).
    "q_agg_approx_distinct" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       CAST(CASE WHEN abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
        |                      <= count(DISTINCT user_id) * 0.05
        |                 THEN 1 ELSE 0 END AS BIGINT) AS within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // DuckDB has no count-min sketch: the oracle supplies the exact top-20
    // and the contract literal — hash-equality then asserts Spark's sketch
    // stayed inside its ε·N bound (within_tol flips to 0 on violation).
    "q_agg_heavyhitters" ->
      """WITH g AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact_n
        |           FROM lineitem GROUP BY l_partkey)
        |SELECT l_partkey, exact_n, CAST(1 AS BIGINT) AS within_tol
        |FROM g ORDER BY exact_n DESC, l_partkey LIMIT 20""".stripMargin,
    // DuckDB has no mergeable sketch type: its side runs approx_count_distinct
    // per set expression and checks the same envelopes against its own exacts.
    "q_agg_sketch_setops" ->
      """WITH g AS (SELECT
        |    CAST(count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS BIGINT) AS exact_a,
        |    CAST(count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT) AS exact_b,
        |    CAST(count(DISTINCT CASE WHEN event_type IN ('click','purchase') THEN user_id END) AS BIGINT) AS exact_u,
        |    CAST(approx_count_distinct(CASE WHEN event_type = 'click' THEN user_id END) AS BIGINT) AS est_a,
        |    CAST(approx_count_distinct(CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT) AS est_b,
        |    CAST(approx_count_distinct(CASE WHEN event_type IN ('click','purchase') THEN user_id END) AS BIGINT) AS est_u
        |  FROM events)
        |SELECT exact_a, exact_b, exact_u, exact_a + exact_b - exact_u AS exact_i,
        |       CAST(abs(est_a - exact_a) <= exact_a * 0.05 AS BIGINT) AS ok_a,
        |       CAST(abs(est_b - exact_b) <= exact_b * 0.05 AS BIGINT) AS ok_b,
        |       CAST(abs(est_u - exact_u) <= exact_u * 0.05 AS BIGINT) AS ok_u,
        |       CAST(abs((est_a + est_b - est_u) - (exact_a + exact_b - exact_u))
        |            <= exact_u * 0.10 + 8 AS BIGINT) AS ok_i
        |FROM g""".stripMargin,
    "q_compact_lww" ->
      """SELECT user_id, event_type, event_id AS last_event_id,
        |       epoch_us(ts) AS ts_us, value AS last_value
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "q_topk_files" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "q_round_robin_cursor" ->
      """WITH r AS (SELECT n_nationkey,
        |                  row_number() OVER (ORDER BY n_nationkey) AS rn
        |           FROM nation),
        |     c AS (SELECT count(*) AS n_total FROM nation)
        |SELECT n_nationkey, CAST(rn AS BIGINT) AS rn,
        |       CAST((rn - 1 - 7 + n_total) % n_total AS BIGINT) AS tick
        |FROM r, c ORDER BY n_nationkey""".stripMargin,
    "q_change_detect" ->
      """WITH b AS (SELECT user_id, event_type, event_id AS before_id FROM events
        |           WHERE ts < TIMESTAMP '2024-01-15'
        |           QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |                                      ORDER BY ts DESC, event_id DESC) = 1),
        |     a AS (SELECT user_id, event_type, event_id AS after_id FROM events
        |           QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |                                      ORDER BY ts DESC, event_id DESC) = 1)
        |SELECT a.user_id, a.event_type, b.before_id, a.after_id
        |FROM a LEFT JOIN b USING (user_id, event_type)
        |WHERE b.before_id IS NULL OR b.before_id <> a.after_id
        |ORDER BY a.user_id, a.event_type""".stripMargin
  )
}
