package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Memo.PinOps

/** Join coverage (SURVEY.md §2.3). The reference performs no joins — its only
  * correlation is the regions × families nested loop (QHBaseCompact.java:144-146)
  * — so these are category coverage on the star schema, each shaped for scale:
  * dims broadcast explicitly, fact⋈fact left to sort-merge, the theta join
  * anchored on an equi key so it never degenerates to a full BNLJ, and the
  * as-of join expressed as a single-shuffle window rather than a quadratic
  * self-join.
  *
  * Oracle discipline: money sums aggregate in decimal(18,6) then cast back to
  * double — double summation order differs between Spark and DuckDB and can
  * flip a 2-dp rounding once groups get large.
  */
object JoinQueries extends QueryPack {

  val queries: Map[String, Q] = Map(
    // J1: small dims broadcast — no shuffle of the fact side for the join.
    "q_join_broadcast" -> ((s, d) => {
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal").cast("decimal(18,6)")), 2).cast("double").as("total_bal"))
        .orderBy(col("r_name"))
    }),

    // J2: fact⋈fact equi join — sort-merge at scale (both sides shuffle on
    // l_orderkey/o_orderkey); decimal aggregation for cross-engine determinism.
    "q_join_sortmerge" -> ((s, d) => {
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)")), 2)
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority"))
    }),

    // J3: left semi — customers that have orders; no payload from the right.
    "q_join_semi" -> ((s, d) => {
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // J4: left anti — the reference's "skip" set analog (QHBaseCompact.java:186-190):
    // orders with no lineitems (non-empty at every sf, unlike customer∖orders).
    "q_join_anti" -> ((s, d) => {
      Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // J5: left outer with null-fill — every customer, 0-filled spend.
    "q_join_outer" -> ((s, d) => {
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice").cast("decimal(18,4)")), lit(0)), 2)
            .cast("double").as("spent"))
        .orderBy(col("c_custkey"))
    }),

    // J6: theta/range join anchored on an equi key (nation) so the range
    // predicate runs inside a hash/SMJ match, not a BNLJ over the cross
    // product: customers whose balance is within ±500 of a same-nation
    // supplier's (band sized to be non-empty even at sf0.001's 10 suppliers).
    "q_join_theta_range" -> ((s, d) => {
      val sup = Tables.supplier(s, d)
      val cust = Tables.customer(s, d)
      sup.join(
          cust,
          col("s_nationkey") === col("c_nationkey") &&
            col("c_acctbal").between(col("s_acctbal") - 500, col("s_acctbal") + 500))
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_near"))
        .orderBy(col("s_suppkey"))
    }),

    // J6b: price-band theta join against the part dim (SURVEY.md §2.3 J6's
    // original spec — "priced within a part's price band"): lineitems whose
    // unit price lands within ±5% of their part's retail price. The band
    // predicate rides the l_partkey = p_partkey equi key, so this is a
    // broadcast hash join with a residual filter — never a BNLJ — and the
    // part dim stays broadcastable at any fact-table scale. Sum runs in
    // DECIMAL so the group totals are accumulation-order-exact.
    "q_join_priceband" -> ((s, d) => {
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey") &&
            (col("l_extendedprice") / col("l_quantity"))
              .between(col("p_retailprice") * 0.95, col("p_retailprice") * 1.05))
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n_in_band"),
          round(sum(col("p_retailprice").cast("decimal(18,4)")), 2)
            .cast("double").as("sum_price"),
          round(min(col("l_extendedprice") / col("l_quantity")), 2).as("min_unit"))
        .orderBy(col("p_brand"))
    }),

    // J7: as-of join — for each purchase, the latest view at-or-before it per
    // user. Single shuffle on user_id via last(_, ignoreNulls) over the
    // type-tagged union, instead of a per-user quadratic self-join; at 100 TB
    // the window sort is the only cost and there is no row explosion.
    "q_join_asof" -> ((s, d) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .filter(col("event_type").isin("view", "purchase"))
        .withColumn("view_id", when(col("event_type") === "view", col("event_id")))
        .withColumn("last_view_id", last(col("view_id"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(
          col("event_id"),
          col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("last_view_id"))
        .orderBy(col("event_id"))
    }),

    // J8: skew-mitigated fact⋈fact join — the two-path "skew hint" shape
    // for power-law keys (one crawl domain owning 20% of rows melts one
    // reducer in a plain shuffle join; AQE's skew split handles moderate
    // cases, deliberate salting is the guaranteed form). Keys above a
    // frequency threshold take the salted path: their fact rows get a
    // deterministic salt in [0, S), the other side's hot rows replicate S×,
    // and the join keys on (key, salt) — S-way parallelism per hot key.
    // Cold keys take the plain sort-merge path; union, then aggregate.
    // Result is row-identical to the plain join, so the oracle IS the plain
    // join — and that identity holds for ANY hot-key set (every key lands
    // on exactly one path, both paths compute the same join), which is
    // what lets hot-key DETECTION be approximate without touching results.
    // Detection counts every key exactly (threshold 8 rows, see
    // skewHotKeys); SkewJoinSpec proves the split row-identical to the
    // plain join on fixtures.
    "q_join_skew_salted" -> ((s, d) => skewSaltedJoin(s, d)),

    // J9: runtime bloom-filter pushdown — the selective-dimension shuffle
    // join where Spark's InjectRuntimeFilter builds a bloom filter from the
    // filtered orders side and pushes BloomFilterMightContain into the
    // lineitem scan, so non-qualifying fact rows die at the scan instead of
    // crossing the shuffle (at 100 TB the shuffle IS the cost — a 1/5
    // selective dim filter cuts shuffled bytes ~5×). Runs in an isolated
    // newSession(): broadcast disabled to force the shuffle-join shape this
    // optimization exists for (at fixture scale the dim would broadcast and
    // need no bloom), and the application-side size gate (default 10 GB)
    // lowered to fixture scale. Production keeps the defaults — the gates
    // exist precisely so the rewrite only fires where the scan is huge.
    "q_join_bloom" -> ((s, d) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
      val li = Tables.lineitem(s2, d).select(col("l_orderkey"), col("l_quantity"))
      val ord = Tables.orders(s2, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("total_qty"))
    }),

    // Cross traversal: the reference's regions × families nested loop
    // (QHBaseCompact.java:144-146) — tiny dims only, broadcast NLJ.
    "q_join_cross" -> ((s, d) => {
      Tables.region(s, d)
        .select(col("r_name"))
        .crossJoin(broadcast(Tables.events(s, d).select(col("event_type")).distinct()))
        .orderBy(col("r_name"), col("event_type"))
    }),

    // J11: event-time INTERVAL join — click→purchase attribution, the
    // batch twin of StreamingDaemon.attributionJoin (which StreamingSpec
    // proves equal on shared batches; this entry puts the semantics under
    // the DuckDB oracle too). Each purchase joins every click by the same
    // user in the 30 minutes before it. Scale shape: the range predicate
    // RIDES the user_id equi-join — one key-partitioned SMJ whose per-key
    // scan is bounded by the 30-minute window, never a time-only theta
    // join (which would be all-pairs across users). value is a passthrough
    // column, not an aggregate — no FP hazard.
    "q_join_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("c_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("p_ts"), col("value"))
      purchases.join(clicks,
        col("c_user") === col("user_id") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("interval 30 minutes"))
        .select(col("purchase_id"), col("click_id"), col("user_id"),
          unix_micros(col("p_ts")).as("p_ts_us"),
          unix_micros(col("c_ts")).as("c_ts_us"), col("value"))
        .orderBy(col("purchase_id"), col("click_id"))
    }),

    // J10: the TPC-H Q10 SHAPE — returned-item revenue report: one plan
    // composing both physical join strategies across 3 facts + 1 dim:
    // customer⋈orders and (c⋈o)⋈lineitem shuffle on their keys (exactly two
    // exchanges-per-side SMJs), nation broadcasts, and the selective
    // filters (recent F orders, R returns) are pushed to the parquet scans
    // BEFORE any join. This is where Catalyst join planning earns its keep
    // at 100 TB: filter first, never shuffle the dim, aggregate after the
    // last join so the group-by key set stays bounded by surviving
    // customers. AQE re-plans the middle join from runtime stats when one
    // side collapses under the filter. Revenue aggregates in decimal(18,6)
    // (exact, order-independent) before the 2-dp output round — the
    // cross-engine money discipline this file mandates.
    "q_report_multijoin" -> ((s, d) => {
      Tables.customer(s, d)
        .join(
          Tables.orders(s, d)
            .filter(col("o_orderstatus") === "F" &&
              col("o_orderdate") >= lit("1998-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"))
        .join(
          Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)")), 2)
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // J12: correlated scalar subquery — the TPC-H Q17 SHAPE: line items
    // whose quantity is below 20% of their part's average quantity, i.e.
    // the "small-order revenue" report every analyst writes with a
    // correlated subquery. Written as SQL so Catalyst's decorrelation
    // pipeline (PullupCorrelatedPredicates → RewriteCorrelatedScalarSubquery)
    // is actually exercised: each correlated aggregate (count, sum over the
    // correlation key) decorrelates into a bounded per-part aggregate that
    // joins back on l_partkey — part-dim-sized broadcast joins, never a
    // per-row subquery loop (no Subquery node survives to the physical plan).
    // The 20%-of-average threshold is compared in EXACT integer space
    // (l_quantity is integral 1..50 in this schema):
    //   qty < 0.2 * sum/cnt  ⟺  5 * qty * cnt < sum
    // so no engine ever materializes the average as a double and the
    // boundary rows can't flip on FP rounding — and the Q17 "/7 yearly
    // average" output stays integer too: exact cents summed as BIGINT,
    // floor-divided by 7 (operands non-negative, so Spark div == DuckDB
    // //). PlanSpec pins the decorrelated shape (aggregates + equi joins,
    // no nested loop).
    "q_subquery_corr" -> ((s, d) => {
      val s2 = s.newSession()
      Tables.lineitem(s2, d).createOrReplaceTempView("lineitem")
      Tables.part(s2, d).createOrReplaceTempView("part")
      s2.sql(
        """SELECT p_brand,
          |       CAST(count(*) AS BIGINT) AS n_below,
          |       sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) div 7 AS avg_yearly_c
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE 5 * CAST(l_quantity AS BIGINT)
          |        * (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
          |      < (SELECT sum(CAST(l_quantity AS BIGINT)) FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
          |GROUP BY p_brand
          |ORDER BY p_brand""".stripMargin)
    }),

    // J13: the TPC-H Q21 SHAPE — "suppliers who kept orders waiting":
    // late line items (shipped > 365 days after the order date — this
    // schema has no receipt/commit dates) on multi-supplier orders where
    // NO other supplier was late. One semi and one anti join composed on
    // the SAME fact inside a single plan: the semi proves another supplier
    // touched the order, the anti proves none of them was late. Both
    // residual predicates (l_suppkey <> ...) ride the l_orderkey equi key,
    // so each is a hash/SMJ with a residual filter — never a cartesian —
    // and all three fact legs shuffle on the same l_orderkey key, which
    // AQE/ReuseExchange can share. Supplier is a dim: broadcast for the
    // name lookup after the fact-side reduction.
    "q_report_suppwait" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      // Round 21: `late` feeds BOTH the semi-join base and the anti-join
      // probe side; as a plain subtree the lineitem⋈orders join (the two
      // biggest scans in the query) was built twice — no common-subplan
      // reuse across a join's two sides. Pinned once (tiny: two longs per
      // late line), both consumers read the checkpoint (guide §2.4: remove
      // the duplicated shuffle outright).
      val late = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("interval 365 days"))
        .select(col("l_orderkey"), col("l_suppkey"))
        .pin()
      late
        .join(li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2")),
          col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("s2"), "left_semi")
        .join(late.select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3")),
          col("l_orderkey") === col("k3") && col("l_suppkey") =!= col("s3"), "left_anti")
        .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }),

    // J14: LATERAL correlated subquery — top-2 customers per nation by
    // balance written as `FROM nation, LATERAL (... WHERE correlated ORDER
    // BY ... LIMIT 2)`, the SQL idiom for per-group top-k that every
    // analyst reaches for before learning window functions. Exercises
    // Catalyst's LateralJoin decorrelation end to end: Spark rewrites the
    // per-row subquery into WindowGroupLimit (MAP-SIDE partial top-k per
    // key, then final after one c_nationkey exchange) + a row_number
    // filter + one equi join — the same physical plan a hand-written
    // salted-window top-k gets, with zero per-row subquery execution.
    // PlanSpec pins WindowGroupLimit + no nested loop. Balance is a
    // passthrough column (no aggregation), so no FP hazard.
    "q_join_lateral" -> ((s, d) => {
      val s2 = s.newSession()
      Tables.nation(s2, d).createOrReplaceTempView("nation")
      Tables.customer(s2, d).createOrReplaceTempView("customer")
      s2.sql(
        """SELECT n_name, c.c_custkey, c.c_acctbal
          |FROM nation, LATERAL (SELECT c_custkey, c_acctbal FROM customer
          |                      WHERE c_nationkey = n_nationkey
          |                      ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
          |ORDER BY n_name, c.c_acctbal DESC, c.c_custkey""".stripMargin)
    }),

    // J15: the TPC-H Q13 SHAPE — customer distribution by order count
    // ("how many customers placed k orders", zeros included): LEFT OUTER
    // join so order-less customers land in the k=0 bucket, then TWO
    // aggregations — per-customer count on the high-cardinality key, then
    // the tiny histogram rollup. Scale shape: the first groupBy rides the
    // join's c_custkey partitioning (no extra exchange), the second
    // reduces per-customer rows to ≤ a few dozen buckets — the classic
    // count-of-counts report whose naive window form would sort the world.
    "q_report_custdist" -> ((s, d) => {
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // J16: the TPC-H Q11 SHAPE — "important stock": parts whose total
    // lineitem value exceeds 1.5× the mean part value, the HAVING-against-
    // a-GLOBAL-scalar-subquery idiom (Q11's only relational novelty —
    // uncorrelated scalar subqueries gating an aggregate). Revenue rides
    // exact cents; the threshold is the integer cross-multiplication
    // 2·value·n > 3·total (safe while value·n < 2^62 — beyond that the
    // comparison moves to DECIMAL(38,0), same plan). The grouped table is
    // materialized ONCE (Memo.pin) and all three consumers — the
    // main filter branch and both scalar subqueries — read it, so the
    // fact table is scanned exactly once at any scale and the scalars
    // aggregate a part-cardinality table, not the corpus.
    "q_report_partvalue" -> ((s, d) => {
      val s2 = s.newSession()
      Tables.lineitem(s2, d)
        .select(col("l_partkey"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("rev_c"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("rev_c")).as("value_c"), count(lit(1)).as("n_items"))
        .pin()
        .createOrReplaceTempView("pv_g")
      s2.sql(
        """SELECT l_partkey, value_c, CAST(n_items AS BIGINT) AS n_items
          |FROM pv_g
          |WHERE 2 * value_c * (SELECT count(*) FROM pv_g)
          |      > 3 * (SELECT sum(value_c) FROM pv_g)
          |ORDER BY value_c DESC, l_partkey""".stripMargin)
    }),

    // J17: NOT IN over a NULLABLE key — the three-valued-logic join. A
    // NULL probe key never qualifies (x IN ... is NULL, NOT NULL is not
    // true), and one NULL on the inner side empties the result entirely —
    // semantics a plain anti join gets WRONG, which is why Catalyst plans
    // this as a null-aware anti join (SPARK-32290: single-column NAAJ
    // builds the inner as a broadcast hash set + null flag) rather than
    // rewriting to q_join_anti's shape. Every 29th customer key is
    // nullified to keep the null path live in the fixture.
    //
    // SCALE CONSTRAINT (and why this stays a COVERAGE query): NAAJ
    // requires the inner side broadcast; a non-broadcastable inner
    // degrades to BroadcastNestedLoopJoin. The 100 TB spelling, when the
    // key is provably non-null, is the plain anti join (q_join_anti); when
    // it is not, pre-aggregate the inner to (distinct keys + has_null
    // flag) — order-count-sized here — before the NOT IN. The inner below
    // is exactly that reduced form.
    "q_join_notin_null" -> ((s, d) => {
      val s2 = s.newSession()
      Tables.customer(s2, d).createOrReplaceTempView("customer")
      Tables.orders(s2, d).createOrReplaceTempView("orders")
      s2.sql(
        """SELECT k AS c_custkey, c_name, c_mktsegment
          |FROM (SELECT CASE WHEN c_custkey % 29 = 0 THEN NULL
          |                  ELSE c_custkey END AS k,
          |             c_name, c_mktsegment FROM customer)
          |WHERE k NOT IN (SELECT DISTINCT o_custkey FROM orders
          |                WHERE o_orderstatus = 'F')
          |ORDER BY c_custkey""".stripMargin)
    }),

    // J6b: POINT-IN-INTERVAL dimension lookup via BUCKET DECOMPOSITION — the
    // geo-IP / price-tier shape: probe a fact value into a large table of
    // non-overlapping [lo, hi] ranges. Catalyst can only plan the naive
    // BETWEEN join as a nested loop (fine for 20 tiers, fatal for the
    // millions of ranges a real IP→location dim has). The scalable form
    // decomposes BOTH sides onto a fixed bucket grid of width W=256: each
    // interval explodes into the ≤3 buckets it touches (`sequence(lo div W,
    // hi div W)`), each point maps to exactly ONE bucket (`point div W`),
    // and the join becomes a plain EQUI join on the bucket id with the
    // containment predicate as a cheap residual filter. No duplicate
    // matches possible: a point has one bucket and an interval appears in
    // that bucket at most once. The 2000-interval dim here is generated
    // deterministically (stride 300, widths 50..299 ⇒ non-overlapping with
    // gaps — unmatched points drop, the IP-without-a-range case); at real
    // scale the exploded dim shuffles like any fact⋈fact equi join and the
    // decomposition is unchanged. PlanSpec pins equi-join/no-BNLJ.
    "q_join_pointrange" -> ((s, d) => {
      val n = 2000L; val stride = 300L; val w = 256L
      val tiers = s.range(0, n).select(
        col("id").as("tier_id"),
        (col("id") * stride).as("lo"),
        (col("id") * stride + 50 + pmod(col("id") * 37, lit(250))).as("hi"))
      val tierBuckets = tiers.select(col("tier_id"), col("lo"), col("hi"),
        explode(sequence(expr(s"lo div ${w}L"), expr(s"hi div ${w}L"))).as("bkt"))
      val pts = Tables.orders(s, d).select(
        col("o_orderkey"),
        pmod(round(col("o_totalprice") * 100).cast("long"), lit(n * stride)).as("point"))
      pts.withColumn("bkt", expr(s"point div ${w}L"))
        .join(tierBuckets, "bkt")
        .filter(col("point") >= col("lo") && col("point") <= col("hi"))
        .select(col("o_orderkey"), col("point"), col("tier_id"))
        .orderBy(col("o_orderkey"))
    }),

    // Jx: NESTED subquery composition — an IN-subquery whose inner query
    // itself carries two CORRELATED scalar subqueries ("customers with at
    // least one order above 3× their own average order value"). Exercises
    // the decorrelation depth beyond q_subquery_corr's flat Q17 shape:
    // Catalyst decorrelates each scalar into an equi join against a
    // per-customer aggregate (count-bug handling included — the count
    // scalar rewrites through a left-outer join with a null→0 projection)
    // and plans the outer IN as a semi join — rewrites composing in one
    // statement, zero per-row subquery execution (PlanSpec-pinned; the
    // two aggregates stay separate plans, MergeScalarSubqueries does not
    // fire across the differing null semantics — observed, not a bug).
    // The average compare is integer cross-multiplied cents (price·n >
    // 3·Σprice), so no engine materializes a mean.
    "q_subquery_nested" -> ((s, d) => {
      val s2 = s.newSession()
      Tables.customer(s2, d).createOrReplaceTempView("customer")
      Tables.orders(s2, d).createOrReplaceTempView("orders")
      s2.sql(
        """SELECT c_custkey, c_name
          |FROM customer WHERE c_custkey IN (
          |  SELECT o_custkey FROM orders o1
          |  WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          |        * (SELECT count(*) FROM orders o2
          |           WHERE o2.o_custkey = o1.o_custkey)
          |      > 3 * (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
          |             FROM orders o2 WHERE o2.o_custkey = o1.o_custkey))
          |ORDER BY c_custkey""".stripMargin)
    }),

    // J6c: the NAIVE spelling of the same point-in-interval lookup, left to
    // the OPTIMIZER — the bare BETWEEN join every analyst writes first,
    // which Catalyst alone can only nested-loop. [[graft.plans
    // .BucketedRangeJoinRule]] rewrites it into the bucket-grid equi join
    // automatically (the q_join_pointrange decomposition as a Rule
    // [LogicalPlan]; row-identity proven in BucketedRangeRuleSpec, the
    // rewrite pinned in PlanSpec). Shares q_join_pointrange's oracle-side
    // SQL shape: both must produce identical rows.
    "q_join_interval_rule" -> ((s, d) => {
      val n = 2000L; val stride = 300L
      val tiers = s.range(0, n).select(
        col("id").as("tier_id"),
        (col("id") * stride).as("lo"),
        (col("id") * stride + 50 + pmod(col("id") * 37, lit(250))).as("hi"))
      val pts = Tables.orders(s, d).select(
        col("o_orderkey"),
        pmod(round(col("o_totalprice") * 100).cast("long"), lit(n * stride)).as("point"))
      pts.join(tiers, col("point") >= col("lo") && col("point") <= col("hi"))
        .select(col("o_orderkey"), col("point"), col("tier_id"))
        .orderBy(col("o_orderkey"))
    })
  )

  /** Hot-key detection for [[skewSaltedJoin]] (J8 — see the map entry's
    * comment for the full design): every key with at least 8 fact rows,
    * counted exactly. Exposed for SkewJoinSpec to check that the detector
    * finds a non-empty hot set on the fixture, so the salted path runs.
    */
  private[graft] def skewHotKeys(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val hotThreshold = 8L
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("k_n"))
      .filter(col("k_n") >= hotThreshold)
      .select(col("l_orderkey").as("hk"))
  }

  /** The generic two-path salted inner join: rows of `fact` whose key is in
    * `hotKeys` (single column `hk`, broadcast-small by contract) join
    * salted — fact side salted by the caller's high-entropy `salt`
    * expression mod S, dim side exploded S ways — while the cold remainder
    * takes the plain equi join; the union is row-identical to
    * `fact JOIN dim ON factKey = dimKey` for ANY hot set. Exposed for
    * SkewJoinSpec to pin the BALANCE claim (bounded per-reducer input on a
    * deliberately skewed fixture with AQE off) independent of the fixture
    * query.
    */
  private[graft] def saltedTwoPath(
      fact: org.apache.spark.sql.DataFrame, dim: org.apache.spark.sql.DataFrame,
      factKey: String, dimKey: String,
      hotKeys: org.apache.spark.sql.DataFrame,
      salt: org.apache.spark.sql.Column, S: Int): org.apache.spark.sql.DataFrame = {
    val fHot = fact.join(broadcast(hotKeys), col(factKey) === col("hk")).drop("hk")
      .withColumn("__salt", pmod(salt, lit(S)))
    val dHot = dim.join(broadcast(hotKeys), col(dimKey) === col("hk")).drop("hk")
      .withColumn("__salt", explode(sequence(lit(0), lit(S - 1))))
    val hot = fHot.join(dHot,
      fHot(factKey) === dHot(dimKey) && fHot("__salt") === dHot("__salt"))
      .select(fact.columns.map(fHot(_)) ++ dim.columns.map(dHot(_)): _*)
    val cold = fact.join(broadcast(hotKeys), col(factKey) === col("hk"), "left_anti")
      .join(dim.join(broadcast(hotKeys), col(dimKey) === col("hk"), "left_anti"),
        col(factKey) === col(dimKey))
      .select((fact.columns ++ dim.columns).map(col): _*)
    hot.unionByName(cold)
  }

  private[graft] def skewSaltedJoin(s: org.apache.spark.sql.SparkSession, d: String) = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
    val hotKeys = skewHotKeys(s, d).pin()
    // Salt must key on a HIGH-ENTROPY per-row value or the hot key's rows
    // all land in one salt and the skew survives; (price, discount) is
    // near-unique per lineitem row. A table with no such column would
    // salt on monotonically_increasing_id (fine here: the salt never
    // crosses the oracle boundary — only row routing depends on it).
    saltedTwoPath(li, ord, "l_orderkey", "o_orderkey", hotKeys,
        hash(col("l_extendedprice"), col("l_discount")), S = 8)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority"))
  }

  val oracles: Map[String, String] = Map(
    "q_join_broadcast" ->
      """SELECT r_name, CAST(count(*) AS BIGINT) AS n_cust,
        |       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q_join_sortmerge" ->
      """SELECT o_orderpriority,
        |       CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_outer" ->
      """SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
        |       CAST(round(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,4))), 0), 2) AS DOUBLE) AS spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_join_theta_range" ->
      """SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_near
        |FROM supplier JOIN customer
        |  ON s_nationkey = c_nationkey
        | AND c_acctbal BETWEEN s_acctbal - 500 AND s_acctbal + 500
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    "q_join_priceband" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_in_band,
        |       CAST(round(sum(CAST(p_retailprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price,
        |       round(min(l_extendedprice / l_quantity), 2) AS min_unit
        |FROM lineitem JOIN part
        |  ON l_partkey = p_partkey
        | AND l_extendedprice / l_quantity BETWEEN p_retailprice * 0.95 AND p_retailprice * 1.05
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_join_asof" ->
      """WITH vp AS (
        |  SELECT event_id, user_id, ts, event_type,
        |         CASE WHEN event_type = 'view' THEN event_id END AS view_id
        |  FROM events WHERE event_type IN ('view', 'purchase'))
        |SELECT event_id, user_id, epoch_us(ts) AS ts_us, last_view_id
        |FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |         last_value(view_id IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_id
        |  FROM vp)
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "q_join_skew_salted" ->
      """SELECT o_orderpriority,
        |       CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_bloom" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(l_quantity) AS BIGINT) AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    "q_join_cross" ->
      """SELECT r_name, event_type
        |FROM region CROSS JOIN (SELECT DISTINCT event_type FROM events)
        |ORDER BY r_name, event_type""".stripMargin,
    "q_join_attribution" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        |       epoch_us(p.ts) AS p_ts_us, epoch_us(c.ts) AS c_ts_us, p.value
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
        |ORDER BY purchase_id, click_id""".stripMargin,
    "q_report_multijoin" ->
      """SELECT c_custkey, c_name, n_name,
        |       CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F' AND o_orderdate >= TIMESTAMP '1998-01-01'
        |  AND l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q_subquery_corr" ->
      """SELECT p_brand,
        |       CAST(count(*) AS BIGINT) AS n_below,
        |       CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) // 7 AS BIGINT) AS avg_yearly_c
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE 5 * CAST(l_quantity AS BIGINT)
        |        * (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
        |      < (SELECT sum(CAST(l_quantity AS BIGINT)) FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q_report_suppwait" ->
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE l1.l_shipdate > o_orderdate + INTERVAL 365 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3 JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 365 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin,
    "q_join_lateral" ->
      """SELECT n_name, c.c_custkey, c.c_acctbal
        |FROM nation, LATERAL (SELECT c_custkey, c_acctbal FROM customer
        |                      WHERE c_nationkey = n_nationkey
        |                      ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        |ORDER BY n_name, c.c_acctbal DESC, c.c_custkey""".stripMargin,
    "q_report_custdist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |      GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // DuckDB sums promote to HUGEINT — value_c is pinned back to BIGINT so
    // the emitted schema matches Spark's long sums.
    "q_report_partvalue" ->
      """WITH li AS (SELECT l_partkey,
        |                   CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS rev_c
        |            FROM lineitem),
        |pv_g AS (SELECT l_partkey, CAST(sum(rev_c) AS BIGINT) AS value_c,
        |                CAST(count(*) AS BIGINT) AS n_items
        |         FROM li GROUP BY l_partkey)
        |SELECT l_partkey, value_c, n_items
        |FROM pv_g
        |WHERE 2 * value_c * (SELECT count(*) FROM pv_g)
        |      > 3 * (SELECT sum(value_c) FROM pv_g)
        |ORDER BY value_c DESC, l_partkey""".stripMargin,
    "q_join_notin_null" ->
      """SELECT k AS c_custkey, c_name, c_mktsegment
        |FROM (SELECT CASE WHEN c_custkey % 29 = 0 THEN NULL
        |                  ELSE c_custkey END AS k,
        |             c_name, c_mktsegment FROM customer)
        |WHERE k NOT IN (SELECT DISTINCT o_custkey FROM orders
        |                WHERE o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    // The oracle spells the join the natural way (BETWEEN); DuckDB's IEJoin
    // handles it. All operands non-negative ⇒ DuckDB % == Spark pmod.
    "q_join_pointrange" ->
      """WITH tiers AS (SELECT CAST(range AS BIGINT) AS tier_id,
        |                      CAST(range * 300 AS BIGINT) AS lo,
        |                      CAST(range * 300 + 50 + (range * 37) % 250 AS BIGINT) AS hi
        |               FROM range(2000)),
        |p AS (SELECT o_orderkey,
        |             CAST(round(o_totalprice * 100) AS BIGINT) % 600000 AS point
        |      FROM orders)
        |SELECT o_orderkey, point, tier_id
        |FROM p JOIN tiers ON point BETWEEN lo AND hi
        |ORDER BY o_orderkey""".stripMargin,
    "q_subquery_nested" ->
      """SELECT c_custkey, c_name
        |FROM customer WHERE c_custkey IN (
        |  SELECT o_custkey FROM orders o1
        |  WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |        * (SELECT count(*) FROM orders o2
        |           WHERE o2.o_custkey = o1.o_custkey)
        |      > 3 * (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        |             FROM orders o2 WHERE o2.o_custkey = o1.o_custkey))
        |ORDER BY c_custkey""".stripMargin,
    "q_join_interval_rule" ->
      """WITH tiers AS (SELECT CAST(range AS BIGINT) AS tier_id,
        |                      CAST(range * 300 AS BIGINT) AS lo,
        |                      CAST(range * 300 + 50 + (range * 37) % 250 AS BIGINT) AS hi
        |               FROM range(2000)),
        |p AS (SELECT o_orderkey,
        |             CAST(round(o_totalprice * 100) AS BIGINT) % 600000 AS point
        |      FROM orders)
        |SELECT o_orderkey, point, tier_id
        |FROM p JOIN tiers ON point BETWEEN lo AND hi
        |ORDER BY o_orderkey""".stripMargin
  )
}
