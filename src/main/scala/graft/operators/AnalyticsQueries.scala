package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Memo.PinOps

/** Window functions, event-time windows, set ops, and the scalar-function
  * suite (SURVEY.md §2.5-2.7, §2.9-2.10). All category coverage (N): the
  * reference has no analytics beyond scalar max-tracking; its only time logic
  * is the processing-time HH:mm:ss gate (QHBaseCompact.java:48-60), which
  * MetaQueries covers. Event-time tumbling/sliding/session windows here are
  * the batch analogs of the §2.10 streaming mapping — identical expressions
  * run under readStream in [[graft.streaming.StreamingDemo]].
  */
object AnalyticsQueries extends QueryPack {

  val queries: Map[String, Q] = Map(
    // W1: top-3 orders per priority as a salted TWO-PHASE top-k — the
    // scale-safe grouped-rank shape. o_orderpriority has 5 distinct values,
    // so a plain Window.partitionBy(priority) funnels the whole fact table
    // through 5 sort tasks at any scale. Instead: phase 1 takes the local
    // top-3 per (priority, salt-of-64) — 320-way parallel sort, each task
    // handling ~1/320th of the table — then phase 2 ranks the ≤ 5·64·3 = 960
    // surviving rows per priority. Exact because the ordering is total
    // (o_orderkey is a unique tiebreak): every global top-3 row is
    // necessarily in its salt bucket's top-3, and rank over the survivors
    // equals rank over the full partition for rnk ≤ 3. Same decomposition
    // discipline as q_agg_salted_twophase. PlanSpec pins that no Window
    // partitioned on the bare priority sees the full scan.
    "q_window_rank" -> ((s, d) => {
      val local = Window
        .partitionBy(col("o_orderpriority"), col("salt"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val global = Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("salt", pmod(hash(col("o_orderkey")), lit(64)))
        .withColumn("lrn", row_number().over(local))
        .filter(col("lrn") <= 3)
        .withColumn("rnk", rank().over(global).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rnk"))
    }),

    // W1b: distribution window functions — ntile quartiles, percent_rank,
    // cume_dist over a unique total order (deterministic tiles). The filter
    // samples every 100th key AFTER the windows so output stays small while
    // the window semantics cover the full partition.
    //
    // SCALE CONSTRAINT: ntile/percent_rank/cume_dist need each row's GLOBAL
    // position within its group — unlike rank≤k (see q_window_rank's salted
    // two-phase), no bounded local phase can decide a row's quartile, so the
    // partitionBy(o_orderpriority) below genuinely funnels each priority
    // through one sort task. Kept as the distribution-function COVERAGE
    // query (the built-in-window surface); the 100 TB path is
    // q_window_ntile_dist below — range-banded two-phase global ranking,
    // oracle-proven equal to this window's ntile.
    "q_window_ntile" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("tile", ntile(4).over(w).cast("long"))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
        .filter(col("o_orderkey") % 100 === 0)
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    }),

    // W1c: DISTRIBUTED ntile — the scale-safe answer to q_window_ntile's
    // documented constraint, delivered: global per-group position WITHOUT a
    // per-group global sort. Two phases: (1) rows land in RANGE bands of
    // the order key (fixed edges here; production derives edges from
    // approx quantiles so bands stay balanced — B is the knob that bounds
    // per-task rows at any corpus size), counts per (group, band) form a
    // metadata-scale table (groups×B rows) whose running sum gives each
    // band's global offset; (2) a local sort within each (group, band)
    // yields the in-band ordinal, and global rank = band offset + ordinal.
    // The tile is then the EXACT SQL NTILE formula (first n%k buckets take
    // one extra row) in integer arithmetic — the oracle is the real
    // ntile() window, so this query PROVES the decomposition equals the
    // single-sort semantics.
    "q_window_ntile_dist" -> ((s, d) => {
      val B = 8
      val banded = Tables.orders(s, d)
        .select(col("o_orderpriority").as("g"), col("o_orderkey"), col("o_totalprice").as("v"))
        .withColumn("band", least(floor(col("v") / 50000.0), lit(B - 1)).cast("int"))
      val offsets = banded.groupBy(col("g"), col("band")).agg(count(lit(1)).as("c"))
        .withColumn("off",
          sum(col("c")).over(Window.partitionBy(col("g")).orderBy(col("band"))) - col("c"))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("g"))))
        .select(col("g"), col("band"), col("off"), col("n"))
      val localW = Window.partitionBy(col("g"), col("band"))
        .orderBy(col("v"), col("o_orderkey"))
      banded.withColumn("lr", row_number().over(localW))
        .join(broadcast(offsets), Seq("g", "band"))
        .withColumn("rank", (col("off") + col("lr")).cast("long"))
        .withColumn("q", floor(col("n") / 4).cast("long"))
        .withColumn("m", (col("n") % 4).cast("long"))
        .withColumn("tile",
          when(col("rank") <= (col("q") + 1) * col("m"),
            ceil(col("rank") / (col("q") + lit(1.0))))
            .otherwise(col("m") + ceil((col("rank") - (col("q") + 1) * col("m"))
              / col("q").cast("double")))
            .cast("long"))
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("g").as("o_orderpriority"), col("o_orderkey"),
          col("v").as("o_totalprice"), col("rank"), col("tile"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    }),

    // A3b: GROUPING SETS — the report shape rollup/cube can't express:
    // independent per-status and per-priority totals plus the grand total in
    // ONE pass over the fact table (Spark expands to a single Expand +
    // aggregate — one scan, one shuffle, vs three separate groupBys).
    // Null group keys coalesced to 'ALL' (same discipline as rollup/cube:
    // no cross-engine null-ordering dependence).
    "q_groupingsets_report" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
          |       coalesce(o_orderpriority, 'ALL') AS priority,
          |       CAST(count(*) AS BIGINT) AS n,
          |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY status, priority""".stripMargin)
    }),

    // W2: running sum per user (rowsBetween frame). Sequential accumulation
    // order is fixed by the (ts, event_id) total order, so both engines add
    // in the same order.
    "q_window_running" -> ((s, d) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("run_sum", round(sum(col("value")).over(w), 2))
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"), col("run_sum"))
        .orderBy(col("event_id"))
    }),

    // W4: range frame — rolling 2-day sum/count per user. rangeBetween is
    // value-based (all ts peers inside the bound join the frame, regardless
    // of row position), the "last-N-days rolling" idiom. The frame is a SET,
    // so no tiebreak is needed for determinism — but the sum accumulates in
    // engine-chosen order, so it runs in DECIMAL (associative-exact) and
    // rounds after, keeping the oracle bit-equal.
    "q_window_range" -> ((s, d) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-2L * 86400000000L, 0L) // 2 days in µs
      Tables.events(s, d)
        .withColumn("r2d_n", count(lit(1)).over(w))
        .withColumn("r2d_sum",
          round(sum(col("value").cast("decimal(18,6)")).over(w), 2).cast("double"))
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("r2d_n"), col("r2d_sum"))
        .orderBy(col("event_id"))
    }),

    // W3: lag — inter-event deltas per user; the reference's before/after
    // snapshot compare (C1) in one relation.
    "q_window_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_id", lag(col("event_id"), 1).over(w))
        .withColumn("delta_us", (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)))
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("prev_id"), col("delta_us"))
        .orderBy(col("event_id"))
    }),

    // §2.10 event-time tumbling window (batch analog): 1-day buckets are
    // epoch-aligned in both engines.
    "q_window_tumbling" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,6)")), 2).cast("double").as("total"))
        .select(unix_micros(col("win.start")).as("day_us"), col("event_type"), col("n"), col("total"))
        .orderBy(col("day_us"), col("event_type"))
    }),

    // §2.10 sliding window: 2-day windows sliding 1 day — each event lands in
    // exactly 2 windows; Spark's epoch-aligned starts reproduce as
    // date_trunc(day) - {0,1} days.
    "q_window_sliding" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "2 days", "1 day").as("win"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("win.start")).as("win_us"), col("n"))
        .orderBy(col("win_us"))
    }),

    // §2.10 session window (batch analog): 30-min-gap sessions per user;
    // oracle is the gaps-and-islands formulation.
    "q_window_session" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("win"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), unix_micros(col("win.start")).as("session_start_us"), col("n"))
        .orderBy(col("user_id"), col("session_start_us"))
    }),

    // §2.10+ behavioral analytics: ORDERED funnel (signup → view → click →
    // purchase, each stage at-or-after the previous stage's first qualifying
    // event). Three chained running-min windows over ONE (user_id, ts)
    // sort — same partition+order spec, so Catalyst collapses them into a
    // single Exchange+Sort (PlanSpec pins exactly one sort exchange). The
    // window key is user_id — high-cardinality, so unlike the W1 trap this
    // partitioning holds at 100 TB (every user's slice is tiny and
    // independent). Output: one row, users surviving each stage.
    "q_funnel_stages" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("s1r", min(when(col("event_type") === "signup", col("tus"))).over(w))
        .withColumn("s2c", when(col("event_type") === "view" && col("tus") >= col("s1r"), col("tus")))
        .withColumn("s2r", min(col("s2c")).over(w))
        .withColumn("s3c", when(col("event_type") === "click" && col("tus") >= col("s2r"), col("tus")))
        .withColumn("s3r", min(col("s3c")).over(w))
        .withColumn("s4c", when(col("event_type") === "purchase" && col("tus") >= col("s3r"), col("tus")))
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "signup", 1L).otherwise(0L)).as("r1"),
          max(when(col("s2c").isNotNull, 1L).otherwise(0L)).as("r2"),
          max(when(col("s3c").isNotNull, 1L).otherwise(0L)).as("r3"),
          max(when(col("s4c").isNotNull, 1L).otherwise(0L)).as("r4"))
        .agg(sum(col("r1")).as("n_signup"), sum(col("r2")).as("n_view"),
          sum(col("r3")).as("n_click"), sum(col("r4")).as("n_purchase"))
    }),

    // §2.10+ cohort retention: users grouped by first-seen day, activity
    // counted per (cohort day, day offset) — the retention triangle. Two
    // aggregations: per-user first day (one shuffle on user_id), then the
    // distinct-user count per cell. Both keys are high-cardinality or
    // bounded — nothing funnels through a low-cardinality sort at scale.
    "q_cohort_retention" -> ((s, d) => {
      // Round 21 (guide §2.4): the cohort day is min(day) per user — a
      // whole-partition window over the SAME user_id key the old
      // groupBy+join pair shuffled twice for (and the join re-scanned
      // events). One exchange, one scan, identical rows.
      // NULL-USER CAVEAT (r21 ADVICE): identical rows assumes non-null
      // user_id — the old inner join on user_id dropped null users, while a
      // window partitions them into their own group and would count them.
      // The events fixture carries no null user_ids (oracle-proven); a
      // nullable source needs a .filter(col("user_id").isNotNull) first.
      val e = Tables.events(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      e.withColumn("c_day", min(col("day")).over(Window.partitionBy(col("user_id"))))
        .select(col("user_id"), col("c_day"),
          datediff(col("day"), col("c_day")).cast("long").as("day_offset"))
        .groupBy(col("c_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .select(unix_micros(col("c_day")).as("cohort_day_us"),
          col("day_offset"), col("n_active"))
        .orderBy(col("cohort_day_us"), col("day_offset"))
    }),

    // §2.10+ time-grid gap fill: densify the per-(day, event_type) daily
    // rollup onto the full min..max day grid with zero-fill — the
    // sparse→dense resample every time-series consumer needs. The grid is
    // days × types (tiny at any corpus scale: it grows with TIME, not data)
    // built from one scalar bounds row via sequence+explode, broadcast onto
    // the daily aggregate.
    "q_time_gapfill" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(date_trunc("day", col("ts")).as("day"), col("event_type"), col("value"))
      // Three column-pruned scans of the events (bounds, type spine,
      // rollup). Round 21 measured the one-scan variant (bounds and spine
      // derived from a pinned daily rollup) 2.4× SLOWER at bench scale,
      // where the checkpoint's eager job dominates three cheap scans.
      val daily = e.groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("tot"))
      val grid = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
        .crossJoin(e.select(col("event_type")).distinct())
      // both sides are time-bounded-tiny; the AGGREGATE broadcasts because a
      // left join can only build its non-preserved (right) side
      grid.join(broadcast(daily), Seq("day", "event_type"), "left")
        .select(unix_micros(col("day")).as("day_us"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"),
          round(coalesce(col("tot"), lit(0.0)), 2).as("total"))
        .orderBy(col("day_us"), col("event_type"))
    }),

    // §2.10+ gap sessionization: a session break is a >30-minute silence
    // within a user's stream. ONE user_id shuffle feeds everything — the
    // lag, the running break-sum, and the per-(user, session) rollup all
    // ride the same hash partitioning (session_id is derived inside the
    // partition), so adding the rollup costs no extra exchange. user_id is
    // high-cardinality: no reducer funnels at 100 TB. All times are epoch-µs
    // longs — gap compare and duration are exact integer math.
    "q_sessionize" -> ((s, d) => {
      val byTs = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      val run  = byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("prev", lag(col("tus"), 1).over(byTs))
        .withColumn("brk",
          when(col("prev").isNull || col("tus") - col("prev") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("brk")).over(run))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("tus")).as("start_us"),
          max(col("tus")).as("end_us"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
        .withColumn("duration_us", col("end_us") - col("start_us"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // §2.10+ event-transition matrix (first-order Markov counts): for each
    // user-adjacent (type → next type) pair, global count and transition
    // probability. The lag window shuffles once on high-cardinality
    // user_id; the pair groupBy collapses to ≤ |types|² rows map-side
    // (partial aggregation), so the low-cardinality final agg sees partials,
    // not the fact table. Probability is exact integer micro-units —
    // (n·1e6) div row-total — never a double ratio.
    "q_event_transitions" -> ((s, d) => {
      val byTs = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("to_type", lead(col("event_type"), 1).over(byTs))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("from_type"))))
        .withColumn("p_micro", expr("n * 1000000 div tot").cast("long"))
        .select(col("from_type"), col("to_type"), col("n"), col("p_micro"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // Exponentially-weighted moving average per user stream — the trend
    // smoother behind rate monitors and anomaly baselines. α = 1/2 with the
    // kernel truncated at 8 lags, so every weight is a power of two and the
    // whole smoother is INTEGER arithmetic on µ-unit values: ewma6 =
    // ⌊(Σ_{k=0..7} x_{t-k}·2^(7-k)) / 256⌋ — bit-identical across engines,
    // no float power/exp anywhere (the usual EWMA recursion is
    // order-dependent FP). The division is FLOOR-safe for either sign via
    // the positive-offset trick (add 2^48 = 2^40·256 before dividing,
    // subtract 2^40 after): Spark's `div` truncates toward zero while
    // DuckDB's `//` floors, so a negative wsum — legal if the fixture ever
    // grows negative values; |wsum| < 2^48 for any |value| ≤ 1e6 — would
    // otherwise diverge between engines. The 8 lags share one window spec →
    // a single WindowExec on the lone user_id shuffle; truncation error is
    // ≤ 2^-8 of the oldest mass, the documented contract of the dyadic
    // kernel.
    "q_time_ewma" -> ((s, d) => {
      val byTs = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      val terms = (0 until 8).map(k =>
        coalesce(lag(col("v6"), k).over(byTs), lit(0L)) * lit(1L << (7 - k)))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"),
          round(col("value") * lit(1e6)).cast("long").as("v6"))
        .withColumn("wsum", terms.reduce(_ + _))
        .withColumn("ewma6", expr("(wsum + 281474976710656) div 256 - 1099511627776"))
        .select(col("user_id"), col("event_id"), col("tus"), col("v6"), col("ewma6"))
        .orderBy(col("user_id"), col("tus"), col("event_id"))
    }),

    // W-family completeness: FIRST_VALUE / LAST_VALUE / NTH_VALUE over the
    // full-partition frame (unbounded both ways — the "compare each event
    // to its user's first, latest and third" report). All three ride ONE
    // window spec, so Spark plans a single WindowExec on a single user_id
    // exchange; values in exact integer cents. Output thinned by a
    // deterministic event_id stride so the result stays a bounded report.
    "q_window_firstlast" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
        .withColumn("first_c", first(col("c")).over(w))
        .withColumn("last_c", last(col("c")).over(w))
        .withColumn("nth3_c", nth_value(col("c"), 3).over(w))
        .filter(col("event_id") % 50 === 0)
        .select(col("user_id"), col("event_id"), col("c"),
          col("first_c"), col("last_c"), col("nth3_c"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // TIME-WEIGHTED AVERAGE (TWAP) — the telemetry/finance mean that
    // weights each observed value by how long it HELD, not how often it
    // was sampled (an unweighted mean over-counts bursty periods). Per
    // user: Δt to the next event via lead() on the one (user_id, ts)
    // high-cardinality window — the last (open-ended) observation drops;
    // weights are EXACT integer cents × Δt-milliseconds (bounded:
    // |c·Δt_ms| < 2^53 for cents < 10^6 and spans < a decade, documented),
    // and the reported TWAP floor-divides the integer sums — operands
    // non-negative, so Spark div == DuckDB //. Users with a single event
    // have no held interval and drop with the HAVING — a NULL mean would
    // be the wrong claim.
    "q_time_twap" -> ((s, d) => {
      val byTs = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
        .withColumn("dt_us", lead(col("tus"), 1).over(byTs) - col("tus"))
        .filter(col("dt_us").isNotNull)
        .withColumn("dt_ms", expr("dt_us div 1000"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("c") * col("dt_ms")).as("wsum"),
          sum(col("dt_ms")).as("dt_total_ms"))
        .filter(col("dt_total_ms") > 0)
        .select(col("user_id"), col("n_intervals"),
          col("wsum"), col("dt_total_ms"),
          expr("wsum div dt_total_ms").as("twap_c"))
        .orderBy(col("user_id"))
    }),

    // Slowly-changing-dimension TYPE 2 history build: collapse each user's
    // event stream into state-change intervals — one row per run of equal
    // event_type, with [valid_from, valid_to) in epoch-µs and a per-user
    // version counter; the open (current) interval carries Long.MaxValue.
    // The warehouse operator behind MERGE-based dimension loads. ONE
    // user_id shuffle: change detection (lag), versioning (row_number) and
    // interval close (lead) all ride the same high-cardinality partition
    // spec; event_id is verified unique, so the order is total and the
    // run-collapse is deterministic.
    "q_scd2_history" -> ((s, d) => {
      val byTs = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(byTs))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .withColumn("version", row_number().over(byTs).cast("long"))
        .withColumn("valid_to_us",
          coalesce(lead(col("tus"), 1).over(byTs), lit(Long.MaxValue)))
        .select(col("user_id"), col("version"), col("event_type").as("state"),
          col("tus").as("valid_from_us"), col("valid_to_us"))
        .orderBy(col("user_id"), col("version"))
    }),

    // Largest-remainder pro-rata allocation: distribute each order's total
    // across its line items proportionally to extended price, in EXACT
    // integer cents — floor shares first, then the leftover cents go to the
    // largest fractional remainders (l_linenumber tiebreak), so the per-order
    // allocations sum to the order total to the cent, always. The financial
    // split no double ratio can do. The fixture (like any append log) holds
    // duplicate (orderkey, linenumber) rows, so the join output first
    // collapses to line grain — and because hash(l_orderkey) clusters every
    // finer key, the grain groupBy AND all the windows ride the SMJ's
    // partitioning: ONE l_orderkey shuffle end to end. Products stay
    // < 2^63: cents ≤ 5e7, so T·w ≤ 2.5e15.
    "q_alloc_prorata" -> ((s, d) => {
      val byO = Window.partitionBy(col("l_orderkey"))
      val byRem = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("rem").desc, col("l_linenumber"))
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("w0"))
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("t"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(sum(col("w0")).as("w"), first(col("t")).as("t"))
        .withColumn("tw", col("t") * col("w"))
        .withColumn("ww", sum(col("w")).over(byO))
        .withColumn("base", expr("tw div ww"))
        .withColumn("rem", expr("tw % ww"))
        .withColumn("short", col("t") - sum(col("base")).over(byO))
        .withColumn("rnk", row_number().over(byRem))
        .withColumn("alloc_c",
          col("base") + when(col("rnk") <= col("short"), 1L).otherwise(0L))
        .select(col("l_orderkey"), col("l_linenumber"), col("w").as("price_c"),
          col("alloc_c"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Robust dispersion / outlier gate: per priority, median and MAD (median
    // absolute deviation) of the order total, plus the count beyond the
    // 3·1.4826·MAD robust-z fence. DOMAIN BOUND for the exact percentile
    // buffers: group key is 5 fixed priorities and values are bounded
    // integer cents (≤ ~5e7 distinct, partial-agg collapsed map-side) — a
    // scaling key/domain would ride the q_agg_approx_percentile_user
    // sketch contract instead. Medians interpolate midpoints of integer
    // cents, so every value is k or k+0.5 — exactly representable; the fence
    // compares 2×-scaled integer-valued doubles cross-multiplied against
    // rational 44478/10000 (products < 2^53), so no engine-dependent float
    // rounding anywhere. Three grouped passes by construction — a median is
    // a global order statistic, so MAD needs median → deviations → median
    // again → fence count; each intermediate (5 rows) rejoins by broadcast,
    // and each pass shuffles on the same bounded-cardinality key where
    // partial aggregation has already collapsed the fact table.
    "q_stats_mad" -> ((s, d) => {
      val c = Tables.orders(s, d)
        .select(col("o_orderpriority"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("c"))
      val med = c.groupBy(col("o_orderpriority"))
        .agg(percentile(col("c"), lit(0.5)).as("med_c"))
      // NOT pinned (round 21, measured): checkpointing `dev` (order-grain,
      // 3 cols) cost 2× the duplicated columnar re-scan it saves — the two
      // consumers re-derive it from the pruned parquet scan instead.
      val dev = c.join(broadcast(med), Seq("o_orderpriority"))
        .withColumn("d2", abs(col("c") * 2 - col("med_c") * 2))
      val stats = dev.groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          first(col("med_c")).as("med_c"),
          percentile(col("d2"), lit(0.5)).as("mad2_c"))
      val outliers = dev
        .join(broadcast(stats.select(col("o_orderpriority"), col("mad2_c"))),
          Seq("o_orderpriority"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(when(col("d2") * 10000 > col("mad2_c") * 44478, 1L).otherwise(0L))
          .as("n_outliers"))
      stats.join(broadcast(outliers), Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n"), col("med_c"),
          (col("mad2_c") / 2).as("mad_c"), col("n_outliers"))
        .orderBy(col("o_orderpriority"))
    }),

    // Skew pattern: salted two-phase aggregation. A hot grouping key melts
    // one reducer at 100 TB; salting spreads the partial aggregation over
    // 16 sub-keys, then the (tiny) final pass merges partials. Result is
    // identical to the direct groupBy — decimal sums make the re-association
    // exact, so the oracle is the plain GROUP BY.
    "q_agg_salted_twophase" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("salt", pmod(col("event_id"), lit(16)))
        .groupBy(col("user_id"), col("salt"))
        .agg(count(lit(1)).as("pn"), sum(col("value").cast("decimal(18,6)")).as("ps"))
        .groupBy(col("user_id"))
        .agg(
          sum(col("pn")).as("n_events"),
          round(sum(col("ps")), 2).cast("double").as("total_value"))
        .orderBy(col("user_id"))
    }),

    // §2.7 set ops: nations present among customers vs suppliers.
    "q_setop_union" -> ((s, d) => {
      Tables.customer(s, d).select(col("c_nationkey").as("nk"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").as("nk")))
        .distinct()
        .orderBy(col("nk"))
    }),
    "q_setop_except" -> ((s, d) => {
      Tables.orders(s, d).select(col("o_orderkey").as("k"))
        .except(Tables.lineitem(s, d).select(col("l_orderkey").as("k")))
        .orderBy(col("k"))
    }),
    "q_setop_intersect" -> ((s, d) => {
      Tables.customer(s, d).select(col("c_nationkey").as("nk"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nk")))
        .orderBy(col("nk"))
    }),

    // Grouped top-k with BOUNDED aggregation state ([[graft.functions
    // .TopKAggregator]]): top-3 orders by price per priority where the
    // per-group state is k entries merged map-side — the shuffle carries at
    // most k rows per (group, map partition) and nothing is ever sorted.
    // This is the operator-shaped answer to the W1 window funnel: the
    // salted two-phase q_window_rank bounds the SORT, this bounds the
    // STATE. Ordering (price DESC, orderkey ASC) is total, so the DuckDB
    // row_number oracle reproduces the kept set exactly.
    "q_topk_agg" -> ((s, d) => {
      import s.implicits._
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
        .as[(String, Double, Long)]
        .groupByKey(_._1).mapValues(r => (r._2, r._3))
        .agg(new graft.functions.TopKAggregator(3).toColumn.name("top"))
        .toDF("o_orderpriority", "top")
        .select(col("o_orderpriority"), posexplode(col("top")))
        .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rank"),
          col("col._2").as("o_orderkey"), col("col._1").as("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rank"))
    }),

    // Reshaping: long→wide pivot with a FIXED value list — at scale an
    // unpinned pivot first runs a distinct scan to discover columns; pinning
    // makes the plan one aggregation (and keeps the oracle deterministic).
    "q_pivot_wide" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .select(col("user_id") +: Seq("click", "error", "purchase", "signup", "view")
          .map(c => coalesce(col(c), lit(0L)).as(c)): _*)
        .orderBy(col("user_id"))
    }),

    // Winsorization — clip each order total to its priority's [q1, q3]
    // band, the robust data-prep clamp before any mean-based model sees a
    // heavy tail. EXACT end to end: values ride integer cents, quartiles
    // interpolate at f ∈ {0, ¼, ½, ¾} (p·(n−1) has a dyadic fraction), so
    // 4·quartile is an integer — all compares and the winsorized sum run
    // in quarter-cent longs, no double ever materializes (the
    // q_text_ppl_buckets cross-multiply discipline). DOMAIN BOUND for the
    // exact percentile: 5 fixed priorities × bounded cents — a scaling
    // key/domain rides the q_agg_approx_percentile_user sketch contract.
    // Same two-pass broadcast shape as q_stats_mad: 5-row quartile table
    // back onto the stream, fact side never shuffles for the clamp.
    "q_stats_winsorize" -> ((s, d) => {
      val c = Tables.orders(s, d)
        .select(col("o_orderpriority"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("c"))
      val q = c.groupBy(col("o_orderpriority"))
        .agg((percentile(col("c"), lit(0.25)) * 4).cast("long").as("q1_4"),
          (percentile(col("c"), lit(0.75)) * 4).cast("long").as("q3_4"))
      c.join(broadcast(q), Seq("o_orderpriority"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("c") * 4 < col("q1_4"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("c") * 4 > col("q3_4"), 1L).otherwise(0L)).as("n_hi"),
          sum(when(col("c") * 4 < col("q1_4"), col("q1_4"))
            .when(col("c") * 4 > col("q3_4"), col("q3_4"))
            .otherwise(col("c") * 4)).cast("long").as("wsum_qc"))
        .orderBy(col("o_orderpriority"))
    }),

    // EQUI-DEPTH histogram — q_histogram's complement: bins hold equal
    // COUNTS, boundaries move with the data (the shape optimizers use for
    // selectivity and monitors use for heavy-tailed domains where
    // equi-width piles everything into one bucket). Classic two-pass:
    // pass 1 computes per-group quartile boundaries (p ∈ {¼, ½, ¾} —
    // dyadic interpolation points, so 4×quartile is an integer-exact
    // quarter-cent; the q_stats_winsorize discipline), pass 2 classifies
    // by integer cross-compare and aggregates. The 5-row boundary table
    // broadcasts back; the fact side never shuffles to classify. DOMAIN
    // BOUND for the exact percentile: 5 fixed priorities × bounded cents —
    // a scaling key/domain rides the q_agg_approx_percentile_user sketch
    // contract instead.
    "q_histogram_eqdepth" -> ((s, d) => {
      val c = Tables.orders(s, d)
        .select(col("o_orderpriority"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("c"))
      // ONE percentile buffer for all three boundaries (the array form) —
      // three scalar percentile aggregates would each maintain their own
      // full value→count map over the same rows (measured 3× slower).
      val q = c.groupBy(col("o_orderpriority"))
        .agg(percentile(col("c"), array(lit(0.25), lit(0.5), lit(0.75))).as("qs"))
        .select(col("o_orderpriority"),
          (element_at(col("qs"), 1) * 4).cast("long").as("q1_4"),
          (element_at(col("qs"), 2) * 4).cast("long").as("q2_4"),
          (element_at(col("qs"), 3) * 4).cast("long").as("q3_4"))
      c.join(broadcast(q), Seq("o_orderpriority"))
        .withColumn("bin", lit(1L)
          + (col("c") * 4 > col("q1_4")).cast("long")
          + (col("c") * 4 > col("q2_4")).cast("long")
          + (col("c") * 4 > col("q3_4")).cast("long"))
        .groupBy(col("o_orderpriority"), col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("c")).cast("long").as("sum_c"))
        .orderBy(col("o_orderpriority"), col("bin"))
    }),

    // Seasonal baseline + anomaly gate — the hour-of-day decomposition
    // behind rate monitors: per hour-of-day, the seasonal mean of the
    // event value (exact integer cents, floor-divided — operands
    // non-negative so div == //) and the count of rows above 2× their
    // hour's seasonal mean, compared by integer cross-multiplication
    // (c·n > 2·Σc) so no engine ever materializes the mean as a double.
    // Same two-pass shape as q_text_outliers: corpus-sized aggregation to
    // a 24-row seasonal table, broadcast back onto the stream for the
    // residual gate — at 100 TB both passes are map-side-combined scans,
    // and the join never shuffles the fact side.
    "q_time_seasonal" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(hour(col("ts")).cast("long").as("hr"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
      val season = e.groupBy(col("hr"))
        .agg(count(lit(1)).as("n"), sum(col("c")).cast("long").as("sum_c"))
      e.join(broadcast(season), Seq("hr"))
        .groupBy(col("hr"), col("n"), col("sum_c"))
        .agg(sum(when(col("c") * col("n") > col("sum_c") * 2, 1L).otherwise(0L))
          .as("n_above2x"))
        .select(col("hr"), col("n"),
          expr("sum_c div n").cast("long").as("seasonal_mean_c"),
          col("n_above2x"))
        .orderBy(col("hr"))
    }),

    // PIVOT's inverse — native UNPIVOT (Dataset.unpivot, Spark's melt):
    // the per-flag wide measure table relaid long as (flag, measure, val),
    // the wide→long reshape every metrics export needs. Measures aggregate
    // in DECIMAL before the round (the money discipline), and the unpivot
    // itself is a zero-shuffle Expand over the 3-row aggregate — at any
    // scale the reshape cost is the aggregate's, never the unpivot's.
    "q_unpivot_wide" -> ((s, d) => {
      val wide = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(sum(col("l_quantity").cast("decimal(18,6)")), 2).cast("double").as("qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,6)")), 2).cast("double").as("price"),
          round(sum(col("l_discount").cast("decimal(18,6)")), 2).cast("double").as("disc"),
          round(sum(col("l_tax").cast("decimal(18,6)")), 2).cast("double").as("tax"))
      wide.unpivot(
          Array(col("l_returnflag")),
          Array(col("qty"), col("price"), col("disc"), col("tax")),
          "measure", "val")
        .orderBy(col("l_returnflag"), col("measure"))
    }),

    // A-family: equi-width HISTOGRAM over a fixed declared domain — the
    // distribution profile every monitoring dashboard draws. 20 bins of
    // width 25 over value∈[0,500); out-of-range clamps to the edge bins so
    // the bin domain is closed (no silent row loss). One partial-aggregated
    // groupBy(bin) — the per-bin combine happens map-side, so the shuffle
    // carries ≤ 20 rows per task at ANY corpus size. Empty bins are
    // restored by a broadcast join against a generated 20-row bin spine
    // (the gapfill discipline of q_time_gapfill): a histogram with holes
    // where counts are zero reads as a different distribution. The value
    // sum rides exact µ-unit longs (sum of doubles is partition-order
    // dependent — the cross-engine FP hazard).
    "q_histogram" -> ((s, d) => {
      val binned = Tables.events(s, d)
        .select(greatest(lit(0L),
          least(lit(19L), floor(col("value") / 25.0).cast("long"))).as("bin"),
          col("value"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * lit(1e6)).cast("long")).as("s6"))
      val spine = s.range(0, 20).select(col("id").as("bin"))
      spine.join(binned, Seq("bin"), "left")
        .select(col("bin"),
          (col("bin") * 25.0).as("lo"),
          ((col("bin") + 1) * 25.0).as("hi"),
          coalesce(col("n"), lit(0L)).as("n"),
          round(coalesce(col("s6"), lit(0L)) / lit(1e6), 4).as("sum_v"))
        .orderBy(col("bin"))
    }),

    // A-family: INCREMENTAL AGGREGATE MAINTENANCE — fold a delta batch
    // into a STORED aggregate without rescanning the base corpus (the
    // daily "incremental rollup" of every lakehouse pipeline). count/sum
    // are algebraic, so new_agg = old_agg ⊎ delta_agg: one FULL OUTER
    // join on the agg key with coalesced adds. The fixture derives
    // old_agg from events with event_id % 11 != 0 and MATERIALIZES it
    // (Memo.pin — it stands in for the stored aggregate a
    // production run reads back; the delta is the only branch that
    // touches the raw table, PlanSpec-pinned). At 100 TB this is the
    // difference between aggregating a day and aggregating the lake.
    // The oracle recomputes from scratch over the whole table — the
    // merge==recompute identity is the contract. Values ride exact
    // µ-unit longs.
    "q_agg_incremental" -> ((s, d) => {
      def v6 = sum(round(col("value") * lit(1e6)).cast("long"))
      val ev = Tables.events(s, d)
      val oldAgg = ev.filter(col("event_id") % 11 =!= 0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_o"), v6.as("v_o")).pin()
      val deltaAgg = ev.filter(col("event_id") % 11 === 0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_d"), v6.as("v_d"))
      oldAgg.join(deltaAgg, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          (coalesce(col("n_o"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n"),
          (coalesce(col("v_o"), lit(0L)) + coalesce(col("v_d"), lit(0L))).as("v6"))
        .orderBy(col("user_id"))
    }),

    // Agg-to-array: per-user distinct event types as a canonical (sorted,
    // joined) string — collect_set order is nondeterministic, array_sort
    // makes it reproducible.
    "q_agg_collect" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",").as("types"))
        .orderBy(col("user_id"))
    }),

    // Grouping sets, full cube (rollup's sibling in q_rollup_report).
    "q_cube_report" -> ((s, d) => {
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,6)")), 2).cast("double").as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy(col("returnflag"), col("linestatus"))
    }),

    // Exact interpolated percentiles (R-7 definition in both engines).
    // DOMAIN BOUND the exact buffer relies on: Spark's percentile holds a
    // value→count map per group; safe here because the group key is 5
    // priorities and o_totalprice is bounded cents (≤ ~5e7 distinct values,
    // collapsed map-side by partial aggregation). Grouped quantiles over a
    // key or domain that GROWS with the data belong on the sketch path —
    // q_agg_approx_percentile_user is that contract.
    "q_agg_percentile" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 2).as("med"),
          round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"))
        .orderBy(col("o_orderpriority"))
    }),

    // A4': sketch-quantile CONTRACT — same closure pattern as
    // q_agg_approx_distinct: Spark's approx_percentile (KLL-style) and
    // DuckDB's approx_quantile (t-digest) will never hash-match each other,
    // so each engine checks its OWN sketch against its OWN exact median
    // within ±5%, and the driver compares the verdicts plus the exact
    // values. This is the 100 TB estimator: the exact percentile needs a
    // full sort per group; the sketch is one mergeable pass.
    "q_agg_approx_percentile" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          expr("percentile(o_totalprice, 0.5)").as("ex"),
          expr("approx_percentile(o_totalprice, 0.5, 1000)").as("apx"))
        .select(col("o_orderpriority"),
          round(col("ex"), 2).as("exact_med"),
          (abs(col("apx") - col("ex")) <= col("ex") * lit(0.05))
            .cast("long").as("within_tol"))
        .orderBy(col("o_orderpriority"))
    }),

    // A4'': the same sketch contract on a HIGH-CARDINALITY grouping key —
    // per-user median event value. user_id cardinality grows with the
    // data (unlike the 5 fixed priorities above), which is exactly where
    // the exact percentile's per-group value→count buffer dies at 100 TB:
    // an unbounded-domain double per user on one reducer. The mergeable
    // sketch is the production plan for every grouped quantile whose key
    // or value domain scales; the exact percentile here is only the
    // fixture-scale referee each engine checks its OWN sketch against.
    // The envelope is a RANK band, not a value tolerance: a quantile
    // sketch guarantees rank error (its estimate is a real data value
    // whose rank is within ε·n of the target), so with ~67 events per
    // user — where adjacent order statistics can sit >5% apart — the
    // honest contract is "the estimate lies within the exact [p45, p55]
    // band", each engine against its own sketch. The cross-engine value
    // is the exact median over integer cents, emitted ×2 as a BIGINT so
    // even-count midpoints (k+0.5 cents) stay integer-exact.
    "q_agg_approx_percentile_user" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("user_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
        .groupBy(col("user_id"))
        .agg(
          expr("percentile(c, 0.5)").as("ex"),
          expr("percentile(c, 0.45)").as("lo"),
          expr("percentile(c, 0.55)").as("hi"),
          expr("approx_percentile(c, 0.5, 1000)").as("apx"))
        .select(col("user_id"),
          (col("ex") * 2).cast("long").as("exact_med_c2"),
          (col("apx") >= col("lo") && col("apx") <= col("hi"))
            .cast("long").as("within_band"))
        .orderBy(col("user_id"))
    }),

    // §2.9 scalar suite: string/date/math/JSON functions in one projection —
    // all codegen'd built-ins, no UDFs.
    // DATA PROFILING — the per-column audit every ingest runs before
    // anything downstream trusts a table: row count, null count, exact
    // distinct count, and type-split min/max (numerics as doubles — ids
    // and epoch-µs are < 2^53 so the cast is exact; strings as strings —
    // never cross-rendered, the double→varchar formatting trap). ONE pass:
    // a single aggregate (the multi-countDistinct Expand, same trade as
    // q_corpus_report) over the table, then a 1-row→6-row unpivot. At
    // 100 TB the exact distincts would ride approx_count_distinct under
    // the q_agg_approx_distinct bounded-error contract instead — the
    // documented swap, same plan shape.
    // Statistical MODE per group — the most frequent integer value bucket
    // of each event type, with a DETERMINISTIC tie-break (smallest value
    // among the tied counts; an unordered mode is nondeterministic under
    // partitioning and would flap the oracle). Two partial-aggregated
    // phases: count per (type, bucket), then argmax via max_by over a
    // (count, -bucket) struct — no window, no low-cardinality partition
    // funnel; both shuffles carry pre-combined rows.
    "q_agg_mode" -> ((s, d) => {
      val counts = Tables.events(s, d)
        .select(col("event_type"), round(col("value")).cast("long").as("v"))
        .groupBy(col("event_type"), col("v"))
        .agg(count(lit(1)).as("n"))
      counts.groupBy(col("event_type"))
        .agg(
          max_by(col("v"), struct(col("n"), (-col("v")).as("tb"))).as("mode_v"),
          max(col("n")).as("mode_n"),
          count(lit(1)).as("n_buckets"))
        .orderBy(col("event_type"))
    }),

    // ASSOCIATION-RULE MINING (support / lift over co-occurring items) —
    // the market-basket pass: which event types co-occur in the same
    // user's history more than independence predicts. Baskets are per-user
    // DISTINCT type sets (one groupBy); pairs expand by a user-keyed
    // self-join with ta < tb — bounded by the item vocabulary (5 types ⇒
    // ≤10 pairs/user; at 100 TB the bound is the catalog size, never the
    // corpus). Lift is never materialized as a double: the >1 test is the
    // integer cross-multiplication n_ab·N > n_a·n_b, and support reports
    // in exact ppm. Per-item counts join back by broadcast (item-
    // cardinality table); the basket table shuffles once on user_id.
    "q_assoc_rules" -> ((s, d) => {
      // basket table MATERIALIZED: per-item counts, the pair self-join
      // (both branches) and the user-count scalar all read it — one corpus
      // scan, no recomputed lineage, no driver-side action.
      val items = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct().pin()
      val perItem = items.groupBy(col("event_type")).agg(count(lit(1)).as("n_i"))
      val nUsers = items.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_users"))
      val pairs = items.as("x").join(items.as("y"),
          col("x.user_id") === col("y.user_id")
            && col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(perItem.select(col("event_type").as("ta"), col("n_i").as("n_a"))), "ta")
        .join(broadcast(perItem.select(col("event_type").as("tb"), col("n_i").as("n_b"))), "tb")
        .crossJoin(broadcast(nUsers))
        .select(col("ta"), col("tb"), col("n_a"), col("n_b"), col("n_ab"),
          expr("(n_ab * 1000000L) div n_users").as("support_ppm"),
          (col("n_ab") * col("n_users") > col("n_a") * col("n_b")).cast("long").as("lift_gt1"))
        .orderBy(col("ta"), col("tb"))
    }),

    // SHUFFLE-SKEW AUDIT — the pre-join diagnostic that decides whether a
    // key needs the q_join_skew_salted path: hash the join key onto the
    // shuffle's own bucket space (32 reducers here — portable polynomial
    // hash so the oracle reproduces the routing) and report the reducer
    // load distribution as exact integers: max/mean imbalance in percent
    // and the Gini coefficient in ppm (0 = perfectly level, →1 = one
    // reducer owns the shuffle). Empty buckets restore via the spine (a
    // missing reducer is load 0, not "no data" — dropping it understates
    // skew). ONE corpus exchange (partial-aggregated bucket counts); the
    // ranking window is a deliberate 32-row metadata-scale pass.
    "q_profile_skew" -> ((s, d) => {
      val h = graft.functions.TextFns.rollingHash(
        concat(lit("skew:"), col("l_partkey").cast("string")))
      val counts = Tables.lineitem(s, d)
        .select(pmod(h, lit(32)).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      val spine = s.range(0, 32).select(col("id").as("bucket"))
      val b = spine.join(counts, Seq("bucket"), "left")
        .select(col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
      val byN = Window.orderBy(col("n"), col("bucket"))
      val all = Window.partitionBy(lit(1))
      b.withColumn("rn", row_number().over(byN).cast("long"))
        .withColumn("total", sum(col("n")).over(all))
        .withColumn("gterm", (col("rn") * 2 - 33) * col("n"))
        .groupBy(col("total"))
        .agg(count(lit(1)).as("n_buckets"), max(col("n")).as("max_n"),
          min(col("n")).as("min_n"), sum(col("gterm")).as("gnum"))
        .select(col("total"), col("n_buckets"), col("max_n"), col("min_n"),
          expr("(max_n * n_buckets * 100) div total").as("max_x_mean_pct"),
          expr("(gnum * 1000000) div (n_buckets * total)").as("gini_ppm"))
    }),

    "q_profile_events" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("ts_us", unix_micros(col("ts")))
      val p = ev.agg(
        count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("d_event_id"),
        countDistinct(col("ts_us")).as("d_ts"),
        countDistinct(col("user_id")).as("d_user_id"),
        countDistinct(col("event_type")).as("d_event_type"),
        countDistinct(col("value")).as("d_value"),
        countDistinct(col("props")).as("d_props"),
        sum(col("event_id").isNull.cast("long")).as("nn_event_id"),
        sum(col("ts_us").isNull.cast("long")).as("nn_ts"),
        sum(col("user_id").isNull.cast("long")).as("nn_user_id"),
        sum(col("event_type").isNull.cast("long")).as("nn_event_type"),
        sum(col("value").isNull.cast("long")).as("nn_value"),
        sum(col("props").isNull.cast("long")).as("nn_props"),
        min(col("event_id")).as("mn_event_id"), max(col("event_id")).as("mx_event_id"),
        min(col("ts_us")).as("mn_ts"), max(col("ts_us")).as("mx_ts"),
        min(col("user_id")).as("mn_user_id"), max(col("user_id")).as("mx_user_id"),
        min(col("value")).as("mn_value"), max(col("value")).as("mx_value"),
        min(col("event_type")).as("mns_event_type"), max(col("event_type")).as("mxs_event_type"),
        min(col("props")).as("mns_props"), max(col("props")).as("mxs_props"))
        // NOT pinned (round 21, measured 20x slower pinned): pinning forces
        // ONE aggregate computing all six countDistincts — Spark plans that
        // as an Expand that amplifies every row 7x (once per distinct
        // group, long `props` strings included) before the shuffle. Left
        // unpinned, Catalyst prunes each unionAll branch down to its OWN
        // single-distinct aggregate (no Expand): six cheap pruned passes
        // beat one 7x-amplified pass at every scale where Expand writes
        // more shuffle bytes than five extra column-pruned scans read.
      def row(name: String, dc: String, nn: String,
              mnNum: Option[String], mnStr: Option[String]) = {
        val (mnN, mxN) = mnNum.map(c => (col("mn_" + c).cast("double"), col("mx_" + c).cast("double")))
          .getOrElse((lit(null).cast("double"), lit(null).cast("double")))
        val (mnS, mxS) = mnStr.map(c => (col("mns_" + c), col("mxs_" + c)))
          .getOrElse((lit(null).cast("string"), lit(null).cast("string")))
        p.select(lit(name).as("col_name"), col("n"),
          col("nn_" + nn).as("n_null"), col("d_" + dc).as("n_distinct"),
          mnN.as("min_num"), mxN.as("max_num"), mnS.as("min_str"), mxS.as("max_str"))
      }
      row("event_id", "event_id", "event_id", Some("event_id"), None)
        .unionAll(row("ts_us", "ts", "ts", Some("ts"), None))
        .unionAll(row("user_id", "user_id", "user_id", Some("user_id"), None))
        .unionAll(row("event_type", "event_type", "event_type", None, Some("event_type")))
        .unionAll(row("value", "value", "value", Some("value"), None))
        .unionAll(row("props", "props", "props", None, Some("props")))
        .orderBy(col("col_name"))
    }),

    "q_scalar_suite" -> ((s, d) => {
      Tables.events(s, d)
        .select(
          col("event_id"),
          upper(col("event_type")).as("et_upper"),
          substring(col("event_type"), 1, 3).as("et3"),
          concat(col("event_type"), lit("#"), col("user_id").cast("string")).as("tag"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          hour(col("ts")).cast("long").as("hr"),
          round(col("value"), 1).as("v1"),
          round(abs(col("value") - 50), 2).as("av"),
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          to_date(col("ts")).cast("string").as("dt"),
          unix_micros(date_trunc("week", col("ts"))).as("week_us"))
        .withColumn("part0", element_at(split(col("tag"), "#"), 1))
        .orderBy(col("event_id"))
    }),

    // §2.9 array + map scalars over the embedding column: slice / zip_with /
    // aggregate higher-order functions (all codegen-planned builtins) and
    // map_keys on a constructed map. Folds run left-to-right in DOUBLE, the
    // same order DuckDB's list_sum(list_transform(...)) evaluates.
    "q_scalar_arrays" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(
          col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          round(aggregate(slice(col("embedding"), 1, 8), lit(0.0),
            (a, x) => a + x.cast("double")), 6).as("head8_sum"),
          round(aggregate(
            zip_with(col("embedding"), reverse(col("embedding")),
              (x, y) => x.cast("double") * y.cast("double")),
            lit(0.0), (a, x) => a + x), 6).as("rev_dot"),
          array_join(
            map_keys(map(lit("label"), col("label"),
                         lit("id"), col("vec_id").cast("string"))), ",").as("mkeys"))
        .orderBy(col("vec_id"))
    }),

    // §2.11 RECURSIVE CTE (WITH RECURSIVE → UnionLoop): the per-customer
    // lifetime-value walk — each customer's orders are consumed in date
    // order, accumulating spend in exact cents, until the 450k threshold
    // is crossed or the 8-order chain cap ends the walk. FRONTIER
    // recursion: level k holds every customer still walking after k
    // orders, and ONE equi join per level (on o_custkey, against the
    // rn-indexed order table) advances all of them in parallel — the
    // shape windows cannot express when the step depends on the
    // accumulated state (here the stop condition consumes the running
    // sum mid-walk). The rn table is materialized ONCE (Memo.pin)
    // so the loop does not recompute the row_number window per level.
    // Depth is doubly bounded — the rn < 8 chain cap and the data bound
    // (≤ 25 orders/customer) both sit far under Spark's default
    // 100-level limit — and the frontier shrinks monotonically (a row
    // leaves as soon as cum_c crosses), so at 100 TB each level is one
    // shrinking equi join on a high-cardinality key, never a cartesian.
    // Built on a newSession: the temp view must not leak across queries.
    // Round 21 rewrite (optimization guide §1.2 "the distributed
    // algorithm"): the frontier recursion above is the GENERAL shape, but
    // THIS walk's stop condition consumes a running sum of strictly
    // positive increments (o_totalprice > 0 ⇒ price_c ≥ 1 cent), so cum_c
    // is strictly increasing along each customer's chain and walk
    // membership collapses to a closed form: order rn is reached iff
    // rn ≤ 8 AND the PREVIOUS cumulative spend (cum_c − price_c, monotone
    // ⇒ it bounds every earlier prefix) is still under the threshold. That
    // turns 8 iterative UnionLoop joins (one exchange per level, plus the
    // pinned rn table) into ONE window pass (row_number and the running sum
    // share a single WindowExec/exchange) + one aggregation — identical
    // rows, proven against the unchanged recursive-CTE oracle
    // (RecursiveChainSpec pins equivalence vs the old spelling at two SFs).
    "q_recursive_chain" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("price_c"))
        .withColumn("rn", row_number().over(w))
        .withColumn("cum_c", sum(col("price_c")).over(w))
        .filter(col("rn") <= 8 && (col("cum_c") - col("price_c")) < 45000000L)
        .groupBy(col("o_custkey"))
        .agg(
          max(col("rn")).cast("bigint").as("hops"),
          max_by(col("o_orderkey"), col("rn")).as("last_okey"),
          max_by(col("cum_c"), col("rn")).as("cum_c"),
          when(max_by(col("cum_c"), col("rn")) >= 45000000L, 1L).otherwise(0L)
            .as("crossed"))
        .select(col("o_custkey").as("custkey"), col("hops"), col("last_okey"),
          col("cum_c"), col("crossed"))
        .orderBy(col("custkey"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q_window_rank" ->
      """SELECT o_orderpriority, CAST(rnk AS BIGINT) AS rnk, o_orderkey, o_totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |             rank() OVER (PARTITION BY o_orderpriority
        |                          ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |      FROM orders)
        |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin,
    "q_window_ntile" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |       CAST(ntile(4) OVER w AS BIGINT) AS tile,
        |       round(percent_rank() OVER w, 6) AS pr,
        |       round(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |QUALIFY o_orderkey % 100 = 0
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "q_window_ntile_dist" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |       CAST(row_number() OVER w AS BIGINT) AS rank,
        |       CAST(ntile(4) OVER w AS BIGINT) AS tile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |QUALIFY o_orderkey % 100 = 0
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    // Full recompute — the identity the incremental merge must reproduce.
    "q_agg_incremental" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS v6
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_histogram" ->
      """WITH binned AS (
        |  SELECT greatest(0, least(19, CAST(floor(value / 25.0) AS BIGINT))) AS bin,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS s6
        |  FROM events GROUP BY 1)
        |SELECT r.bin, r.bin * 25.0 AS lo, (r.bin + 1) * 25.0 AS hi,
        |       coalesce(n, 0) AS n, round(coalesce(s6, 0) / 1e6, 4) AS sum_v
        |FROM (SELECT CAST(range AS BIGINT) AS bin FROM range(20)) r
        |LEFT JOIN binned USING (bin)
        |ORDER BY bin""".stripMargin,
    "q_groupingsets_report" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin,
    "q_window_running" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum
        |FROM events ORDER BY event_id""".stripMargin,
    "q_window_range" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |       CAST(count(*) OVER w AS BIGINT) AS r2d_n,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,6))) OVER w, 2) AS DOUBLE) AS r2d_sum
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 172800000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_window_lag" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |       lag(event_id, 1) OVER w AS prev_id,
        |       epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS delta_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,
    "q_window_tumbling" ->
      """SELECT epoch_us(date_trunc('day', ts)) AS day_us, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_window_sliding" ->
      """SELECT epoch_us(date_trunc('day', ts) - INTERVAL (o) DAY) AS win_us,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events CROSS JOIN (VALUES (0), (1)) t(o)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_window_session" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus,
        |         CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                   >= 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (
        |  SELECT user_id, tus,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY tus
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM e)
        |SELECT user_id, min(tus) AS session_start_us, CAST(count(*) AS BIGINT) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin,
    "q_funnel_stages" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |a AS (SELECT *, min(CASE WHEN event_type = 'signup' THEN tus END) OVER w AS s1r FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |b AS (SELECT *, min(CASE WHEN event_type = 'view' AND tus >= s1r THEN tus END) OVER w AS s2r,
        |             CASE WHEN event_type = 'view' AND tus >= s1r THEN tus END AS s2c FROM a
        |      WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |c AS (SELECT *, min(CASE WHEN event_type = 'click' AND tus >= s2r THEN tus END) OVER w AS s3r,
        |             CASE WHEN event_type = 'click' AND tus >= s2r THEN tus END AS s3c FROM b
        |      WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (SELECT *, CASE WHEN event_type = 'purchase' AND tus >= s3r THEN tus END AS s4c FROM c),
        |u AS (SELECT user_id,
        |             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS r1,
        |             max(CASE WHEN s2c IS NOT NULL THEN 1 ELSE 0 END) AS r2,
        |             max(CASE WHEN s3c IS NOT NULL THEN 1 ELSE 0 END) AS r3,
        |             max(CASE WHEN s4c IS NOT NULL THEN 1 ELSE 0 END) AS r4
        |      FROM f GROUP BY user_id)
        |SELECT CAST(sum(r1) AS BIGINT) AS n_signup, CAST(sum(r2) AS BIGINT) AS n_view,
        |       CAST(sum(r3) AS BIGINT) AS n_click, CAST(sum(r4) AS BIGINT) AS n_purchase
        |FROM u""".stripMargin,
    "q_cohort_retention" ->
      """WITH e AS (SELECT user_id, date_trunc('day', ts) AS day FROM events),
        |c AS (SELECT user_id, min(day) AS c_day FROM e GROUP BY 1)
        |SELECT epoch_us(c.c_day) AS cohort_day_us,
        |       CAST(date_diff('day', c.c_day, e.day) AS BIGINT) AS day_offset,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_time_gapfill" ->
      """WITH e AS (SELECT date_trunc('day', ts) AS day, event_type, value FROM events),
        |daily AS (SELECT day, event_type, count(*) AS n, sum(value) AS tot
        |          FROM e GROUP BY 1, 2),
        |grid AS (SELECT unnest(generate_series((SELECT min(day) FROM e),
        |                                       (SELECT max(day) FROM e),
        |                                       INTERVAL 1 DAY)) AS day),
        |g AS (SELECT grid.day, t.event_type
        |      FROM grid CROSS JOIN (SELECT DISTINCT event_type FROM e) t)
        |SELECT epoch_us(g.day) AS day_us, g.event_type,
        |       CAST(coalesce(d.n, 0) AS BIGINT) AS n,
        |       round(coalesce(d.tot, 0.0), 2) AS total
        |FROM g LEFT JOIN daily d ON g.day = d.day AND g.event_type = d.event_type
        |ORDER BY day_us, g.event_type""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |a AS (SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
        |      FROM e),
        |b AS (SELECT *, CASE WHEN prev IS NULL OR tus - prev > 1800000000
        |                     THEN 1 ELSE 0 END AS brk FROM a),
        |c AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                AS session_id FROM b)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       min(tus) AS start_us, max(tus) AS end_us,
        |       max(tus) - min(tus) AS duration_us,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_purchases
        |FROM c GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    // Integer micro-unit probability both sides (operands non-negative, so
    // DuckDB // equals Spark div).
    "q_event_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |p AS (SELECT event_type AS from_type,
        |             lead(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |               AS to_type
        |      FROM e),
        |g AS (SELECT from_type, to_type, count(*) AS n FROM p
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT *, sum(n) OVER (PARTITION BY from_type) AS tot FROM g)
        |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
        |       CAST((n * 1000000) // tot AS BIGINT) AS p_micro
        |FROM t ORDER BY from_type, to_type""".stripMargin,
    // Dyadic weights keep every term integer; the +2^48/−2^40 offset makes
    // the floor division sign-safe (Spark div truncates, DuckDB // floors —
    // identical only on non-negative operands, which the offset guarantees).
    "q_window_firstlast" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |           FROM events),
        |w AS (SELECT user_id, event_id, c,
        |             first_value(c) OVER win AS first_c,
        |             last_value(c) OVER win AS last_c,
        |             nth_value(c, 3) OVER win AS nth3_c
        |      FROM e
        |      WINDOW win AS (PARTITION BY user_id ORDER BY tus, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, event_id, c, first_c, last_c, nth3_c
        |FROM w WHERE event_id % 50 = 0
        |ORDER BY user_id, event_id""".stripMargin,
    // lead() both sides; non-negative operands make // equal Spark's div.
    "q_time_twap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |           FROM events),
        |iv AS (SELECT user_id, c,
        |              (lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |               - tus) // 1000 AS dt_ms
        |       FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |       CAST(sum(c * dt_ms) AS BIGINT) AS wsum,
        |       CAST(sum(dt_ms) AS BIGINT) AS dt_total_ms,
        |       CAST(sum(c * dt_ms) // sum(dt_ms) AS BIGINT) AS twap_c
        |FROM iv WHERE dt_ms IS NOT NULL
        |GROUP BY user_id HAVING sum(dt_ms) > 0
        |ORDER BY user_id""".stripMargin,
    "q_time_ewma" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |                  CAST(round(value * 1e6) AS BIGINT) AS v6 FROM events)
        |SELECT user_id, event_id, tus, v6,
        |       CAST((v6 * 128
        |             + coalesce(lag(v6, 1) OVER win, 0) * 64
        |             + coalesce(lag(v6, 2) OVER win, 0) * 32
        |             + coalesce(lag(v6, 3) OVER win, 0) * 16
        |             + coalesce(lag(v6, 4) OVER win, 0) * 8
        |             + coalesce(lag(v6, 5) OVER win, 0) * 4
        |             + coalesce(lag(v6, 6) OVER win, 0) * 2
        |             + coalesce(lag(v6, 7) OVER win, 0)
        |             + 281474976710656) // 256 - 1099511627776 AS BIGINT) AS ewma6
        |FROM e
        |WINDOW win AS (PARTITION BY user_id ORDER BY tus, event_id)
        |ORDER BY user_id, tus, event_id""".stripMargin,
    "q_scd2_history" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |a AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |                AS prev_type FROM e),
        |c AS (SELECT * FROM a WHERE prev_type IS NULL OR prev_type <> event_type),
        |v AS (SELECT user_id, event_type, tus,
        |             row_number() OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |               AS version,
        |             lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |               AS next_tus
        |      FROM c)
        |SELECT user_id, CAST(version AS BIGINT) AS version, event_type AS state,
        |       tus AS valid_from_us,
        |       coalesce(next_tus, 9223372036854775807) AS valid_to_us
        |FROM v ORDER BY user_id, version""".stripMargin,
    // Floor shares + largest-remainder top-up in exact integer cents; // and
    // % match Spark div/% on the non-negative operands.
    "q_alloc_prorata" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |                   CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w0
        |            FROM lineitem),
        |o AS (SELECT o_orderkey,
        |             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS t
        |      FROM orders),
        |g AS (SELECT l_orderkey, l_linenumber, CAST(sum(w0) AS BIGINT) AS w,
        |             any_value(t) AS t
        |      FROM li JOIN o ON l_orderkey = o_orderkey GROUP BY 1, 2),
        |j AS (SELECT l_orderkey, l_linenumber, w, t, t * w AS tw,
        |             sum(w) OVER (PARTITION BY l_orderkey) AS ww
        |      FROM g),
        |b AS (SELECT *, tw // ww AS base, tw % ww AS rem FROM j),
        |r AS (SELECT *, t - sum(base) OVER (PARTITION BY l_orderkey) AS short,
        |             row_number() OVER (PARTITION BY l_orderkey
        |                                ORDER BY rem DESC, l_linenumber) AS rnk
        |      FROM b)
        |SELECT l_orderkey, l_linenumber, w AS price_c,
        |       CAST(base + CASE WHEN rnk <= short THEN 1 ELSE 0 END AS BIGINT) AS alloc_c
        |FROM r ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // quantile_cont interpolates exactly like Spark's percentile; every
    // median of integer cents is k or k+0.5 — exactly representable — and
    // the fence cross-multiplies 2x-scaled integer-valued doubles, so the
    // comparison is float-rounding-free in both engines.
    "q_stats_mad" ->
      """WITH c AS (SELECT o_orderpriority,
        |                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |           FROM orders),
        |m AS (SELECT o_orderpriority, quantile_cont(c, 0.5) AS med_c
        |      FROM c GROUP BY 1),
        |d AS (SELECT c.o_orderpriority, c.c, m.med_c,
        |             abs(c.c * 2 - m.med_c * 2) AS d2
        |      FROM c JOIN m USING (o_orderpriority)),
        |s AS (SELECT o_orderpriority, count(*) AS n, any_value(med_c) AS med_c,
        |             quantile_cont(d2, 0.5) AS mad2_c
        |      FROM d GROUP BY 1)
        |SELECT d.o_orderpriority, CAST(s.n AS BIGINT) AS n, s.med_c,
        |       s.mad2_c / 2 AS mad_c,
        |       CAST(sum(CASE WHEN d.d2 * 10000 > s.mad2_c * 44478 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_outliers
        |FROM d JOIN s USING (o_orderpriority)
        |GROUP BY 1, 2, 3, 4 ORDER BY d.o_orderpriority""".stripMargin,
    "q_topk_agg" ->
      """SELECT o_orderpriority, CAST(rn AS BIGINT) AS rank, o_orderkey, o_totalprice
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_orderpriority
        |                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3 ORDER BY o_orderpriority, rank""".stripMargin,
    "q_pivot_wide" ->
      """SELECT user_id,
        |       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_stats_winsorize" ->
      """WITH c AS (SELECT o_orderpriority,
        |                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |           FROM orders),
        |q AS (SELECT o_orderpriority,
        |             CAST(4 * quantile_cont(c, 0.25) AS BIGINT) AS q1_4,
        |             CAST(4 * quantile_cont(c, 0.75) AS BIGINT) AS q3_4
        |      FROM c GROUP BY 1)
        |SELECT c.o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN 4*c.c < q.q1_4 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |       CAST(sum(CASE WHEN 4*c.c > q.q3_4 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |       CAST(sum(CASE WHEN 4*c.c < q.q1_4 THEN q.q1_4
        |                     WHEN 4*c.c > q.q3_4 THEN q.q3_4
        |                     ELSE 4*c.c END) AS BIGINT) AS wsum_qc
        |FROM c JOIN q USING (o_orderpriority)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_histogram_eqdepth" ->
      """WITH c AS (SELECT o_orderpriority,
        |                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |           FROM orders),
        |q AS (SELECT o_orderpriority,
        |             CAST(4 * quantile_cont(c, 0.25) AS BIGINT) AS q1_4,
        |             CAST(4 * quantile_cont(c, 0.50) AS BIGINT) AS q2_4,
        |             CAST(4 * quantile_cont(c, 0.75) AS BIGINT) AS q3_4
        |      FROM c GROUP BY 1)
        |SELECT c.o_orderpriority,
        |       CAST(1 + CASE WHEN 4*c.c > q.q1_4 THEN 1 ELSE 0 END
        |              + CASE WHEN 4*c.c > q.q2_4 THEN 1 ELSE 0 END
        |              + CASE WHEN 4*c.c > q.q3_4 THEN 1 ELSE 0 END AS BIGINT) AS bin,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(c.c) AS BIGINT) AS sum_c
        |FROM c JOIN q USING (o_orderpriority)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_time_seasonal" ->
      """WITH e AS (SELECT CAST(hour(ts) AS BIGINT) AS hr,
        |                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |           FROM events),
        |s AS (SELECT hr, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sum_c
        |      FROM e GROUP BY hr)
        |SELECT s.hr, s.n, CAST(sum_c // n AS BIGINT) AS seasonal_mean_c,
        |       CAST(sum(CASE WHEN e.c * s.n > 2 * s.sum_c THEN 1 ELSE 0 END) AS BIGINT) AS n_above2x
        |FROM e JOIN s ON e.hr = s.hr
        |GROUP BY s.hr, s.n, s.sum_c ORDER BY s.hr""".stripMargin,
    "q_unpivot_wide" ->
      """WITH w AS (SELECT l_returnflag,
        |                  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS qty,
        |                  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS price,
        |                  CAST(round(sum(CAST(l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS disc,
        |                  CAST(round(sum(CAST(l_tax AS DECIMAL(18,6))), 2) AS DOUBLE) AS tax
        |           FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, measure, val
        |FROM (UNPIVOT w ON qty, price, disc, tax INTO NAME measure VALUE val)
        |ORDER BY l_returnflag, measure""".stripMargin,
    "q_agg_collect" ->
      """SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_cube_report" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q_agg_percentile" ->
      """SELECT o_orderpriority,
        |       round(quantile_cont(o_totalprice, 0.5), 2) AS med,
        |       round(quantile_cont(o_totalprice, 0.9), 2) AS p90
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // DuckDB checks ITS OWN t-digest against the same ±5% envelope — raw
    // sketch estimates are never compared across engines.
    "q_agg_approx_percentile" ->
      """SELECT o_orderpriority,
        |       round(quantile_cont(o_totalprice, 0.5), 2) AS exact_med,
        |       CAST(CASE WHEN abs(approx_quantile(o_totalprice, 0.5)
        |                          - quantile_cont(o_totalprice, 0.5))
        |                      <= quantile_cont(o_totalprice, 0.5) * 0.05
        |                 THEN 1 ELSE 0 END AS BIGINT) AS within_tol
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // Same own-sketch rank-band envelope, per-user: DuckDB's t-digest vs
    // its own exact [p45, p55] band — raw sketch estimates never cross
    // engines; only the integer-exact 2×cents median does.
    "q_agg_approx_percentile_user" ->
      """WITH c AS (SELECT user_id,
        |                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |           FROM events)
        |SELECT user_id,
        |       CAST(2 * quantile_cont(c, 0.5) AS BIGINT) AS exact_med_c2,
        |       CAST(CASE WHEN approx_quantile(c, 0.5)
        |                      BETWEEN quantile_cont(c, 0.45) AND quantile_cont(c, 0.55)
        |                 THEN 1 ELSE 0 END AS BIGINT) AS within_band
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_agg_salted_twophase" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_setop_union" ->
      """SELECT c_nationkey AS nk FROM customer
        |UNION SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,
    "q_setop_except" ->
      """SELECT o_orderkey AS k FROM orders
        |EXCEPT SELECT l_orderkey AS k FROM lineitem ORDER BY k""".stripMargin,
    "q_setop_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,
    // Numeric min/max cross-rendered ONLY as doubles (ids/epoch-µs < 2^53,
    // exact); strings stay strings — both engines binary-collate ASCII.
    // Tie-break mirrored via the (n DESC, v ASC) rank — same total order
    // as the Spark side's (n, -v) argmax struct.
    "q_agg_mode" ->
      """WITH c AS (SELECT event_type, CAST(round(value) AS BIGINT) AS v,
        |                  CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, v AS mode_v, n AS mode_n,
        |             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_buckets
        |      FROM c
        |      QUALIFY row_number() OVER (PARTITION BY event_type
        |                                 ORDER BY n DESC, v) = 1)
        |SELECT event_type, mode_v, mode_n, n_buckets
        |FROM m ORDER BY event_type""".stripMargin,
    "q_assoc_rules" ->
      """WITH items AS (SELECT DISTINCT user_id, event_type FROM events),
        |per_item AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_i
        |             FROM items GROUP BY 1),
        |nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM items),
        |pairs AS (SELECT x.event_type AS ta, y.event_type AS tb,
        |                 CAST(count(*) AS BIGINT) AS n_ab
        |          FROM items x JOIN items y
        |            ON x.user_id = y.user_id AND x.event_type < y.event_type
        |          GROUP BY 1, 2)
        |SELECT ta, tb, a.n_i AS n_a, b.n_i AS n_b, n_ab,
        |       CAST((n_ab * 1000000) // n_users AS BIGINT) AS support_ppm,
        |       CAST(n_ab * n_users > a.n_i * b.n_i AS BIGINT) AS lift_gt1
        |FROM pairs JOIN per_item a ON pairs.ta = a.event_type
        |           JOIN per_item b ON pairs.tb = b.event_type, nu
        |ORDER BY ta, tb""".stripMargin,
    // Same portable hash fragment as the Spark side; non-negative operands
    // so // and div agree, and the asc (n, bucket) rank order is total.
    "q_profile_skew" ->
      s"""WITH b0 AS (SELECT ${TextQueries.rhSql("('skew:' || CAST(l_partkey AS VARCHAR))")} % 32 AS bucket
         |            FROM lineitem),
         |b1 AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b0 GROUP BY 1),
         |b AS (SELECT r.bucket, coalesce(n, 0) AS n
         |      FROM (SELECT CAST(range AS BIGINT) AS bucket FROM range(32)) r
         |      LEFT JOIN b1 USING (bucket)),
         |rnk AS (SELECT n,
         |               CAST(row_number() OVER (ORDER BY n, bucket) AS BIGINT) AS rn,
         |               CAST(sum(n) OVER () AS BIGINT) AS total
         |        FROM b)
         |SELECT total, CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(max(n) AS BIGINT) AS max_n, CAST(min(n) AS BIGINT) AS min_n,
         |       CAST((max(n) * count(*) * 100) // total AS BIGINT) AS max_x_mean_pct,
         |       CAST((sum((rn * 2 - 33) * n) * 1000000) // (count(*) * total) AS BIGINT) AS gini_ppm
         |FROM rnk GROUP BY total""".stripMargin,
    "q_profile_events" ->
      """WITH p AS (SELECT count(*) AS n,
        |  count(DISTINCT event_id) AS d_event_id,
        |  count(DISTINCT epoch_us(ts)) AS d_ts,
        |  count(DISTINCT user_id) AS d_user_id,
        |  count(DISTINCT event_type) AS d_event_type,
        |  count(DISTINCT value) AS d_value,
        |  count(DISTINCT props) AS d_props,
        |  count(*) - count(event_id) AS nn_event_id,
        |  count(*) - count(ts) AS nn_ts,
        |  count(*) - count(user_id) AS nn_user_id,
        |  count(*) - count(event_type) AS nn_event_type,
        |  count(*) - count(value) AS nn_value,
        |  count(*) - count(props) AS nn_props,
        |  min(event_id) AS mn_event_id, max(event_id) AS mx_event_id,
        |  min(epoch_us(ts)) AS mn_ts, max(epoch_us(ts)) AS mx_ts,
        |  min(user_id) AS mn_user_id, max(user_id) AS mx_user_id,
        |  min(value) AS mn_value, max(value) AS mx_value,
        |  min(event_type) AS mns_et, max(event_type) AS mxs_et,
        |  min(props) AS mns_props, max(props) AS mxs_props
        |  FROM events)
        |SELECT * FROM (
        |SELECT 'event_id' AS col_name, CAST(n AS BIGINT) AS n,
        |       CAST(nn_event_id AS BIGINT) AS n_null,
        |       CAST(d_event_id AS BIGINT) AS n_distinct,
        |       CAST(mn_event_id AS DOUBLE) AS min_num,
        |       CAST(mx_event_id AS DOUBLE) AS max_num,
        |       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM p
        |UNION ALL SELECT 'ts_us', n, nn_ts, d_ts,
        |       CAST(mn_ts AS DOUBLE), CAST(mx_ts AS DOUBLE), NULL, NULL FROM p
        |UNION ALL SELECT 'user_id', n, nn_user_id, d_user_id,
        |       CAST(mn_user_id AS DOUBLE), CAST(mx_user_id AS DOUBLE), NULL, NULL FROM p
        |UNION ALL SELECT 'event_type', n, nn_event_type, d_event_type,
        |       NULL, NULL, mns_et, mxs_et FROM p
        |UNION ALL SELECT 'value', n, nn_value, d_value,
        |       mn_value, mx_value, NULL, NULL FROM p
        |UNION ALL SELECT 'props', n, nn_props, d_props,
        |       NULL, NULL, mns_props, mxs_props FROM p
        |) ORDER BY col_name""".stripMargin,
    "q_scalar_suite" ->
      """SELECT event_id,
        |       upper(event_type) AS et_upper,
        |       substr(event_type, 1, 3) AS et3,
        |       event_type || '#' || CAST(user_id AS VARCHAR) AS tag,
        |       strftime(ts, '%Y-%m-%d') AS day,
        |       CAST(hour(ts) AS BIGINT) AS hr,
        |       round(value, 1) AS v1,
        |       round(abs(value - 50), 2) AS av,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
        |       epoch_us(date_trunc('week', ts)) AS week_us,
        |       split_part(event_type || '#' || CAST(user_id AS VARCHAR), '#', 1) AS part0
        |FROM events ORDER BY event_id""".stripMargin,
    "q_scalar_arrays" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |       round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 6) AS head8_sum,
        |       round(list_sum(list_transform(list_zip(embedding, list_reverse(embedding)),
        |             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 6) AS rev_dot,
        |       'label,id' AS mkeys
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    // Same recursion both dialects (DuckDB's RECURSIVE scopes the whole
    // WITH list, so rec_ord can sit beside walk); arg_max = Spark max_by.
    "q_recursive_chain" ->
      """WITH RECURSIVE rec_ord AS (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders),
        |walk(custkey, rn, okey, cum_c) AS (
        |  SELECT o_custkey, rn, o_orderkey, price_c FROM rec_ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.o_custkey, o.rn, o.o_orderkey, w.cum_c + o.price_c
        |  FROM walk w JOIN rec_ord o
        |    ON o.o_custkey = w.custkey AND o.rn = w.rn + 1
        |  WHERE w.cum_c < 45000000 AND w.rn < 8)
        |SELECT custkey, CAST(max(rn) AS BIGINT) AS hops,
        |       arg_max(okey, rn) AS last_okey,
        |       arg_max(cum_c, rn) AS cum_c,
        |       CAST(CASE WHEN arg_max(cum_c, rn) >= 45000000 THEN 1 ELSE 0 END AS BIGINT) AS crossed
        |FROM walk GROUP BY custkey ORDER BY custkey""".stripMargin
  )
}
