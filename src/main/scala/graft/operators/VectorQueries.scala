package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Memo
import graft.sources.Memo.PinOps
import graft.functions.VectorFns

/** Similarity search + multimodal columns (SURVEY.md §2.11): brute-force
  * cosine top-k (baseline), sign-bit-LSH-bucketed ANN (scale path),
  * embedding near-dup pairs, and the documents⋈embeddings multimodal
  * projection with an opaque-binary feature pass.
  *
  * All vector math is [[VectorFns]] double-precision folds so the DuckDB
  * oracle reproduces values; cosines are rounded to 6 dp BEFORE the top-k
  * order/cut so the selection itself is cross-engine deterministic.
  */
object VectorQueries extends QueryPack {

  /** IVF coarse quantizer, TRAINED: 2 seeded Lloyd iterations starting from
    * the embeddings of vec_id 1..8 (deterministic init — no RNG to ship to
    * the oracle). Each iteration is (a) nearest-centroid assignment via the
    * same map-side partial max_by pass as [[assignCells]] and (b) the
    * element-wise mean per cell (posexplode → avg per (cell, dim) →
    * re-collect ordered), rounded to 6 dp and cast back to float32 in BOTH
    * engines so the double-summation-order difference between Spark's
    * partial aggregates and DuckDB's sequential fold is absorbed before any
    * downstream comparison. An emptied cell keeps its previous centroid
    * (left-join + coalesce) so k stays fixed. The 8-row result is
    * memoized per (context, embeddings fingerprint) and pinned: downstream
    * queries reference it from several plan branches (assignment +
    * probe-cell ranking) and must not re-run training per branch, and the
    * trained quantizer is a persisted model artifact — in production it is
    * trained once per corpus snapshot and every probe reuses it.
    *
    * Scale shape: each Lloyd iteration is one broadcast-join pass over the
    * corpus plus a (cell, dim)-keyed aggregate — exactly the k-means-on-
    * Spark formulation that holds at 100 TB (centroids always broadcast,
    * never the data). Measured at sf0.01: cell occupancy spread tightens
    * from 44–76 (seeds) to 52–68 (trained), max/min 1.73 → 1.31.
    */
  private val ivfCentroids = Memo.artifact("embeddings")(trainCentroids)

  private def trainCentroids(s: org.apache.spark.sql.SparkSession, d: String) = {
    val e = Tables.embeddings(s, d)
    var cents = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .pin()
    for (i <- 1 to 2) {
      val assigned = e.crossJoin(broadcast(cents))
        .withColumn("sim", VectorFns.cosine(col("embedding"), col("ce")))
        .groupBy(col("vec_id"))
        .agg(max_by(
          struct(col("cid"), col("embedding")),
          struct(col("sim"), (lit(0) - col("cid")).as("negcid"))).as("m"))
        .select(col("m.cid").as("cid"), col("m.embedding").as("embedding"))
      // Mean via exact µ-unit integer sums (not avg()): double partial-
      // aggregate merge order is partition-dependent, the cross-engine FP
      // hazard — a boundary-value divergence here would silently desync
      // every centroid consumer. s6/cnt is then deterministic scalar math.
      val means = assigned
        .select(col("cid"), posexplode(col("embedding")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(round(col("col").cast("double") * lit(1e6)).cast("long")).as("s6"),
          count(lit(1)).as("cnt"))
        .groupBy(col("cid"))
        .agg(transform(
          sort_array(collect_list(struct(col("pos"),
            (col("s6") / col("cnt") / lit(1e6)).as("mv")))),
          p => round(p.getField("mv"), 6).cast("float")).as("nce"))
      cents = cents.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("nce"), col("ce")).as("ce"))
      if (i < 2) cents = cents.pin() // the last iteration is the artifact's pin
    }
    cents
  }

  /** The IVF-Flat index: every vector → its nearest of the 8 TRAINED
    * centroids ([[ivfCentroids]]), as (vec_id, cell, embedding) — the
    * inverted lists. Memoized per (context, embeddings fingerprint) beside
    * the centroids it is built from and pinned once: every IVF consumer
    * (q_simsearch_ivf, _ivf2, _ivf_drift, _ivfpq, the recall arms and the
    * residual-PQ artifacts through [[pqResSubs]]) probes this one table
    * instead of re-running the assignment. A probe filters the index by
    * cell; nothing partitions it by cell, so a probe still reads the whole
    * pinned table. At 100 TB the artifact is persisted like every artifact
    * in `reliable` checkpoint mode.
    */
  private[graft] val ivfAssigned = Memo.artifact("embeddings")(assignCells)

  /** The build of [[ivfAssigned]]: one max_by pass over the embeddings ×
    * broadcast-centroids cross join — no window: max_by's (sim, -cid)
    * struct ordering reproduces (sim DESC, cid ASC). Its struct buffers
    * are not mutable in place, so Spark plans it as a SortAggregate: a
    * map-side partial and a final, each behind a Sort on vec_id, around
    * one hash exchange (the q_compact_lww shape).
    */
  private[graft] def assignCells(s: org.apache.spark.sql.SparkSession, d: String) = {
    val e = Tables.embeddings(s, d)
    e.crossJoin(broadcast(ivfCentroids(s, d)))
      .withColumn("sim", VectorFns.cosine(col("embedding"), col("ce")))
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("cid"), col("embedding")),
        struct(col("sim"), (lit(0) - col("cid")).as("negcid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cell"), col("m.embedding").as("embedding"))
  }

  /** Multi-band sign-LSH candidate pairs with exact cosine: 8 bands of 8
    * sign bits each (64 dims); a pair is a candidate iff ANY band's bucket
    * matches (measured 128× pair pruning at sf0.1 with perfectly balanced
    * 256-way buckets); exact cosine on candidates only, deduped across
    * bands. The buckets expand through [[TextQueries.cappedPairs]], the
    * minhash pipeline's cap policy: all pairs of a bucket of 2–100
    * vectors, and a star to the minimum vec_id of a larger one, so a hot
    * bucket can't reintroduce the quadratic join at 100 TB and its vectors
    * stay candidates. The in-bucket expansion is cappedPairs' interpreted
    * collect-and-transform, slower than the codegen'd (band, bkt)
    * self-join it replaced: the 20× rows soak over sf0.01 (2.09 M in-bucket
    * pair rows either way) ran q_dedup_embed in 8.0–10.1 s against
    * 6.2–8.0 s, on 4 cores. Returns (vec_a < vec_b, cos_r rounded to 6 dp).
    */
  private[graft] def embedCandidates(s: org.apache.spark.sql.SparkSession, d: String) = {
    val e = Tables.embeddings(s, d)
    // Round 22 (guide §8 "decide with small rows, move big rows once"): the
    // band rows are THIN — (vec_id, band, bkt), no embedding. Candidate
    // PAIRS are decided on thin rows and deduped, then the embeddings
    // attach once per endpoint to the (128×-pruned) pair set — the payload
    // crosses one vec-keyed join per side instead of riding an
    // 8×-amplified band exchange, and the cosine runs once per pair.
    val banded = e.select(
        col("vec_id"),
        posexplode(VectorFns.signBands(col("embedding"))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkt")
    TextQueries.cappedPairs(banded, Seq("band", "bkt"), col("vec_id"), Nil)((a, b) =>
        struct(a.as("vec_a"), b.as("vec_b")))
      .distinct() // a pair colliding in k bands appears k times
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .select(
        col("vec_a"), col("vec_b"),
        round(VectorFns.cosine(col("ea"), col("eb")), 6).as("cos_r"))
  }

  /** [[embedCandidates]] materialized once per (context, source fingerprint) — the candidate
    * pair table is a per-snapshot artifact shared by every consumer that
    * builds ON the pairs (the kNN graph today; clustering tomorrow), the
    * same pattern as the dedup family's edge/label memos. q_dedup_embed
    * itself does NOT read this memo — it times the pipeline honestly.
    */
  private val embedPairs = Memo.artifact("embeddings")(embedCandidates)

  /** Long-form subvector view for product quantization: (vec_id, m, sv)
    * with M=4 subspaces of 16 dims each. One projection, no shuffle.
    */
  private def pqSubs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d)
      .select(col("vec_id"), explode(array((0 until 4).map(m =>
        struct(lit(m).cast("long").as("m"),
          slice(col("embedding"), m * 16 + 1, 16).as("sv"))): _*)).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))

  /** Squared L2 distance in exact MICRO-UNIT longs: round((|a|²+|b|²-2a·b)
    * ·1e6). All argmin/top-k comparisons downstream are integer compares and
    * the ADC sum is integer addition — cross-engine deterministic (the
    * double-sum order hazard q_text_dsir hit, preempted). The distance is
    * the fused [[VectorFns.sqL2]] codegen kernel (one array pass,
    * bit-equal to the composed three-dot form the oracle mirrors).
    */
  private def d2u(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    round(VectorFns.sqL2(a, b) * lit(1e6)).cast("long")

  /** PQ codebooks, TRAINED: K=4 codes per subspace, seeds = the subvectors
    * of vec_id 1..4, ONE Lloyd iteration (µ-unit L2 assignment with (du,
    * code) tie-break, element-wise mean rounded to 6 dp and cast back to
    * float32 — the [[trainCentroids]] discipline per subspace). Emptied
    * codes keep their seed (left join + coalesce). 16-row artifact,
    * memoized: the codebook is a per-snapshot model, trained once.
    */
  private val pqCodebooks = Memo.artifact("embeddings")((s, d) =>
    trainPqCodebooks(pqSubs(s, d)))

  /** Shared PQ codebook trainer over a (vec_id, m, sv) subvector view —
    * raw subvectors for the flat PQ index, residual subvectors for IVF-PQ.
    * Means ride exact µ-unit integer sums (the trainCentroids discipline):
    * PQ compounds any FP divergence across 16 cells and the chained
    * memoized artifacts (codes, ADC tables), so the mean must be
    * partition-order-independent.
    */
  private def trainPqCodebooks(subs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val seeds = subs.filter(col("vec_id").between(1, 4))
        .select(col("m"), col("vec_id").as("code"), col("sv").as("ce"))
        .pin()
      val assigned = subs.join(broadcast(seeds), Seq("m"))
        .withColumn("du", d2u(col("sv"), col("ce")))
        .groupBy(col("vec_id"), col("m"))
        .agg(min_by(struct(col("code"), col("sv")), struct(col("du"), col("code"))).as("a"))
        .select(col("m"), col("a.code").as("code"), col("a.sv").as("sv"))
      val means = assigned
        .select(col("m"), col("code"), posexplode(col("sv")))
        .groupBy(col("m"), col("code"), col("pos"))
        .agg(sum(round(col("col").cast("double") * lit(1e6)).cast("long")).as("s6"),
          count(lit(1)).as("cnt"))
        .groupBy(col("m"), col("code"))
        .agg(transform(
          sort_array(collect_list(struct(col("pos"),
            (col("s6") / col("cnt") / lit(1e6)).as("mv")))),
          p => round(p.getField("mv"), 6).cast("float")).as("nce"))
      seeds.join(means, Seq("m", "code"), "left")
        .select(col("m"), col("code"), coalesce(col("nce"), col("ce")).as("ce"))
    }

  /** Residual subvector view for IVF-PQ (the FAISS IndexIVFPQ design): the
    * PQ input is (embedding − centroid[cell]), not the raw vector —
    * quantizing the residual spends the 4-byte code budget on the
    * within-cell offset the coarse quantizer can't express, which is what
    * buys IVF-PQ its recall at the same code size. float32 subtraction is
    * IEEE-identical in both engines, so the oracle mirrors it exactly.
    */
  private def pqResSubs(s: org.apache.spark.sql.SparkSession, d: String) =
    ivfAssigned(s, d)
      .join(broadcast(ivfCentroids(s, d)), col("cell") === col("cid"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("ce"), (x, y) => x - y).as("res"))
      .select(col("vec_id"), col("cell"), explode(array((0 until 4).map(m =>
        struct(lit(m).cast("long").as("m"),
          slice(col("res"), m * 16 + 1, 16).as("sv"))): _*)).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))

  /** Residual codebooks — trained on [[pqResSubs]] with the same seeded
    * one-iteration Lloyd pass as the flat-PQ codebooks. Memoized: a
    * per-snapshot model artifact, like the coarse quantizer it refines.
    */
  private val pqResCodebooks = Memo.artifact("embeddings")((s, d) =>
    trainPqCodebooks(pqResSubs(s, d)))

  /** Residual PQ codes — every vector's 4 subspace codes over its residual;
    * the IVF-PQ index rows. Memoized like [[pqCodes]].
    */
  private val pqResCodes = Memo.artifact("embeddings")((s, d) =>
    pqResSubs(s, d).join(broadcast(pqResCodebooks(s, d)), Seq("m"))
      .withColumn("du", d2u(col("sv"), col("ce")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("code"), struct(col("du"), col("code"))).as("code")))

  /** PQ encode pass: every vector → its 4 subspace codes (the compressed
    * index row). One broadcast-join + argmin pass.
    */
  private def pqEncode(s: org.apache.spark.sql.SparkSession, d: String) =
    pqSubs(s, d).join(broadcast(pqCodebooks(s, d)), Seq("m"))
      .withColumn("du", d2u(col("sv"), col("ce")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("code"), struct(col("du"), col("code"))).as("code"))

  /** [[pqEncode]] memoized — the encoded table IS the PQ index artifact
    * (built once per snapshot); composition queries (IVF-PQ) read it.
    * q_simsearch_pq itself encodes inline, timing the build honestly.
    */
  private val pqCodes = Memo.artifact("embeddings")(pqEncode)

  /** Crafted-PNG chunk assembly — ONE definition shared by
    * q_dedup_phash_png (grayscale, color type 0) and q_multimodal_features
    * (palette, color type 3 with a 256-entry identity-gray PLTE, so Rec.601
    * luma of index i is exactly i and the decoded plane equals the text
    * bytes). Expects `hx` (hex of the doc's UTF-8 bytes) and `h` (row
    * count) columns in scope; returns the full 4-wide, depth-8 PNG payload:
    * real IHDR/[PLTE/]IDAT/IEND chunks with correct CRC32s (Spark's
    * codegen'd crc32 — the constant PLTE's CRC constant-folds), and a zlib
    * stream carrying the filter-0 scanlines as one STORED deflate block
    * with zero Adler-32 ([[graft.multimodal.PngDecode]] raw-inflates;
    * full-zlib goldens cover validity) — the one deflate shape a SQL
    * oracle can predict byte-for-byte (total bytes: 68 + 5·h grayscale,
    * 848 + 5·h palette). PRECONDITION: h ≥ 1 — sequence(0, h-1) at h = 0
    * runs DESCENDING ([0,-1]) and would splice garbage scanlines, so both
    * callers gate <4-byte docs out of the wrap (phash_png filters them,
    * q_multimodal_features leaves them on the raw-bytes arm).
    */
  private def craftedPng(paletted: Boolean): org.apache.spark.sql.Column = {
    val rawLen = col("h") * lit(5) // per row: 1 filter byte + 4 bytes
    def hexByte(c: org.apache.spark.sql.Column) = lpad(hex(c), 2, "0")
    def hexBe32(c: org.apache.spark.sql.Column) = lpad(hex(c), 8, "0")
    def crcHex(bodyHex: org.apache.spark.sql.Column) = hexBe32(crc32(unhex(bodyHex)))
    // filter-0 scanlines: '00' + 4 payload bytes per row, one linear pass
    val scan = expr(
      "array_join(transform(sequence(0, h-1), r -> concat('00', substr(hx, r*8+1, 8))), '')")
    // zlib: header 7801, one final STORED block (len/~len LE), zero Adler-32
    val zlibHex = concat(lit("780101"),
      hexByte(rawLen.bitwiseAND(lit(255))), hexByte(shiftright(rawLen, 8)),
      hexByte((lit(65535) - rawLen).bitwiseAND(lit(255))),
      hexByte(shiftright(lit(65535) - rawLen, 8)),
      scan, lit("00000000"))
    // IHDR: w=4, h, depth 8, color type 3 (palette) or 0 (gray), no interlace
    val ihdrFull = concat(lit("49484452"),
      lit("00000004"), hexBe32(col("h")),
      lit(if (paletted) "0803000000" else "0800000000"))
    val plteChunk =
      if (paletted) {
        val plteFull = lit("504C5445" +
          (0 until 256).map(i => f"$i%02X" * 3).mkString)
        concat(lit("00000300"), plteFull, crcHex(plteFull))
      } else lit("")
    val idatFull = concat(lit("49444154"), zlibHex)
    unhex(concat(
      lit("89504E470D0A1A0A"),
      lit("0000000D"), ihdrFull, crcHex(ihdrFull),
      plteChunk,
      hexBe32(rawLen + lit(11)), idatFull, crcHex(idatFull),
      lit("0000000049454E44AE426082")))
  }

  /** nprobe=2 cell selection: each probe's two nearest TRAINED centroids by
    * rounded cosine, ties to the lower cid. `probes` is (pid, pe); returns
    * (pid, pcell) — 2 rows per probe, always tiny. ONE definition shared by
    * the recall harness's ivf2 arm and q_simsearch_ivfpq (and mirrored by
    * the single `ivfTop2Cte` oracle fragment), so an nprobe/tie-break/
    * rounding change can never desynchronize the harness from the index it
    * measures.
    */
  private def ivfTop2Cells(
      s: org.apache.spark.sql.SparkSession, d: String,
      probes: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ivfCentroids(s, d).crossJoin(broadcast(probes))
      .select(col("pid"), col("cid"),
        round(VectorFns.cosine(col("ce"), col("pe")), 6).as("psim"))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("psim").desc, col("cid"))))
      .filter(col("crn") <= 2)
      .select(col("pid"), col("cid").as("pcell"))
  }

  /** Per-probe ADC lookup table: distance from each probe's subvector to
    * every codebook entry — 20×4×4 rows, always broadcast.
    */
  private def pqAdcTable(s: org.apache.spark.sql.SparkSession, d: String) =
    pqSubs(s, d).filter(col("vec_id") < 20)
      .select(col("vec_id").as("pid"), col("m"), col("sv").as("qsv"))
      .join(broadcast(pqCodebooks(s, d)), Seq("m"))
      .select(col("pid"), col("m"), col("code"), d2u(col("qsv"), col("ce")).as("pdu"))

  /** Canonical ADC ranking: µ-unit subspace distances summed per (probe,
    * candidate), ranked (distance ASC, vec_id ASC), top-10 per probe. ONE
    * definition shared by the PQ index queries and the recall harness that
    * measures them — a tie-break/scale/cutoff change can never
    * desynchronize the harness from the indexes (the ivfTop2Cells rule
    * applied to the scoring side).
    */
  private def adcRanked(scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored.groupBy(col("pid"), col("vec_id")).agg(sum(col("pdu")).as("adu"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("pid")).orderBy(col("adu"), col("vec_id"))))
      .filter(col("rn") <= 10)
  }

  /** Residual ADC lookup table, keyed by (probe, probed cell): the query
    * residual is (pe − centroid[pcell]) — a probe has a DIFFERENT residual
    * per probed cell, so the table carries pcell and candidates join on
    * their own cell. 20 probes × 2 cells × 4 subspaces × 4 codes = 640
    * rows, always broadcast.
    */
  private def pqResAdcTable(
      s: org.apache.spark.sql.SparkSession, d: String,
      probes: org.apache.spark.sql.DataFrame,
      top2: org.apache.spark.sql.DataFrame) =
    top2.join(probes, Seq("pid"))
      .join(broadcast(ivfCentroids(s, d)), col("pcell") === col("cid"))
      .select(col("pid"), col("pcell"),
        zip_with(col("pe"), col("ce"), (x, y) => x - y).as("qres"))
      .select(col("pid"), col("pcell"), explode(array((0 until 4).map(m =>
        struct(lit(m).cast("long").as("m"),
          slice(col("qres"), m * 16 + 1, 16).as("qsv"))): _*)).as("x"))
      .select(col("pid"), col("pcell"), col("x.m").as("m"), col("x.qsv").as("qsv"))
      .join(broadcast(pqResCodebooks(s, d)), Seq("m"))
      .select(col("pid"), col("pcell"), col("m"), col("code"),
        d2u(col("qsv"), col("ce")).as("pdu"))

  /** The full IVF-PQ search, top-10 per probe — ONE definition shared by
    * q_simsearch_ivfpq and the recall harness's ivfpq arm (the
    * ivfTop2Cells/adcRanked rule): coarse cells restrict candidates,
    * residual codes + the per-(probe, cell) residual ADC table score them.
    */
  private def ivfpqTop10(s: org.apache.spark.sql.SparkSession, d: String) = {
    val assigned = ivfAssigned(s, d)
    val probes = assigned.filter(col("vec_id") < 20)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    val top2 = ivfTop2Cells(s, d, probes).pin()
    val cands = assigned.join(broadcast(top2), col("cell") === col("pcell"))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("pcell"), col("vec_id"))
    adcRanked(
      cands.join(pqResCodes(s, d), "vec_id")
        .join(broadcast(pqResAdcTable(s, d, probes, top2)),
          Seq("pid", "pcell", "m", "code")))
  }

  /** Recall@10 scoreboard — the shared scoring tail of BOTH recall
    * harnesses: hit counts per probe against the given truth set, per-probe
    * ratios quantized to exact µ-unit longs before the mean (avg() of
    * doubles merges partial sums in partition order, the cross-engine FP
    * hazard), one row per method, ordered by method name.
    */
  private def recallRows(
      truth: org.apache.spark.sql.DataFrame,
      methods: Seq[(String, org.apache.spark.sql.DataFrame)]): org.apache.spark.sql.DataFrame = {
    val tcnt = truth.groupBy(col("pid")).agg(count(lit(1)).as("tn"))
    methods.map { case (name, m) =>
      val hits = truth.join(m, Seq("pid", "vec_id"))
        .groupBy(col("pid")).agg(count(lit(1)).as("hn"))
      tcnt.join(hits, Seq("pid"), "left")
        .select(round(coalesce(col("hn"), lit(0L)) / col("tn") * lit(1e6))
          .cast("long").as("r6"))
        .agg(count(lit(1)).as("n_probes"),
          round(sum(col("r6")) / count(lit(1)) / lit(1e6), 6).as("recall"))
        .select(lit(name).as("method"), col("n_probes"), col("recall"))
    }.reduce(_ unionAll _).orderBy(col("method"))
  }

  val queries: Map[String, Q] = Map(
    // X3 baseline: brute-force cosine top-10 vs probe vec_id=0. O(n·d) scan —
    // correct at any scale, and the yardstick the ANN path is judged against.
    "q_simsearch_topk" -> ((s, d) => {
      val e     = Tables.embeddings(s, d)
      val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pe"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .select(
          col("vec_id"), col("label"),
          round(VectorFns.cosine(col("embedding"), col("pe")), 6).as("cos_r"))
        .orderBy(col("cos_r").desc, col("vec_id"))
        .limit(10)
    }),

    // X3 scale path: sign-bit LSH over the first 4 dims (16 buckets) — the
    // probe's bucket prunes candidates ~16× before any distance math; at
    // 100 TB the bucket column is the shuffle/partition key and only the
    // probe's bucket is scanned.
    "q_simsearch_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .withColumn("bkt", VectorFns.signBucket(col("embedding"), 4))
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("pe"), col("bkt").as("pbkt"))
      e.crossJoin(broadcast(probe))
        .filter(col("bkt") === col("pbkt") && col("vec_id") =!= 0)
        .select(
          col("vec_id"), col("bkt"),
          round(VectorFns.cosine(col("embedding"), col("pe")), 6).as("cos_r"))
        .orderBy(col("cos_r").desc, col("vec_id"))
        .limit(5)
    }),

    // X3 IVF variant: inverted-file ANN. Coarse quantizer = 8 centroids
    // TRAINED by 2 seeded Lloyd iterations (ivfCentroids — deterministic
    // init from vec_id 1..8, mirrored CTE-for-CTE by the oracle); every
    // vector is assigned to its nearest centroid, and the probe searches
    // only its own cell. The assignment is the memoized IVF index
    // (ivfAssigned), built once per snapshot: this query filters the pinned
    // index by cell and runs no assignment of its own.
    "q_simsearch_ivf" -> ((s, d) => {
      val assigned = ivfAssigned(s, d)
      val probe = assigned.filter(col("vec_id") === 0)
        .select(col("cell").as("pcell"), col("embedding").as("pe"))
      assigned.crossJoin(broadcast(probe))
        .filter(col("cell") === col("pcell") && col("vec_id") =!= 0)
        .select(col("vec_id"), col("cell"),
          round(VectorFns.cosine(col("embedding"), col("pe")), 6).as("cos_r"))
        .orderBy(col("cos_r").desc, col("vec_id"))
        .limit(5)
    }),

    // X3 IVF with nprobe=2: the standard recall knob — the probe searches
    // its TWO nearest centroids' cells instead of one. The probed-cell list
    // is a 2-row broadcast; cosines run on 2 cells of ~n/8 vectors each,
    // filtered from the one pinned index.
    "q_simsearch_ivf2" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val centroids = ivfCentroids(s, d)
      val assigned = ivfAssigned(s, d)
      val probeVec = e.filter(col("vec_id") === 0).select(col("embedding").as("pe"))
      val top2 = centroids.crossJoin(broadcast(probeVec))
        .select(col("cid"), round(VectorFns.cosine(col("ce"), col("pe")), 6).as("psim"))
        .orderBy(col("psim").desc, col("cid"))
        .limit(2)
        .select(col("cid").as("pcell"))
      assigned.join(broadcast(top2), col("cell") === col("pcell"))
        .crossJoin(broadcast(probeVec))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("cell"),
          round(VectorFns.cosine(col("embedding"), col("pe")), 6).as("cos_r"))
        .orderBy(col("cos_r").desc, col("vec_id"))
        .limit(5)
    }),

    // X2e: embedding-cosine near-dup — top-10 most-similar candidate pairs
    // via multi-band sign-LSH. 8 bands of 8 sign bits each (64 dims total):
    // a pair is a candidate iff ANY band's bucket matches; exact cosine is
    // computed on candidates only. The join key is (band, bucket) — never a
    // cross join — so candidate count scales with collision count, not n²
    // (measured: 15.6 k candidates of 2.0 M possible pairs at sf0.1, 128×
    // pruning with perfectly balanced 256-way buckets). The same cap
    // policy as q_dedup_minhash (cappedPairs): a bucket above 100 vectors
    // stars to its minimum vec_id, so no single bucket can reintroduce the
    // quadratic join at 100 TB and none of its vectors is dropped. Recall
    // trade-off is inherent to LSH and mirrored exactly by the oracle: both
    // engines rank the same LSH candidate set.
    "q_dedup_embed" -> ((s, d) =>
      embedCandidates(s, d)
        .orderBy(col("cos_r").desc, col("vec_a"), col("vec_b"))
        .limit(10)),

    // X3b: all-kNN join (k=1) — every vector's nearest neighbor among its
    // LSH candidates, the batch neighbor-graph pass dedup clustering and
    // semantic grouping build on. Reads the MATERIALIZED candidate pairs
    // (embedPairs): the round-2 self-union form referenced the live
    // candidate pipeline from two plan branches and (no cross-branch
    // common-subplan reuse in Spark) executed the whole band/bucket/cosine
    // chain twice — 3.7 s vs 1.4 s for the single-pass q_dedup_embed.
    // Symmetrization is an explode of each pair's two directions; the
    // per-vector argmax is a partial-aggregated max_by over (cos, -nn), no
    // window. Vectors whose buckets hold no other vector have no neighbor
    // and are absent by construction.
    "q_simsearch_knn" -> ((s, d) => {
      embedPairs(s, d)
        .select(explode(array(
          struct(col("vec_a"), col("vec_b"), col("cos_r")),
          struct(col("vec_b").as("vec_a"), col("vec_a").as("vec_b"), col("cos_r")))).as("p"))
        .select(col("p.vec_a").as("vec_id"), col("p.vec_b").as("nn"), col("p.cos_r"))
        .groupBy(col("vec_id"))
        .agg(
          max_by(col("nn"),
            struct(col("cos_r"), (lit(0) - col("nn")).as("nv"))).as("nn_id"),
          max(col("cos_r")).as("nn_cos"))
        .orderBy(col("vec_id"))
    }),

    // X3d: recall@10 of each ANN method against the brute-force yardstick —
    // THE tuning number for an index user (how much does the 16× / 8× scan
    // pruning cost in answer quality?). Panel = probes vec_id < 20; truth =
    // exact top-10 per probe over the full corpus; per method, recall =
    // mean over probes of |method∩truth| / |truth|. Probes with zero
    // surviving candidates contribute 0, not a dropped row. Every top-k cut
    // orders by (rounded cosine DESC, vec_id) so both engines select
    // identical sets. Scale shape: a recall harness is panel-bounded by
    // design — truth costs n·|panel| cosines (here n·20), the candidate
    // sides reuse the index pruning they measure, and every per-probe top-k
    // is the salted two-phase cut (local top-10 per (probe, salt-of-16),
    // global top-10 over survivors) so no 20-value window key ever sorts
    // the corpus in one task.
    // Scope: the PQ family (q_simsearch_pq / q_simsearch_ivfpq) is
    // deliberately OUTSIDE this harness — it ranks by squared L2 over
    // quantized codes while this truth set is exact cosine, so a combined
    // number would conflate metric disagreement with quantization loss;
    // q_simsearch_pq_recall measures it against its own L2 truth.
    "q_simsearch_recall" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.DataFrame
      def top10PerProbe(scored: DataFrame): DataFrame = {
        val local = Window.partitionBy(col("pid"), col("salt"))
          .orderBy(col("cos_r").desc, col("vec_id"))
        val global = Window.partitionBy(col("pid"))
          .orderBy(col("cos_r").desc, col("vec_id"))
        scored
          .withColumn("salt", pmod(hash(col("vec_id")), lit(16)))
          .withColumn("lrn", row_number().over(local)).filter(col("lrn") <= 10)
          .withColumn("rn", row_number().over(global)).filter(col("rn") <= 10)
          .select(col("pid"), col("vec_id"))
      }
      val e = Tables.embeddings(s, d)
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("pid"), col("embedding").as("pe"))
      val truth = top10PerProbe(
        e.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("pid"))
          .select(col("pid"), col("vec_id"),
            round(VectorFns.cosine(col("embedding"), col("pe")), 6).as("cos_r")))
        .pin() // three method scoreboards read it; tiny (200 rows)
      val eb = e.withColumn("bkt", VectorFns.signBucket(col("embedding"), 4))
      val probeB = eb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("pid"), col("embedding").as("pe"), col("bkt").as("pbkt"))
      val lsh = top10PerProbe(
        eb.crossJoin(broadcast(probeB))
          .filter(col("bkt") === col("pbkt") && col("vec_id") =!= col("pid"))
          .select(col("pid"), col("vec_id"),
            round(VectorFns.cosine(col("embedding"), col("pe")), 6).as("cos_r")))
      val assigned = ivfAssigned(s, d)
      val probeA = assigned.filter(col("vec_id") < 20)
        .select(col("vec_id").as("pid"), col("embedding").as("pe"), col("cell").as("pcell"))
      val ivf = top10PerProbe(
        assigned.crossJoin(broadcast(probeA))
          .filter(col("cell") === col("pcell") && col("vec_id") =!= col("pid"))
          .select(col("pid"), col("vec_id"),
            round(VectorFns.cosine(col("embedding"), col("pe")), 6).as("cos_r")))
      // nprobe=2: each probe's two nearest centroids (8×20 rows — tiny).
      val top2 = ivfTop2Cells(s, d, probeA.drop("pcell"))
      val ivf2 = top10PerProbe(
        assigned.join(broadcast(top2.join(probeA.drop("pcell"), "pid")),
            col("cell") === col("pcell"))
          .filter(col("vec_id") =!= col("pid"))
          .select(col("pid"), col("vec_id"),
            round(VectorFns.cosine(col("embedding"), col("pe")), 6).as("cos_r")))
      recallRows(truth, Seq("lsh" -> lsh, "ivf" -> ivf, "ivf2" -> ivf2))
    }),

    // X3d: product quantization (Jégou et al. 2011) — the third ANN index
    // family (after sign-LSH and IVF): vectors compress to M=4 one-byte
    // codes (16× over float32 here; the memory-bound regime where the
    // corpus can't hold raw vectors), and probes score by Asymmetric
    // Distance Computation — per-probe lookup table of 16 precomputed
    // subspace distances, approx distance = 4 integer adds per candidate.
    // Scale: codebooks (16 rows) and the per-probe ADC table (320 rows)
    // BROADCAST; encoding is one broadcast-join pass; the scan is linear
    // with integer adds — exactly PQ's production cost model. All distances
    // are exact µ-unit longs ([[d2u]]) so selection is cross-engine
    // deterministic. The probe partition (bounded, 20 probes) carries the
    // same documented constraint as the recall harness.
    "q_simsearch_pq" -> ((s, d) => {
      adcRanked(
        pqEncode(s, d).join(broadcast(pqAdcTable(s, d)), Seq("m", "code"))
          .filter(col("vec_id") =!= col("pid")))
        .select(col("pid"), col("vec_id"),
          round(col("adu") / lit(1e6), 6).as("ad2_r"), col("rn").cast("long").as("rn"))
        .orderBy(col("pid"), col("rn"))
    }),

    // X3e: IVF-PQ — the production ANN composition (the FAISS IndexIVFPQ
    // shape): the trained IVF coarse quantizer restricts each probe to its
    // nprobe=2 nearest cells, then PQ's ADC scores ONLY those candidates
    // from the compressed code table. The codes quantize RESIDUALS
    // (embedding − centroid[cell]) against residual-trained codebooks, per
    // the FAISS design — measured at sf0.01 this lifts recall@10 0.165 →
    // 0.17 at the identical 4-byte code budget (a modest gain here: the
    // synthetic embeddings carry little cell-local structure and the
    // K=4 one-iteration codebooks are deliberately tiny; the harness
    // exists to measure exactly this knob). At 100 TB this is the full
    // recipe: each probe scores only its cells' candidates, the codes are 4
    // bytes per vector (the corpus that can't hold raw floats holds this),
    // and per-candidate work is 4 integer adds. Every artifact is memoized
    // per snapshot — centroids, the IVF index, residual codebooks, encoded
    // codes — because that is the deployment cost model; this query times
    // the SEARCH, the composition it exists to demonstrate.
    "q_simsearch_ivfpq" -> ((s, d) => {
      ivfpqTop10(s, d)
        .select(col("pid"), col("vec_id"),
          round(col("adu") / lit(1e6), 6).as("ad2_r"), col("rn").cast("long").as("rn"))
        .orderBy(col("pid"), col("rn"))
    }),

    // X3f: recall@10 of the PQ family against its OWN metric's truth —
    // exact squared-L2 top-10 per probe over the full float vectors (µ-unit
    // integer selection, so the truth set is cross-engine exact). This is
    // the L2 counterpart of q_simsearch_recall: PQ ranks by quantized L2,
    // so only an L2 brute-force yardstick isolates pure QUANTIZATION loss
    // (pq row) and quantization+cell-restriction loss (ivfpq row). Reads
    // the memoized index artifacts; truth costs n·|panel| distances, the
    // panel-bounded harness shape.
    "q_simsearch_pq_recall" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.DataFrame
      val e = Tables.embeddings(s, d)
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("pid"), col("embedding").as("pe"))
      val truth = e.crossJoin(broadcast(probes)).filter(col("vec_id") =!= col("pid"))
        .select(col("pid"), col("vec_id"), d2u(col("embedding"), col("pe")).as("du"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("pid")).orderBy(col("du"), col("vec_id"))))
        .filter(col("rn") <= 10).select(col("pid"), col("vec_id"))
        .pin()
      val pqTop = adcRanked(
        pqCodes(s, d).join(broadcast(pqAdcTable(s, d)), Seq("m", "code"))
          .filter(col("vec_id") =!= col("pid")))
        .select(col("pid"), col("vec_id"))
      val ivfpqTop = ivfpqTop10(s, d).select(col("pid"), col("vec_id"))
      recallRows(truth, Seq("ivfpq" -> ivfpqTop, "pq" -> pqTop))
    }),

    // X3g: IVF index-staleness monitor — the maintenance query an ANN
    // deployment runs nightly: assign the CURRENT corpus to the memoized
    // (trained-once) centroids and report, per cell, occupancy, how much
    // of the cell is freshly-ingested data (the %10==7 split, the same
    // fresh/corpus convention as the dedup family), and the exact µ-unit
    // mean/max squared-L2 to the centroid. Rising mean distance or fresh
    // data piling into few cells is the retrain signal — the drift report
    // is what decides when the quantizer artifact is stale. One broadcast
    // pass + a k-bounded groupBy: flat at any corpus size.
    "q_simsearch_ivf_drift" -> ((s, d) => {
      // Reads the memoized IVF index (ivfAssigned) and recovers the
      // centroid vector by re-joining the broadcast 8-row centroid table —
      // a tie-break or similarity fix lands here automatically instead of
      // a third copy of the crossJoin+max_by pass.
      val assigned = ivfAssigned(s, d)
        .join(broadcast(ivfCentroids(s, d)), col("cell") === col("cid"))
        .select(col("vec_id"), col("cell"),
          d2u(col("embedding"), col("ce")).as("du"))
      assigned
        .withColumn("fresh", when(col("vec_id") % 10 === 7, 1L).otherwise(0L))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("fresh")).as("n_fresh"),
          round(sum(col("du")) / count(lit(1)) / lit(1e6), 6).as("mean_d2"),
          round(max(col("du")) / lit(1e6), 6).as("max_d2"))
        .orderBy(col("cell"))
    }),

    // X3c: embedding-table hygiene stats — per-label vector counts and norm
    // distribution, the sanity pass run before any ANN index build (zero
    // norms break cosine, norm drift flags a bad encoder batch). One map
    // pass + one tiny groupBy.
    "q_vector_stats" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(col("label"), VectorFns.norm(col("embedding")).as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          // mean over exact µ-unit longs (min/max are order-independent
          // and stay on the raw doubles)
          round(sum(round(col("nrm") * lit(1e6)).cast("long"))
            / count(lit(1)) / lit(1e6), 6).as("avg_norm"),
          round(min(col("nrm")), 6).as("min_norm"),
          round(max(col("nrm")), 6).as("max_norm"))
        .orderBy(col("label"))
    }),

    // X2j: SEMANTIC dedup (the SemDeDup shape): connected components over
    // the thresholded embedding-similarity graph — documents whose
    // embeddings are mutually similar collapse into one cluster regardless
    // of surface text. Edges are the memoized LSH candidate pairs filtered
    // on rounded cosine ≥ 0.4 (the synthetic fixture's similarity ceiling
    // is ~0.47; a real embedding corpus uses ~0.95), clustered by the same
    // [[Components]] as the text-side dedup. Oracle is
    // the exact recursive transitive closure.
    "q_dedup_semantic" -> ((s, d) => {
      Components.labels(
        embedPairs(s, d).filter(col("cos_r") >= 0.4)
          .select(col("vec_b").as("u"), col("vec_a").as("v")))
        .select(col("v").as("vec_id"), col("lbl").as("cluster_id"))
        .orderBy(col("vec_id"))
    }),

    // X5: multimodal join — text metadata + vector payload in one schema.
    "q_multimodal_join" -> ((s, d) => {
      Tables.documents(s, d)
        .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
        .select(
          col("doc_id"), col("lang"), col("n_chars"),
          size(col("embedding")).cast("long").as("dim"),
          col("label"),
          round(VectorFns.norm(col("embedding")), 6).as("norm_r"))
        .orderBy(col("doc_id"))
    }),

    // X5: opaque-binary feature pass — text bytes stand in for image/audio
    // payloads. The Spark-side shape is the real thing: binary column +
    // typed metadata + cheap header probes, all codegen'd — plus (round 9)
    // an explicit PROVENANCE column: `arm` records which decode path would
    // produce this row's features — 'exact' (PPM/BMP/PNG, bit-exact pure-JVM
    // decode), 'imageio' (JPEG/GIF/TIFF via the JDK codecs), or 'stub'
    // (no JVM codec exists — lossy WebP (VP8) / MP4 — or the payload is
    // not an image at all). The decision is the REAL decode outcome (the
    // same fused DecodeProbe struct lumaOrRaw extracts), not a magic-byte
    // guess, so fake features can never be mistaken for pixels downstream;
    // LOSSLESS WebP decodes for real since round 9 (Vp8lDecode, in the
    // 'exact' arm), leaving lossy VP8/MP4 as the stub boundary (see
    // MediaPipeline's scaladoc), and MediaPipelineSpec pins each arm label
    // on crafted payloads including lossy and lossless WebP headers.
    // Round 11: every 7th document's bytes are wrapped into a genuine
    // PALETTE PNG (color type 3, depth 8, 4-wide — the q_dedup_phash_png
    // chunk construction plus a 256-entry identity-gray PLTE, so the
    // decoded plane is exactly the index bytes) — those rows read 'exact'
    // THROUGH the real PLTE decode path ([[graft.multimodal.PngDecode]],
    // palette support since round 11), while the untouched text rows keep
    // the honest 'stub'. The oracle asserts the split, so a palette-decode
    // regression (arm falling back to 'stub') hash-mismatches immediately.
    "q_multimodal_features" -> ((s, d) => {
      val bin = encode(col("text"), "utf-8")
      val h = least(length(bin) / lit(4), lit(128)).cast("int")
      // h >= 1 mirrors q_dedup_phash_png's guard (craftedPng precondition):
      // a <4-byte doc has no scanline to carry, so it stays on the honest
      // raw-bytes arm instead of wrapping a malformed PNG (none at any SF;
      // the oracle carries the same conjunct in lockstep).
      val wrapped = pmod(col("doc_id"), lit(7)) === 0 && col("h") >= 1
      Tables.documents(s, d)
        .withColumn("hx", hex(bin)).withColumn("h", h)
        .withColumn("payload",
          when(wrapped, craftedPng(paletted = true)).otherwise(bin))
        .select(
          col("doc_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          substring(hex(col("payload")), 1, 8).as("header8"),
          when(wrapped, lit("image/png"))
            .otherwise(concat(lit("text/plain;lang="), col("lang"))).as("mime"),
          graft.multimodal.MediaPipeline.decodeArm(col("payload")).as("arm"))
        .orderBy(col("doc_id"))
    }),

    // X5b: frame sampling through the MediaPipeline Dataset path — every 2nd
    // 32-byte frame of each opaque payload (the keyframe-extraction shape:
    // one output row per sampled frame, frame index carried). Exercises the
    // typed MediaRecord encoder + flatMap explosion end-to-end; the frame
    // bytes themselves are compared via length + hex header, the same
    // opaque-binary discipline as q_multimodal_features.
    "q_multimodal_frames" -> ((s, d) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      val ds = graft.multimodal.MediaPipeline.fromDocuments(Tables.documents(s, d))
      graft.multimodal.MediaPipeline.sampleFrames(ds, frameBytes = 32, everyK = 2)
        .select(
          col("id").as("doc_id"),
          col("frame_idx").cast("long").as("frame_idx"),
          length(col("frame")).cast("long").as("frame_bytes"),
          substring(hex(col("frame")), 1, 8).as("header8"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // X5c: perceptual-hash dedup over the MEDIA column — the third modality
    // of the dedup family (after text MinHash/SimHash and embedding
    // sign-LSH), now running on DECODED PIXELS: each document's bytes are
    // wrapped into a genuine binary PPM (P6) image (header + first 12·⌊n/12⌋
    // bytes as 4-wide RGB rows — the fixture stand-in for an image table;
    // every doc ≥ 44 bytes at all SFs, so every payload parses),
    // [[graft.multimodal.MediaPipeline.lumaOrRaw]] header-parses it and
    // emits the integer Rec.601 luminance plane (REAL decode — see
    // [[graft.multimodal.PpmDecode]]; non-parsing payloads fall back to
    // opaque bytes, MediaPipelineSpec pins both arms), and the luma plane
    // gets the 32-bit byte-gradient dHash ([[MediaPipeline.phash]],
    // integer-exact, one codegen pass). Candidates come from byte-banding
    // the hash (4 bands of 8 bits — pigeonhole: hamming ≤ 3 GUARANTEES a
    // shared band, so maxHamming = 3 makes banding exact, not best-effort),
    // and exact Hamming via bit_count(xor) runs on candidates only — the
    // q_dedup_simhash_pairs shape verbatim, the same cappedPairs policy, so
    // a hot band value stars to its minimum doc, never expanded
    // quadratically. The whole craft→decode→hash chain is one codegen'd
    // projection; the DuckDB oracle reproduces the luminance math with
    // integer `//` arithmetic.
    "q_dedup_phash" -> ((s, d) => {
      val bin = encode(col("text"), "utf-8")
      val hRows = (length(bin) / lit(12)).cast("int") // image height; width = 4
      val payload = concat(
        encode(concat(lit("P6\n4 "), hRows.cast("string"), lit("\n255\n")), "utf-8"),
        bin.substr(lit(1), hRows * lit(12)))
      TextQueries.closestPairs(TextQueries.bandedHammingPairs(
        Tables.documents(s, d).select(
          col("doc_id"),
          graft.multimodal.MediaPipeline.phash(
            graft.multimodal.MediaPipeline.lumaOrRaw(payload)).as("phash")),
        "phash", nBands = 4, maxHamming = 3))
    }),

    // X5c-png: the same perceptual-dedup chain through the COMPRESSED-format
    // arm — each document's bytes wrapped into a genuine 8-bit grayscale
    // PNG (4-wide, h = min(⌊n/4⌋, 128) rows): real IHDR/IDAT/IEND chunks
    // with correct CRC32s (Spark's codegen'd crc32), a zlib stream carrying
    // the filter-0 scanlines as a STORED deflate block — chosen so the
    // decode is oracle-able: [[graft.multimodal.PngDecode]] runs the real
    // chunk walk + Inflater + filter reconstruction, and what it must
    // produce is exactly the first 4·h text bytes. (Compression-heavy
    // fixed-huffman blocks and Sub/Up/Average/Paeth rows are golden-tested
    // against java.util.zip in MediaPipelineSpec — a SQL oracle can't
    // inflate, so the query plants the one deflate shape SQL can predict.)
    // Downstream is q_dedup_phash verbatim: gradient dHash on the decoded
    // plane, 4×8-bit band pigeonhole (exact at hamming ≤ 3), capped
    // buckets, bit_count verify on candidates only.
    "q_dedup_phash_png" -> ((s, d) => {
      val bin = encode(col("text"), "utf-8")
      val h = least(length(bin) / lit(4), lit(128)).cast("int")
      val base = Tables.documents(s, d)
        .select(col("doc_id"), hex(bin).as("hx"), h.as("h"))
        .filter(col("h") >= 1) // <4-byte docs: nothing to wrap (none at any SF)
      TextQueries.closestPairs(TextQueries.bandedHammingPairs(
        base.select(col("doc_id"),
          graft.multimodal.MediaPipeline.phash(
            graft.multimodal.MediaPipeline.lumaOrRaw(
              craftedPng(paletted = false))).as("phash")),
        "phash", nBands = 4, maxHamming = 3))
    }),

    // X5d: FRAME-level perceptual dedup — the video near-dup shape: two
    // "videos" are near-dups when they share frames, so the dedup unit is
    // the sampled keyframe, not the whole payload. Composes the
    // MediaPipeline end to end: typed frame sampling (every 2nd 32-byte
    // frame) → per-frame gradient hash → the same banded-Hamming pairing
    // as the payload-level pass, keyed by a composite (video, frame) id.
    // The tight ≤1 threshold fits 32-byte frames (noisier than full
    // payloads); intra-video hits expose keyframe redundancy, cross-video
    // hits shared/duplicated footage. Scale shape: flatMap + map + the
    // capped band join — no all-pairs anywhere.
    "q_dedup_phash_frames" -> ((s, d) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      val ds = graft.multimodal.MediaPipeline.fromDocuments(Tables.documents(s, d))
      val sigs = graft.multimodal.MediaPipeline
        .sampleFrames(ds, frameBytes = 32, everyK = 2)
        // frame_idx packs into the LOW 32 BITS (a 2^32-frame payload would
        // be 137 GB; video ids bounded to 2^30 — documented, not aliasing).
        // A small multiplier would collide doc N's frame M with doc N+1's
        // frame 0 on any payload over M frames, silently corrupting pair
        // identities — and the oracle — at real video sizes.
        .select((shiftleft(col("id"), 32) + col("frame_idx")).as("doc_id"),
          graft.multimodal.MediaPipeline.phash(col("frame")).as("phash"))
      TextQueries.closestPairs(
          TextQueries.bandedHammingPairs(sigs, "phash", nBands = 4, maxHamming = 1))
        .select(col("doc_a").as("frame_a"), col("doc_b").as("frame_b"), col("hamming"))
    }),

    // X5f: IMAGE RESIZE — nearest-neighbor resample of the DECODED
    // luminance plane to a fixed 4×4 thumbnail (the preprocessing step
    // every vision pipeline runs before feature extraction; NN is the
    // deterministic integer-arithmetic kernel — bilinear would add FP).
    // Source pixel for target (r, c): row (r·H) div 4 of the 4-wide
    // plane, same column — pure index math over the luma bytes, all of
    // it inside one codegen'd projection (decode → hex → 16 extractions),
    // zero shuffles before the output sort. The oracle reproduces
    // decode + indexing with integer // arithmetic; payloads are the
    // same crafted P6 wrapping as q_dedup_phash, so every doc parses.
    "q_multimodal_resize" -> ((s, d) => {
      val bin = encode(col("text"), "utf-8")
      val hRows = (length(bin) / lit(12)).cast("int")
      val payload = concat(
        encode(concat(lit("P6\n4 "), hRows.cast("string"), lit("\n255\n")), "utf-8"),
        bin.substr(lit(1), hRows * lit(12)))
      val base = Tables.documents(s, d)
        .select(col("doc_id"),
          graft.multimodal.MediaPipeline.lumaOrRaw(payload).as("luma"))
        .withColumn("h", expr("length(luma) div 4"))
        .withColumn("hx", hex(col("luma")))
      val cells = for (r <- 0 until 4; c <- 0 until 4) yield {
        val idx = (expr(s"($r * h) div 4") * 4 + lit(c)).cast("long")
        conv(col("hx").substr(idx * 2 + 1, lit(2)), 16, 10).cast("long")
      }
      base.select(col("doc_id"), col("h"),
          concat_ws(",", cells.map(_.cast("string")): _*).as("thumb4x4"))
        // <12 text bytes ⇒ hRows=0 ⇒ empty luma: the oracle's join against
        // the empty bytes relation drops the doc, so drop it here too
        // (otherwise Spark would emit an empty thumb and flip the gate the
        // day a fixture ships a short payload).
        .filter(col("h") >= 1)
        .orderBy(col("doc_id"))
    }),

    // X5g: LOSSY-codec arm — gray JPEG roundtrip CONTRACT. Each document's
    // first 8·min(⌊n/8⌋,128) text bytes become an 8-wide grayscale plane,
    // encoded to a REAL baseline JPEG and decoded back through the JDK
    // codec ([[graft.multimodal.ImageIoDecode]]) inside one mapPartitions —
    // the batch decode shape (writer/reader plugin context amortized per
    // partition, exactly how a 100 TB image screen runs; zero shuffles
    // before the output sort). A lossy decode can't be hash-compared
    // against SQL, so — the q_agg_approx_distinct precedent — Spark checks
    // its own roundtrip against codec-independent envelopes and the oracle
    // asserts the same contract shape: len_ok (decoded plane length is
    // exact), dc_ok (global mean drift ≤ 2/pixel — DC coefficients are
    // coarsely quantized at most; measured worst 0.4 across noise /
    // periodic / constant planes at q=0.85), block_ok (each of the 33
    // dHash blocks' mean drifts ≤ 24 — measured worst 14; the property
    // that makes the perceptual-hash family survive JPEG re-encodes). A
    // broken decode fails loudly: the gamma-curve trap (reading gray
    // rasters through getRGB's linear→sRGB conversion) drifts mid-gray by
    // ~60 levels and flips dc_ok/block_ok; a truncated or failed decode
    // nulls len_ok.
    "q_multimodal_jpeg" -> ((s, d) => {
      import s.implicits._
      val planes = Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "utf-8").as("bin"))
        .withColumn("h", least(length(col("bin")) / lit(8), lit(128)).cast("int"))
        .filter(col("h") >= 1) // <8 text bytes: no row to rasterize
        .select(col("doc_id"), col("bin").substr(lit(1), col("h") * lit(8)).as("src"))
        .as[(Long, Array[Byte])]
      planes.mapPartitions { it =>
        // First call resolves the ImageIO writer/reader plugins; the
        // registry lookup is the codec context amortized per partition.
        it.map { case (id, src) =>
          val jpeg = graft.multimodal.ImageIoDecode.encodeGrayJpeg(src, width = 8)
          val dec = graft.multimodal.ImageIoDecode.lumaOrNull(jpeg)
          val n = src.length
          val lenOk = dec != null && dec.length == n
          var dcOk = false
          var blockOk = false
          if (lenOk) {
            val sa = new Array[Long](33)
            val sb = new Array[Long](33)
            val cn = new Array[Long](33)
            var i = 0
            while (i < n) {
              val b = ((i.toLong * 33) / n).toInt
              sa(b) += src(i) & 0xff
              sb(b) += dec(i) & 0xff
              cn(b) += 1
              i += 1
            }
            dcOk = math.abs(sa.sum - sb.sum) <= 2L * n
            blockOk = (0 until 33).forall(b =>
              cn(b) == 0 || math.abs(sa(b) - sb(b)) <= 24L * cn(b))
          }
          (id, n.toLong, lenOk, dcOk, blockOk)
        }
      }.toDF("doc_id", "n_pix", "len_ok", "dc_ok", "block_ok")
        .orderBy(col("doc_id"))
    }),

    // X5e: AUDIO decode stats — the third MediaPipeline modality branch:
    // payloads decoded as little-endian int16 PCM, with the
    // loudness/clipping/silence screen (n, Σv², peak, zero-crossings)
    // folded per record INSIDE the decode pass ([[MediaPipeline.audioStats]]).
    // Scale shape: zero shuffles before the output sort — stats never leave
    // the partition that decoded the bytes, exactly how a 100 TB audio
    // screen must run (the alternative, exploding to one row per sample,
    // is a 10^4× blowup). All-long output: bit-stable by construction.
    "q_multimodal_audio" -> ((s, d) => {
      implicit val sp: org.apache.spark.sql.SparkSession = s
      graft.multimodal.MediaPipeline.audioStats(
        graft.multimodal.MediaPipeline.fromDocuments(Tables.documents(s, d)))
        .filter(col("n_samples") > 0)
        .select(col("id").as("doc_id"), col("n_samples"), col("sum_sq"),
          col("peak_abs"), col("zero_cross"))
        .orderBy(col("doc_id"))
    })
  )

  /** DuckDB fragment: byte `idx` (0-based) of hex-string column `hx` as an
    * unsigned int — the shared decode idiom of every byte-sliced oracle
    * (q_dedup_phash, q_dedup_phash_frames, q_multimodal_audio). Hex chars
    * are 1-based: byte j occupies chars 2j+1..2j+2.
    */
  private def byteSql(hx: String, idx: String): String =
    s"(16*(strpos('0123456789ABCDEF', substr($hx, CAST(2*($idx)+1 AS INT), 1))-1)" +
      s" + strpos('0123456789ABCDEF', substr($hx, CAST(2*($idx)+2 AS INT), 1))-1)"

  /** DuckDB double-precision mirrors of [[VectorFns]]. */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
  private def normSql(a: String): String =
    s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)})"
  private val bktSql =
    "CAST(list_sum(list_transform(range(0, 4), j -> CASE WHEN embedding[j+1] > 0 THEN CAST(pow(2, j) AS INT) ELSE 0 END)) AS INT)"

  /** µ-unit squared-L2 mirror of [[d2u]]: same (|a|²+|b|²-2a·b) form, same
    * association, rounded to an exact BIGINT before any comparison.
    */
  private def duSql(a: String, b: String): String =
    s"CAST(round((${dotSql(a, a)} + ${dotSql(b, b)} - 2*${dotSql(a, b)}) * 1e6) AS BIGINT)"

  /** Oracle fragment mirroring [[ivfAssigned]]: every vector → nearest
    * trained centroid. Expects `c2` (trained centroids) in scope; yields
    * `a(vec_id, cell, embedding)`.
    */
  private lazy val ivfAssignCte: String =
    s"""a AS (SELECT vec_id, cid AS cell, embedding
       |      FROM (SELECT e.vec_id, c.cid, e.embedding,
       |                   row_number() OVER (PARTITION BY e.vec_id
       |                     ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.cid) AS rn
       |            FROM embeddings e CROSS JOIN c2 c)
       |      WHERE rn = 1)""".stripMargin

  /** Oracle fragment mirroring [[ivfTop2Cells]]: expects `c2` and a probe
    * CTE `pa(pid, pe, …)` in scope; yields `top2(pid, pcell)`.
    */
  private lazy val ivfTop2Cte: String =
    s"""top2 AS (SELECT pid, cid AS pcell FROM (
       |  SELECT p.pid, c.cid,
       |         row_number() OVER (PARTITION BY p.pid
       |           ORDER BY round(${cosSql("c.ce", "p.pe")}, 6) DESC, c.cid) AS crn
       |  FROM c2 c CROSS JOIN pa p)
       |  WHERE crn <= 2)""".stripMargin

  /** CTE chain mirroring the PQ artifacts: subvector view → seeded codebook
    * training (1 Lloyd iteration) → per-vector codes → per-probe ADC table.
    * Shared by the q_simsearch_pq and q_simsearch_ivfpq oracles.
    */
  private lazy val pqCtes: String =
    s"""sub AS (SELECT vec_id, r.m AS m,
       |               list_slice(embedding, r.m*16 + 1, r.m*16 + 16) AS sv
       |        FROM embeddings CROSS JOIN range(4) r(m)),
       |seeds AS (SELECT m, vec_id AS code, sv AS ce FROM sub WHERE vec_id BETWEEN 1 AND 4),
       |du0 AS (SELECT s.vec_id, s.m, e.code, s.sv, ${duSql("s.sv", "e.ce")} AS du
       |        FROM sub s JOIN seeds e USING (m)),
       |asg AS (SELECT m, code, sv FROM du0
       |        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY du, code) = 1),
       |am AS (SELECT m, code, i,
       |              round(sum(CAST(round(CAST(sv[i] AS DOUBLE) * 1e6) AS BIGINT)) / count(*) / 1e6, 6) AS mv
       |       FROM asg CROSS JOIN range(1, 17) t(i) GROUP BY 1, 2, 3),
       |cbm AS (SELECT m, code, list(CAST(mv AS FLOAT) ORDER BY i) AS nce FROM am GROUP BY 1, 2),
       |cb AS (SELECT s.m, s.code, coalesce(c.nce, s.ce) AS ce
       |       FROM seeds s LEFT JOIN cbm c USING (m, code)),
       |du1 AS (SELECT s.vec_id, s.m, c.code, ${duSql("s.sv", "c.ce")} AS du
       |        FROM sub s JOIN cb c USING (m)),
       |codes AS (SELECT vec_id, m, code FROM du1
       |          QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY du, code) = 1),
       |adt AS (SELECT p.vec_id AS pid, p.m, c.code, ${duSql("p.sv", "c.ce")} AS pdu
       |        FROM sub p JOIN cb c USING (m) WHERE p.vec_id < 20)""".stripMargin

  /** CTE chain mirroring the RESIDUAL PQ artifacts ([[pqResSubs]] →
    * [[pqResCodebooks]] → [[pqResCodes]] → [[pqResAdcTable]]). Expects
    * `c2` (trained centroids), `a` (cell assignment), `pa(pid, pe)` and
    * `top2(pid, pcell)` in scope. float32 subtraction is IEEE-identical
    * in both engines (FLOAT − FLOAT → FLOAT in DuckDB), so the residual
    * view matches Spark's zip_with bit-for-bit.
    */
  private lazy val pqResCtes: String =
    s"""rsub AS (SELECT av.vec_id, r.m AS m,
       |                list_transform(range(r.m*16 + 1, r.m*16 + 17),
       |                               i -> av.embedding[i] - c.ce[i]) AS sv
       |         FROM a av JOIN c2 c ON av.cell = c.cid CROSS JOIN range(4) r(m)),
       |rseeds AS (SELECT m, vec_id AS code, sv AS ce FROM rsub WHERE vec_id BETWEEN 1 AND 4),
       |rdu0 AS (SELECT s.vec_id, s.m, e.code, s.sv, ${duSql("s.sv", "e.ce")} AS du
       |         FROM rsub s JOIN rseeds e USING (m)),
       |rasg AS (SELECT m, code, sv FROM rdu0
       |         QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY du, code) = 1),
       |ram AS (SELECT m, code, i,
       |               round(sum(CAST(round(CAST(sv[i] AS DOUBLE) * 1e6) AS BIGINT)) / count(*) / 1e6, 6) AS mv
       |        FROM rasg CROSS JOIN range(1, 17) t(i) GROUP BY 1, 2, 3),
       |rcbm AS (SELECT m, code, list(CAST(mv AS FLOAT) ORDER BY i) AS nce FROM ram GROUP BY 1, 2),
       |rcb AS (SELECT s.m, s.code, coalesce(c.nce, s.ce) AS ce
       |        FROM rseeds s LEFT JOIN rcbm c USING (m, code)),
       |rdu1 AS (SELECT s.vec_id, s.m, c.code, ${duSql("s.sv", "c.ce")} AS du
       |         FROM rsub s JOIN rcb c USING (m)),
       |rcodes AS (SELECT vec_id, m, code FROM rdu1
       |           QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY du, code) = 1),
       |prres AS (SELECT t.pid, t.pcell, r.m AS m,
       |                 list_transform(range(r.m*16 + 1, r.m*16 + 17),
       |                                i -> p.pe[i] - c.ce[i]) AS qsv
       |          FROM top2 t JOIN pa p USING (pid)
       |               JOIN c2 c ON t.pcell = c.cid CROSS JOIN range(4) r(m)),
       |radt AS (SELECT pr.pid, pr.pcell, pr.m, cc.code, ${duSql("pr.qsv", "cc.ce")} AS pdu
       |         FROM prres pr JOIN rcb cc USING (m))""".stripMargin

  /** CTE chain mirroring [[ivfCentroids]]: seeds c0 → assign t1 → means c1 →
    * assign t2 → means c2 (the trained quantizer). Means are rounded to 6 dp
    * and cast to float32 exactly as the Spark side, so both engines search
    * identical centroids.
    */
  private lazy val ivfTrainCtes: String = {
    def assign(cin: String, aout: String) =
      s"""$aout AS (SELECT cid, embedding FROM (
         |  SELECT e.vec_id, c.cid, e.embedding,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN $cin c) WHERE rn = 1)""".stripMargin
    def mean(ain: String, cin: String, cout: String) =
      s"""$cout AS (SELECT $cin.cid, coalesce(t.ce, $cin.ce) AS ce
         |  FROM $cin LEFT JOIN (
         |    SELECT cid, list(CAST(mv AS FLOAT) ORDER BY j) AS ce
         |    FROM (SELECT cid, r.j AS j,
         |                 round(sum(CAST(round(CAST(embedding[r.j+1] AS DOUBLE) * 1e6) AS BIGINT))
         |                       / count(*) / 1e6, 6) AS mv
         |          FROM $ain CROSS JOIN range(64) r(j) GROUP BY 1, 2)
         |    GROUP BY cid) t USING (cid))""".stripMargin
    s"""c0 AS (SELECT vec_id AS cid, embedding AS ce
       |       FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
       |${assign("c0", "t1")},
       |${mean("t1", "c0", "c1")},
       |${assign("c1", "t2")},
       |${mean("t2", "c1", "c2")}""".stripMargin
  }

  /** The DuckDB mirror of [[embedCandidates]], shared by q_dedup_embed,
    * q_simsearch_knn and q_dedup_semantic as the text family shares
    * `candCtes`: each sign-band bucket marked with its minimum vec_id and
    * size, all pairs of a bucket of 2–100 vectors and a star to the
    * minimum of a larger one, deduped across bands, then `cand` (vec_a,
    * vec_b, cos_r) with the rounded cosine.
    */
  private lazy val embedCandCtes: String =
    s"""banded AS (
       |  SELECT vec_id, CAST(r.b AS INT) AS band,
       |         CAST(list_sum(list_transform(range(0, 8),
       |              j -> CASE WHEN embedding[8*r.b + j + 1] > 0
       |                   THEN CAST(pow(2, j) AS INT) ELSE 0 END)) AS INT) AS bkt
       |  FROM embeddings CROSS JOIN range(8) r(b)),
       |st AS (SELECT vec_id, band, bkt,
       |              min(vec_id) OVER (PARTITION BY band, bkt) AS mn,
       |              count(*) OVER (PARTITION BY band, bkt) AS sz
       |       FROM banded),
       |ids AS (SELECT DISTINCT a, b FROM (
       |          SELECT x.vec_id AS a, y.vec_id AS b
       |          FROM st x JOIN st y
       |            ON x.band = y.band AND x.bkt = y.bkt AND x.vec_id < y.vec_id
       |          WHERE x.sz BETWEEN 2 AND 100
       |          UNION ALL
       |          SELECT mn, vec_id FROM st WHERE sz > 100 AND vec_id <> mn)),
       |cand AS (SELECT i.a AS vec_a, i.b AS vec_b,
       |                round(${cosSql("x.embedding", "y.embedding")}, 6) AS cos_r
       |         FROM ids i JOIN embeddings x ON x.vec_id = i.a
       |                    JOIN embeddings y ON y.vec_id = i.b)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_simsearch_topk" ->
      s"""WITH probe AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, round(${cosSql("embedding", "pe")}, 6) AS cos_r
         |FROM embeddings, probe WHERE vec_id <> 0
         |ORDER BY cos_r DESC, vec_id LIMIT 10""".stripMargin,
    "q_simsearch_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding, $bktSql AS bkt FROM embeddings),
         |probe AS (SELECT embedding AS pe, bkt AS pbkt FROM e WHERE vec_id = 0)
         |SELECT vec_id, bkt, round(${cosSql("embedding", "pe")}, 6) AS cos_r
         |FROM e, probe WHERE bkt = pbkt AND vec_id <> 0
         |ORDER BY cos_r DESC, vec_id LIMIT 5""".stripMargin,
    "q_simsearch_ivf" ->
      s"""WITH $ivfTrainCtes,
         |$ivfAssignCte,
         |p AS (SELECT cell AS pcell, embedding AS pe FROM a WHERE vec_id = 0)
         |SELECT vec_id, cell, round(${cosSql("embedding", "pe")}, 6) AS cos_r
         |FROM a, p WHERE cell = pcell AND vec_id <> 0
         |ORDER BY cos_r DESC, vec_id LIMIT 5""".stripMargin,
    "q_simsearch_ivf2" ->
      s"""WITH $ivfTrainCtes,
         |$ivfAssignCte,
         |p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
         |top2 AS (SELECT cid AS pcell
         |         FROM (SELECT cid, round(${cosSql("ce", "pe")}, 6) AS psim FROM c2, p
         |               ORDER BY psim DESC, cid LIMIT 2))
         |SELECT vec_id, cell, round(${cosSql("embedding", "pe")}, 6) AS cos_r
         |FROM a, p, top2 WHERE a.cell = top2.pcell AND vec_id <> 0
         |ORDER BY cos_r DESC, vec_id LIMIT 5""".stripMargin,
    "q_simsearch_knn" ->
      s"""WITH $embedCandCtes,
         |bi AS (SELECT vec_a AS va, vec_b AS vb, cos_r FROM cand
         |       UNION ALL SELECT vec_b, vec_a, cos_r FROM cand)
         |SELECT va AS vec_id, vb AS nn_id, cos_r AS nn_cos
         |FROM (SELECT va, vb, cos_r,
         |             row_number() OVER (PARTITION BY va ORDER BY cos_r DESC, vb) AS rn
         |      FROM bi)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "q_dedup_embed" ->
      s"""WITH $embedCandCtes
         |SELECT vec_a, vec_b, cos_r FROM cand
         |ORDER BY cos_r DESC, vec_a, vec_b LIMIT 10""".stripMargin,
    "q_dedup_semantic" ->
      s"""WITH RECURSIVE $embedCandCtes,
         |sem AS (SELECT vec_a, vec_b FROM cand WHERE cos_r >= 0.4),
         |e AS (SELECT vec_a AS x, vec_b AS y FROM sem UNION SELECT vec_b, vec_a FROM sem),
         |reach(v, u) AS (
         |  SELECT x, x FROM e
         |  UNION
         |  SELECT r.v, e.y FROM reach r JOIN e ON r.u = e.x)
         |SELECT v AS vec_id, min(u) AS cluster_id
         |FROM reach GROUP BY v ORDER BY v""".stripMargin,
    // Mirrors q_simsearch_recall selection-for-selection: same trained
    // centroids (ivfTrainCtes), same (rounded cosine DESC, vec_id) top-k
    // cuts, same zero-candidate-probe = 0 convention via the method×probe
    // grid. The salt in Spark's two-phase top-k needs no mirror: phase 2
    // re-ranks globally, so the selected SET is salt-independent.
    "q_simsearch_recall" ->
      s"""WITH $ivfTrainCtes,
         |probes AS (SELECT vec_id AS pid, embedding AS pe
         |           FROM embeddings WHERE vec_id < 20),
         |truth AS (SELECT pid, vec_id FROM (
         |  SELECT p.pid, e.vec_id,
         |         row_number() OVER (PARTITION BY p.pid
         |           ORDER BY round(${cosSql("e.embedding", "p.pe")}, 6) DESC, e.vec_id) AS rn
         |  FROM embeddings e CROSS JOIN probes p WHERE e.vec_id <> p.pid)
         |  WHERE rn <= 10),
         |eb AS (SELECT vec_id, embedding, $bktSql AS bkt FROM embeddings),
         |lsh AS (SELECT pid, vec_id FROM (
         |  SELECT p.pid, e.vec_id,
         |         row_number() OVER (PARTITION BY p.pid
         |           ORDER BY round(${cosSql("e.embedding", "p.pe")}, 6) DESC, e.vec_id) AS rn
         |  FROM eb e JOIN (SELECT vec_id AS pid, embedding AS pe, bkt AS pbkt
         |                  FROM eb WHERE vec_id < 20) p
         |    ON e.bkt = p.pbkt WHERE e.vec_id <> p.pid)
         |  WHERE rn <= 10),
         |$ivfAssignCte,
         |pa AS (SELECT vec_id AS pid, embedding AS pe, cell AS pcell
         |       FROM a WHERE vec_id < 20),
         |ivf AS (SELECT pid, vec_id FROM (
         |  SELECT p.pid, e.vec_id,
         |         row_number() OVER (PARTITION BY p.pid
         |           ORDER BY round(${cosSql("e.embedding", "p.pe")}, 6) DESC, e.vec_id) AS rn
         |  FROM a e JOIN pa p ON e.cell = p.pcell WHERE e.vec_id <> p.pid)
         |  WHERE rn <= 10),
         |$ivfTop2Cte,
         |ivf2 AS (SELECT pid, vec_id FROM (
         |  SELECT t.pid, e.vec_id,
         |         row_number() OVER (PARTITION BY t.pid
         |           ORDER BY round(${cosSql("e.embedding", "p.pe")}, 6) DESC, e.vec_id) AS rn
         |  FROM a e JOIN top2 t ON e.cell = t.pcell
         |  JOIN pa p ON p.pid = t.pid
         |  WHERE e.vec_id <> t.pid)
         |  WHERE rn <= 10),
         |m AS (SELECT 'lsh' AS method, pid, vec_id FROM lsh
         |      UNION ALL SELECT 'ivf', pid, vec_id FROM ivf
         |      UNION ALL SELECT 'ivf2', pid, vec_id FROM ivf2),
         |tc AS (SELECT pid, count(*) AS tn FROM truth GROUP BY pid),
         |h AS (SELECT m.method, m.pid, count(*) AS hn
         |      FROM m JOIN truth t ON m.pid = t.pid AND m.vec_id = t.vec_id
         |      GROUP BY 1, 2),
         |grid AS (SELECT method, pid, tn
         |         FROM (VALUES ('ivf'), ('ivf2'), ('lsh')) ms(method) CROSS JOIN tc)
         |SELECT method, CAST(count(*) AS BIGINT) AS n_probes,
         |       round(sum(CAST(round(coalesce(hn, 0) / tn * 1e6) AS BIGINT)) / count(*) / 1e6, 6) AS recall
         |FROM grid LEFT JOIN h USING (method, pid)
         |GROUP BY method ORDER BY method""".stripMargin,
    "q_simsearch_pq" ->
      s"""WITH $pqCtes,
         |sc AS (SELECT a.pid, k.vec_id, sum(a.pdu) AS adu
         |       FROM codes k JOIN adt a ON k.m = a.m AND k.code = a.code AND k.vec_id <> a.pid
         |       GROUP BY 1, 2),
         |r AS (SELECT pid, vec_id, adu,
         |             row_number() OVER (PARTITION BY pid ORDER BY adu, vec_id) AS rn FROM sc)
         |SELECT pid, vec_id, round(adu / 1e6, 6) AS ad2_r, CAST(rn AS BIGINT) AS rn
         |FROM r WHERE rn <= 10 ORDER BY pid, rn""".stripMargin,
    "q_simsearch_pq_recall" ->
      s"""WITH $ivfTrainCtes,
         |$pqCtes,
         |probes AS (SELECT vec_id AS pid, embedding AS pe
         |           FROM embeddings WHERE vec_id < 20),
         |truth AS (SELECT pid, vec_id FROM (
         |  SELECT p.pid, e.vec_id,
         |         row_number() OVER (PARTITION BY p.pid
         |           ORDER BY ${duSql("e.embedding", "p.pe")}, e.vec_id) AS rn
         |  FROM embeddings e CROSS JOIN probes p WHERE e.vec_id <> p.pid)
         |  WHERE rn <= 10),
         |pqsc AS (SELECT a.pid, k.vec_id, sum(a.pdu) AS adu
         |         FROM codes k JOIN adt a ON k.m = a.m AND k.code = a.code AND k.vec_id <> a.pid
         |         GROUP BY 1, 2),
         |pqm AS (SELECT pid, vec_id FROM (
         |  SELECT pid, vec_id,
         |         row_number() OVER (PARTITION BY pid ORDER BY adu, vec_id) AS rn FROM pqsc)
         |  WHERE rn <= 10),
         |$ivfAssignCte,
         |pa AS (SELECT vec_id AS pid, embedding AS pe FROM a WHERE vec_id < 20),
         |$ivfTop2Cte,
         |$pqResCtes,
         |cand AS (SELECT t.pid, t.pcell, e.vec_id
         |         FROM a e JOIN top2 t ON e.cell = t.pcell WHERE e.vec_id <> t.pid),
         |ipsc AS (SELECT cd.pid, cd.vec_id, sum(ad.pdu) AS adu
         |         FROM cand cd JOIN rcodes k ON k.vec_id = cd.vec_id
         |                      JOIN radt ad ON ad.pid = cd.pid AND ad.pcell = cd.pcell
         |                                  AND ad.m = k.m AND ad.code = k.code
         |         GROUP BY 1, 2),
         |ipm AS (SELECT pid, vec_id FROM (
         |  SELECT pid, vec_id,
         |         row_number() OVER (PARTITION BY pid ORDER BY adu, vec_id) AS rn FROM ipsc)
         |  WHERE rn <= 10),
         |m AS (SELECT 'ivfpq' AS method, pid, vec_id FROM ipm
         |      UNION ALL SELECT 'pq', pid, vec_id FROM pqm),
         |tc AS (SELECT pid, count(*) AS tn FROM truth GROUP BY pid),
         |h AS (SELECT m.method, m.pid, count(*) AS hn
         |      FROM m JOIN truth t ON m.pid = t.pid AND m.vec_id = t.vec_id
         |      GROUP BY 1, 2),
         |grid AS (SELECT method, pid, tn
         |         FROM (VALUES ('ivfpq'), ('pq')) ms(method) CROSS JOIN tc)
         |SELECT method, CAST(count(*) AS BIGINT) AS n_probes,
         |       round(sum(CAST(round(coalesce(hn, 0) / tn * 1e6) AS BIGINT)) / count(*) / 1e6, 6) AS recall
         |FROM grid LEFT JOIN h USING (method, pid)
         |GROUP BY method ORDER BY method""".stripMargin,
    "q_simsearch_ivfpq" ->
      s"""WITH $ivfTrainCtes,
         |$ivfAssignCte,
         |pa AS (SELECT vec_id AS pid, embedding AS pe
         |       FROM a WHERE vec_id < 20),
         |$ivfTop2Cte,
         |$pqResCtes,
         |cand AS (SELECT t.pid, t.pcell, e.vec_id
         |         FROM a e JOIN top2 t ON e.cell = t.pcell
         |         WHERE e.vec_id <> t.pid),
         |sc AS (SELECT cd.pid, cd.vec_id, sum(ad.pdu) AS adu
         |       FROM cand cd JOIN rcodes k ON k.vec_id = cd.vec_id
         |                    JOIN radt ad ON ad.pid = cd.pid AND ad.pcell = cd.pcell
         |                                AND ad.m = k.m AND ad.code = k.code
         |       GROUP BY 1, 2),
         |r AS (SELECT pid, vec_id, adu,
         |             row_number() OVER (PARTITION BY pid ORDER BY adu, vec_id) AS rn FROM sc)
         |SELECT pid, vec_id, round(adu / 1e6, 6) AS ad2_r, CAST(rn AS BIGINT) AS rn
         |FROM r WHERE rn <= 10 ORDER BY pid, rn""".stripMargin,
    "q_simsearch_ivf_drift" ->
      s"""WITH $ivfTrainCtes,
         |ad AS (SELECT vec_id, cid AS cell, du FROM (
         |  SELECT e.vec_id, c.cid, ${duSql("e.embedding", "c.ce")} AS du,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${cosSql("e.embedding", "c.ce")} DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN c2 c)
         |  WHERE rn = 1)
         |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(sum(CASE WHEN vec_id % 10 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh,
         |       round(sum(du) / count(*) / 1e6, 6) AS mean_d2,
         |       round(max(du) / 1e6, 6) AS max_d2
         |FROM ad GROUP BY cell ORDER BY cell""".stripMargin,
    "q_vector_stats" ->
      s"""SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |       round(sum(CAST(round(${normSql("embedding")} * 1e6) AS BIGINT)) / count(*) / 1e6, 6) AS avg_norm,
         |       round(min(${normSql("embedding")}), 6) AS min_norm,
         |       round(max(${normSql("embedding")}), 6) AS max_norm
         |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    "q_multimodal_join" ->
      s"""SELECT doc_id, lang, n_chars, CAST(len(embedding) AS BIGINT) AS dim, label,
         |       round(${normSql("embedding")}, 6) AS norm_r
         |FROM documents JOIN embeddings ON doc_id = vec_id
         |ORDER BY doc_id""".stripMargin,
    // `arm` is 'stub' for the text-byte rows — no decoder can accept them,
    // and the oracle states that fact
    // rather than re-deriving it (DuckDB has no JVM decoders to ask). The
    // non-constant behavior — 'exact' for PPM/BMP/PNG/lossless-WebP,
    // 'imageio' for JPEG/GIF/TIFF, 'stub' for lossy-WebP magic — is pinned in
    // MediaPipelineSpec on crafted payloads; if the Spark side ever
    // labeled a text payload anything but 'stub', this oracle's hash
    // comparison fails.
    // Round 11: rows with doc_id % 7 = 0 carry a crafted palette PNG whose
    // size/header/arm the oracle derives arithmetically (848 fixed chunk
    // bytes + 5 per scanline row; see the query comment) — 'exact' is a
    // REAL claim: if PngDecode's PLTE path rejected the payload, the Spark
    // side would emit 'stub' and the hash comparison would fail.
    // `wrapped` carries the Spark side's h >= 1 conjunct: a <4-byte doc
    // stays on the raw-bytes arm (octet_length on NULL text is NULL, so a
    // NULL-text row falls to the ELSE arms on both engines).
    "q_multimodal_features" ->
      """WITH t AS (SELECT *,
        |             doc_id % 7 = 0
        |               AND octet_length(CAST(text AS BLOB)) // 4 >= 1 AS wrapped
        |           FROM documents)
        |SELECT doc_id,
        |       CASE WHEN wrapped
        |            THEN 848 + 5 * LEAST(octet_length(CAST(text AS BLOB)) // 4, 128)
        |            ELSE octet_length(CAST(text AS BLOB)) END AS n_bytes,
        |       CASE WHEN wrapped THEN '89504E47'
        |            ELSE substr(hex(CAST(text AS BLOB)), 1, 8) END AS header8,
        |       CASE WHEN wrapped THEN 'image/png'
        |            ELSE 'text/plain;lang=' || lang END AS mime,
        |       CASE WHEN wrapped THEN 'exact' ELSE 'stub' END AS arm
        |FROM t ORDER BY doc_id""".stripMargin,
    // ASCII-fixture assumption (load-bearing): Spark slices the payload in
    // UTF-8 BYTES (MediaPipeline.sampleFrames over encode(text,'utf-8'))
    // while this oracle's substr(text, i*32+1, 32) slices CHARACTERS; the
    // two agree only because the generated fixture text is pure ASCII
    // (verified: single-byte chars only). A multi-byte corpus would need the
    // oracle to slice over CAST(text AS BLOB) instead.
    // Byte-sliced end to end: the payload is hex(encode(text)) — 2 hex chars
    // per UTF-8 BYTE — so slicing 64 hex chars is exactly the Spark side's
    // 32-byte Array[Byte].slice, with no dependence on the fixture being
    // single-byte ASCII (a frame may split a multi-byte codepoint; that IS
    // the opaque-bytes semantics, pinned by MediaPipelineSpec's multi-byte
    // case). This DuckDB build has no substr/slice over BLOB, so the hex
    // string is the byte-addressable form.
    "q_multimodal_frames" ->
      """WITH t AS (SELECT doc_id, hex(encode(text)) AS hx,
        |                  length(hex(encode(text))) // 2 AS nb
        |           FROM documents),
        |f AS (SELECT doc_id,
        |             unnest(list_transform(
        |                      list_filter(range(0, nb // 32), i -> i % 2 = 0),
        |                      i -> {'frame_idx': i,
        |                            'frame_hex': substr(hx, CAST(i*64 + 1 AS BIGINT), 64)}),
        |                    recursive := true)
        |      FROM t)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |       CAST(length(frame_hex) // 2 AS BIGINT) AS frame_bytes,
        |       substr(frame_hex, 1, 8) AS header8
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    // Mirrors the craft→decode→hash chain: the PPM wrap puts the first
    // 12·⌊nb/12⌋ text bytes behind a P6 header as 4-wide RGB rows, the
    // decode reduces pixel k's triple (bytes 3k,3k+1,3k+2) to the Rec.601
    // integer luminance (299R+587G+114B)//1000, and the gradient hash runs
    // over that luma plane (length 4·⌊nb/12⌋). Byte values come from the
    // hex encoding (2 hex chars per byte); the mean compare is integer
    // cross-multiplication, so the chain is FP-free end to end. The dense
    // 33-row grid with coalesce(0) mirrors the expression's zeroed block
    // arrays for planes shorter than 33 bytes.
    "q_dedup_phash" ->
      s"""WITH t AS (SELECT doc_id, hex(encode(text)) AS hx,
        |                  (length(hex(encode(text))) // 2 // 12) * 4 AS nb
        |           FROM documents),
        |bytes AS (SELECT doc_id, nb, r.i AS i,
        |                 (299 * ${byteSql("hx", "3*r.i")}
        |                  + 587 * ${byteSql("hx", "3*r.i+1")}
        |                  + 114 * ${byteSql("hx", "3*r.i+2")}) // 1000 AS v
        |          FROM t, LATERAL (SELECT unnest(range(0, nb)) AS i) r),
        |blk0 AS (SELECT doc_id, (i * 33) // nb AS b, sum(v) AS s, count(*) AS c
        |         FROM bytes GROUP BY 1, 2),
        |grid AS (SELECT d.doc_id, g.b, coalesce(blk0.s, 0) AS s, coalesce(blk0.c, 0) AS c
        |         FROM (SELECT DISTINCT doc_id FROM t) d CROSS JOIN range(33) g(b)
        |         LEFT JOIN blk0 ON blk0.doc_id = d.doc_id AND blk0.b = g.b),
        |g2 AS (SELECT doc_id, b, s, c, lead(s) OVER w AS s2, lead(c) OVER w AS c2
        |       FROM grid WINDOW w AS (PARTITION BY doc_id ORDER BY b)),
        |ph AS (SELECT doc_id,
        |              CAST(sum(CASE WHEN s*c2 > s2*c
        |                            THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
        |                            ELSE 0 END) AS BIGINT) AS phash
        |       FROM g2 WHERE b < 32 GROUP BY 1),
        |banded AS (SELECT doc_id, phash, r.k AS band,
        |                  (phash // (CAST(1 AS BIGINT) << CAST(8*r.k AS INT))) % 256 AS bval
        |           FROM ph CROSS JOIN range(4) r(k)),
        |sized AS (SELECT * FROM banded
        |          QUALIFY count(*) OVER (PARTITION BY band, bval) BETWEEN 2 AND 100),
        |ovc AS (SELECT * FROM banded
        |        QUALIFY count(*) OVER (PARTITION BY band, bval) > 100),
        |reps AS (SELECT band, bval, min(doc_id) AS rep FROM ovc GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT doc_a, doc_b, hamming FROM (
        |           SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |                  CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS hamming
        |           FROM sized x JOIN sized y
        |             ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id
        |           UNION ALL
        |           SELECT r.doc_id, m.doc_id,
        |                  CAST(bit_count(xor(r.phash, m.phash)) AS BIGINT)
        |           FROM reps j JOIN ovc r ON r.band = j.band AND r.bval = j.bval
        |                                 AND r.doc_id = j.rep
        |                JOIN ovc m ON m.band = j.band AND m.bval = j.bval
        |                          AND m.doc_id > j.rep))
        |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
        |ORDER BY hamming, doc_a, doc_b LIMIT 100""".stripMargin,
    // The PNG wrapping is grayscale filter-0 over a stored deflate block,
    // so decode∘encode = the first 4·min(⌊n/4⌋,128) text bytes VERBATIM
    // (no Rec.601 — gray samples pass through); from there the chain is
    // the q_dedup_phash oracle unchanged. The oracle thus checks the whole
    // Spark-side craft→chunk-walk→inflate→unfilter→hash pipeline against
    // plain byte arithmetic.
    "q_dedup_phash_png" ->
      s"""WITH t AS (SELECT doc_id, hex(encode(text)) AS hx,
        |                  least(length(hex(encode(text))) // 2 // 4, 128) * 4 AS nb
        |           FROM documents
        |           WHERE length(hex(encode(text))) // 2 >= 4),
        |bytes AS (SELECT doc_id, nb, r.i AS i, ${byteSql("hx", "r.i")} AS v
        |          FROM t, LATERAL (SELECT unnest(range(0, nb)) AS i) r),
        |blk0 AS (SELECT doc_id, (i * 33) // nb AS b, sum(v) AS s, count(*) AS c
        |         FROM bytes GROUP BY 1, 2),
        |grid AS (SELECT d.doc_id, g.b, coalesce(blk0.s, 0) AS s, coalesce(blk0.c, 0) AS c
        |         FROM (SELECT DISTINCT doc_id FROM t) d CROSS JOIN range(33) g(b)
        |         LEFT JOIN blk0 ON blk0.doc_id = d.doc_id AND blk0.b = g.b),
        |g2 AS (SELECT doc_id, b, s, c, lead(s) OVER w AS s2, lead(c) OVER w AS c2
        |       FROM grid WINDOW w AS (PARTITION BY doc_id ORDER BY b)),
        |ph AS (SELECT doc_id,
        |              CAST(sum(CASE WHEN s*c2 > s2*c
        |                            THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
        |                            ELSE 0 END) AS BIGINT) AS phash
        |       FROM g2 WHERE b < 32 GROUP BY 1),
        |banded AS (SELECT doc_id, phash, r.k AS band,
        |                  (phash // (CAST(1 AS BIGINT) << CAST(8*r.k AS INT))) % 256 AS bval
        |           FROM ph CROSS JOIN range(4) r(k)),
        |sized AS (SELECT * FROM banded
        |          QUALIFY count(*) OVER (PARTITION BY band, bval) BETWEEN 2 AND 100),
        |ovc AS (SELECT * FROM banded
        |        QUALIFY count(*) OVER (PARTITION BY band, bval) > 100),
        |reps AS (SELECT band, bval, min(doc_id) AS rep FROM ovc GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT doc_a, doc_b, hamming FROM (
        |           SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |                  CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS hamming
        |           FROM sized x JOIN sized y
        |             ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id
        |           UNION ALL
        |           SELECT r.doc_id, m.doc_id,
        |                  CAST(bit_count(xor(r.phash, m.phash)) AS BIGINT)
        |           FROM reps j JOIN ovc r ON r.band = j.band AND r.bval = j.bval
        |                                 AND r.doc_id = j.rep
        |                JOIN ovc m ON m.band = j.band AND m.bval = j.bval
        |                          AND m.doc_id > j.rep))
        |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
        |ORDER BY hamming, doc_a, doc_b LIMIT 100""".stripMargin,
    // Same luma derivation as the q_dedup_phash oracle (decoded plane =
    // payload body = first 12·⌊n/12⌋ text bytes through Rec.601 integer
    // math); the resample is pure index arithmetic on that plane.
    "q_multimodal_resize" ->
      s"""WITH t AS (SELECT doc_id, hex(encode(text)) AS hx,
        |                  (length(hex(encode(text))) // 2 // 12) * 4 AS nb
        |           FROM documents),
        |bytes AS (SELECT doc_id, nb, r.i AS i,
        |                 (299 * ${byteSql("hx", "3*r.i")}
        |                  + 587 * ${byteSql("hx", "3*r.i+1")}
        |                  + 114 * ${byteSql("hx", "3*r.i+2")}) // 1000 AS v
        |          FROM t, LATERAL (SELECT unnest(range(0, nb)) AS i) r),
        |grid AS (SELECT r.x AS gr, c.x AS gc FROM range(4) r(x), range(4) c(x)),
        |sel AS (SELECT t.doc_id, t.nb // 4 AS h, g.gr, g.gc,
        |               ((g.gr * (t.nb // 4)) // 4) * 4 + g.gc AS idx
        |        FROM t, grid g)
        |SELECT sel.doc_id, CAST(h AS BIGINT) AS h,
        |       string_agg(CAST(b.v AS VARCHAR), ',' ORDER BY gr, gc) AS thumb4x4
        |FROM sel JOIN bytes b ON b.doc_id = sel.doc_id AND b.i = sel.idx
        |GROUP BY 1, 2 ORDER BY sel.doc_id""".stripMargin,
    // Frame slicing matches the frames oracle (64 hex chars = 32 bytes,
    // partial tail frame dropped in both engines); the hash/banding chain
    // is the q_dedup_phash construction over each frame's 32 bytes.
    "q_dedup_phash_frames" ->
      s"""WITH t AS (SELECT doc_id, hex(encode(text)) AS hx,
        |                  length(hex(encode(text))) // 2 AS nb
        |           FROM documents),
        |f AS (SELECT doc_id, r.fi AS frame_idx,
        |             substr(hx, CAST(r.fi*64 + 1 AS INT), 64) AS fhx
        |      FROM t, LATERAL (SELECT unnest(list_filter(range(0, nb // 32),
        |                                                 j -> j % 2 = 0)) AS fi) r),
        |fb AS (SELECT doc_id*4294967296 + frame_idx AS fid, r.bi AS bi,
        |              ${byteSql("fhx", "r.bi")} AS v
        |       FROM f, LATERAL (SELECT unnest(range(0, 32)) AS bi) r),
        |blk AS (SELECT fid, (bi * 33) // 32 AS b, sum(v) AS s, count(*) AS c
        |        FROM fb GROUP BY 1, 2),
        |grid AS (SELECT d.fid, g.b, coalesce(blk.s, 0) AS s, coalesce(blk.c, 0) AS c
        |         FROM (SELECT DISTINCT fid FROM fb) d CROSS JOIN range(33) g(b)
        |         LEFT JOIN blk ON blk.fid = d.fid AND blk.b = g.b),
        |g2 AS (SELECT fid, b, s, c, lead(s) OVER w AS s2, lead(c) OVER w AS c2
        |       FROM grid WINDOW w AS (PARTITION BY fid ORDER BY b)),
        |ph AS (SELECT fid,
        |              CAST(sum(CASE WHEN s*c2 > s2*c
        |                            THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
        |                            ELSE 0 END) AS BIGINT) AS phash
        |       FROM g2 WHERE b < 32 GROUP BY 1),
        |banded AS (SELECT fid, phash, r.k AS band,
        |                  (phash // (CAST(1 AS BIGINT) << CAST(8*r.k AS INT))) % 256 AS bval
        |           FROM ph CROSS JOIN range(4) r(k)),
        |sized AS (SELECT * FROM banded
        |          QUALIFY count(*) OVER (PARTITION BY band, bval) BETWEEN 2 AND 100),
        |ovc AS (SELECT * FROM banded
        |        QUALIFY count(*) OVER (PARTITION BY band, bval) > 100),
        |reps AS (SELECT band, bval, min(fid) AS rep FROM ovc GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT frame_a, frame_b, hamming FROM (
        |           SELECT x.fid AS frame_a, y.fid AS frame_b,
        |                  CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS hamming
        |           FROM sized x JOIN sized y
        |             ON x.band = y.band AND x.bval = y.bval AND x.fid < y.fid
        |           UNION ALL
        |           SELECT r.fid, m.fid,
        |                  CAST(bit_count(xor(r.phash, m.phash)) AS BIGINT)
        |           FROM reps j JOIN ovc r ON r.band = j.band AND r.bval = j.bval
        |                                 AND r.fid = j.rep
        |                JOIN ovc m ON m.band = j.band AND m.bval = j.bval
        |                          AND m.fid > j.rep))
        |SELECT frame_a, frame_b, hamming FROM cand WHERE hamming <= 1
        |ORDER BY hamming, frame_a, frame_b LIMIT 100""".stripMargin,
    // Sample i = bytes (2i, 2i+1) little-endian signed 16-bit: low byte at
    // hex chars 4i+1..4i+2, high byte at 4i+3..4i+4; trailing odd byte
    // dropped by the // 2. Zero crossing = consecutive samples with opposite
    // sign bit (v < 0), counted per doc via lead(). All-integer aggregates.
    "q_multimodal_audio" ->
      s"""WITH t AS (SELECT doc_id, hex(encode(text)) AS hx,
        |                  length(hex(encode(text))) // 2 AS nb
        |           FROM documents),
        |sm AS (SELECT doc_id, r.i AS i,
        |              ${byteSql("hx", "2*r.i")}
        |            + 256*${byteSql("hx", "2*r.i+1")} AS u
        |       FROM t, LATERAL (SELECT unnest(range(0, nb // 2)) AS i) r),
        |v AS (SELECT doc_id, i,
        |             CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v FROM sm),
        |z AS (SELECT doc_id, v,
        |             lead(v) OVER (PARTITION BY doc_id ORDER BY i) AS v2 FROM v)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(sum(v*v) AS BIGINT) AS sum_sq,
        |       CAST(max(abs(v)) AS BIGINT) AS peak_abs,
        |       CAST(sum(CASE WHEN v2 IS NOT NULL AND (v < 0) <> (v2 < 0)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
        |FROM z GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Contract oracle (the q_agg_approx_distinct precedent): a lossy JPEG
    // roundtrip can't be value-compared in SQL, so Spark self-checks its
    // decode against codec-independent envelopes and emits verdicts; the
    // oracle computes the SQL-expressible half (which docs rasterize, the
    // exact plane size) and asserts the contract booleans. Any codec
    // regression — wrong dims, gamma-shifted gray reads, truncated
    // entropy data — flips a boolean on the Spark side and fails the hash
    // compare.
    "q_multimodal_jpeg" ->
      s"""SELECT doc_id,
        |       CAST(least(octet_length(encode(text)) // 8, 128) * 8 AS BIGINT) AS n_pix,
        |       true AS len_ok, true AS dc_ok, true AS block_ok
        |FROM documents
        |WHERE octet_length(encode(text)) >= 8
        |ORDER BY doc_id""".stripMargin
  )
}
