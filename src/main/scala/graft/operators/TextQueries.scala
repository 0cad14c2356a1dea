package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.{BucketedTables, Memo, SnapshotStore}
import graft.sources.Memo.PinOps
import graft.functions.TextFns

/** LLM-data-pipeline text operators (SURVEY.md §2.11, driver north star):
  * deduplication (exact hash, n-gram Jaccard, MinHash banding, SimHash) and
  * text analysis (token stats, quality scoring, trained language-ID,
  * rolling-hash fingerprinting) over the `documents` table.
  *
  * Scale posture: all near-dup passes are LSH-candidate two-phase shapes —
  * MinHash banding confines pair generation to capped per-bucket groups
  * (expanded in-bucket, no self-join), so candidates scale with collision
  * count, not n²; exact Jaccard runs only on candidates. SimHash is one
  * linear pass. All hashes are the portable polynomial fold from [[TextFns]]
  * so DuckDB reproduces them bit-for-bit.
  */
object TextQueries extends QueryPack {

  /** The LSH over-cap bucket boundary (standard practice: a bucket shared
    * by more members is boilerplate; enumerating its pairs is the n²
    * blowup banding exists to avoid). Read in exactly three places: the
    * all-pairs/star switchover of [[cappedPairs]], the hot-bucket test of
    * [[cappedStore]], and the cap audit that prices the stars. Every LSH
    * candidate path goes through these helpers, so an over-cap bucket is
    * starred to its minimum member, never dropped. The DuckDB
    * oracles and the plan-pinning specs mirror the literals 100/101; the
    * correctness gate fails loudly if the sides ever drift, so changing
    * this constant forces the oracle edit rather than silently diverging.
    */
  private[graft] val BucketCap = 100

  private def docTokens(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(TextFns.tokens(col("text"))).as("w"))

  /** Distinct 3-token shingles per doc, with per-doc set size. Two
    * load-bearing choices, both measured at sf0.1:
    *
    * Width 3 (not 2): the fixture vocabulary is 31 words, so the 2-gram
    * space (961) is dense enough that every doc pair shares shingles and the
    * candidate join goes quadratic (332 s → 44 s with trigrams).
    *
    * Shingling is the opaque [[graft.functions.expr.TokenShingles]]
    * expression — one O(|text|) evaluation per call, so the plan stays cheap
    * no matter how the optimizer collapses projections or drops exchanges
    * (the HOF formulation re-split the text per element and stalled a
    * broadcast build side for 30 minutes when its barrier was optimized out).
    */
  private def docShingles(s: org.apache.spark.sql.SparkSession, d: String) =
    shinglesOf(Tables.documents(s, d))

  /** Per-doc distinct 3-shingle SET table (doc_id, shs, n_sh) — the
    * exact-Jaccard verify input. Memoized per (snapshot, fingerprint)
    * (round 22, guide §2.4): every verify consumer (q_dedup_near,
    * q_dedup_minhash_est, q_dedup_lsh_sweep) joins it onto BOTH pair
    * endpoints, so unmemoized each consumer re-tokenized the whole corpus
    * twice per run (no common-subplan reuse across a join's two sides) —
    * at 100 TB two extra corpus scans per report. Same artifact pattern as
    * [[docGrams10]].
    */
  private val docShingleSets = Memo.artifact("documents")((s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        array_distinct(TextFns.shinglesFromText(col("text"), 3)).as("shs"))
      .select(col("doc_id"), col("shs"), size(col("shs")).as("n_sh")))

  /** [[docShingles]] over an arbitrary document subset — the incremental
    * path shingles ONLY the new snapshot, never the whole corpus.
    */
  private def shinglesOf(docs: org.apache.spark.sql.DataFrame) =
    docs
      .select(col("doc_id"),
        array_distinct(TextFns.shinglesFromText(col("text"), 3)).as("shs"))
      .select(col("doc_id"), size(col("shs")).as("n_sh"), explode(col("shs")).as("sh"))

  /** MinHash band buckets: 8 affine hashes over the portable shingle hash,
    * 4 bands of 2 rows → (doc_id, band, bkey). Shared by q_dedup_minhash
    * (bucket-collision counting) and q_dedup_near (candidate generation for
    * exact Jaccard) — downstream always keys on (band, bkey), never the raw
    * shingle.
    */
  private[graft] def bandBuckets(s: org.apache.spark.sql.SparkSession, d: String) =
    bandBucketsOf(shinglesOf(Tables.documents(s, d)))

  /** Per-doc prefix-scheme table (doc_id, n, ws, pl): each doc's
    * rarest-first distinct tokens under (df asc, token asc) order, its set
    * size, and its prefix length L = n − ceil(0.6·n) + 1 — the per-record
    * state of the AllPairs/PPJoin family. ONE row per document (the
    * index-build intermediate a production run would persist); the
    * candidate explode and both verify-side endpoint joins all read it.
    */
  /** The pre-pin per-doc distinct-token-array build (ONE corpus
    * tokenization) — package-visible for [[graft.ExplainPrePin]].
    */
  private[graft] def prefixDocsArrBuild(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("doc_id"), array_distinct(TextFns.tokens(col("text"))).as("ts"))

  private[graft] def prefixDocsOf(s: org.apache.spark.sql.SparkSession, d: String) = {
    // Round 22 (guide §2.4; VERDICT r21 item 4): the corpus tokenizes ONCE.
    // The per-doc distinct-token arrays are pinned (doc-grain — the same
    // bytes a second corpus read would re-produce), and BOTH consumers of
    // the token stream — the document-frequency aggregate and the join-back
    // — explode the pinned arrays instead of re-reading and re-splitting the
    // corpus (Spark has no common-subplan reuse across a join's two sides,
    // so the unpinned spelling tokenized the corpus twice; at 100 TB that is
    // a second full corpus scan).
    val docsArr = prefixDocsArrBuild(s, d).pin()
    val toks = docsArr
      .select(col("doc_id"), size(col("ts")).cast("long").as("n"), explode(col("ts")).as("w"))
    val dfTbl = toks.groupBy(col("w")).agg(count(lit(1)).as("df"))
    toks.join(dfTbl, "w")
      .groupBy(col("doc_id"), col("n"))
      .agg(transform(sort_array(collect_list(struct(col("df"), col("w")))),
        p => p.getField("w")).as("ws"))
      .withColumn("pl", (col("n") - expr("(6*n + 9) div 10") + 1).cast("int"))
  }

  /** THIN prefix-token rows (doc_id, n, w): one row per PREFIX token — the
    * candidate key of the AllPairs/PPJoin family, deliberately WITHOUT the
    * full token array (round 9): carrying `ws` on every exploded row is
    * what let a hot prefix token's whole membership — token arrays
    * included — concentrate into one aggregation buffer downstream. Shared
    * by q_dedup_prefix and the cap audit, so the audit counts exactly the
    * buckets the join builds.
    */
  private def prefixTokensOf(s: org.apache.spark.sql.SparkSession, d: String) =
    prefixTokensFrom(prefixDocsOf(s, d))

  /** [[prefixTokensOf]] over an already-built (possibly checkpointed)
    * per-doc prefix table.
    */
  private def prefixTokensFrom(docsT: org.apache.spark.sql.DataFrame) =
    docsT.select(col("doc_id"), col("n"),
      explode(slice(col("ws"), lit(1), col("pl"))).as("w"))

  /** MinHash band keys (doc_id, skey) for an arbitrary documents batch —
    * the signature the incremental/streaming ingest paths join against the
    * persisted corpus store. Shared by q_dedup_incremental and
    * [[graft.streaming.StreamingDaemon.ingestDedupLoop]].
    */
  private[graft] def bandKeysOf(docs: org.apache.spark.sql.DataFrame) =
    bandBucketsOf(shinglesOf(docs))
      .select(col("doc_id"), concat_ws(":", col("band"), col("bkey")).as("skey"))

  /** The WIDE 8-column MinHash signature (doc_id, m0..m7) — the sketch
    * itself, shared by the band-key pipeline and the estimator-quality
    * harness (q_dedup_minhash_est).
    *
    * Round 21 (optimization guide §2.3/§2.4): formerly the 8 sketch rows
    * were produced by exploding every shingle row 8× and aggregating on
    * (doc_id, i) — an 8× row amplification feeding the exchange, and every
    * downstream banding needed a SECOND (doc_id, band) aggregation to
    * reassemble the rows into band keys. The wide form computes all 8
    * `min(affineHash(h, i))` columns in ONE groupBy(doc_id): map-side
    * partial aggregation collapses each mapper's shingles to one 8-long row
    * per doc before the shuffle (8× fewer shuffle rows, no explode), and
    * band keys become pure projections over the wide row — the second
    * exchange disappears from every consumer. Values are bit-identical
    * (same min over the same affine family; WideSigSpec pins it against
    * the row-form spelling).
    */
  private def minhashSigsOf(shingles: org.apache.spark.sql.DataFrame) = {
    // the polynomial fold runs ONCE per shingle row (projection below the
    // aggregate); the 8 affine transforms are cheap arithmetic over it
    val aggs = (0 until 8).map(i =>
      min(TextFns.affineHash(col("h"), lit(i))).as(s"m$i"))
    shingles.drop("n_sh").withColumn("h", TextFns.rollingHash(col("sh")))
      .groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** [[bandBuckets]] over a pre-shingled subset (see [[shinglesOf]]): 4
    * bands of 2 rows, each band key a projection over the wide signature —
    * identical strings to the former sorted-collect_list spelling (the
    * concat order IS the i order).
    */
  private def bandBucketsOf(shingles: org.apache.spark.sql.DataFrame) = {
    minhashSigsOf(shingles)
      .select(col("doc_id"), posexplode(array((0 until 4).map(b =>
        concat_ws(",", col(s"m${2 * b}").cast("string"),
          col(s"m${2 * b + 1}").cast("string"))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
  }

  /** Candidate pairs from the band buckets, WITHOUT a self-join: collect the
    * sorted doc list per (band, bkey) and expand in-bucket pairs with a
    * nested HOF. Spark reuses an exchange whose subtree is identical, and
    * never shares work below exchanges that differ; the two sides of a
    * self-join on (band, bkey) differed, so it built the whole minhash
    * pipeline twice (two full Exchange/Window chains in the round-2 plan
    * audit). The collect form runs the pipeline once and one groupBy.
    *
    * Oversized-bucket guard (standard LSH practice): a bucket shared by
    * >100 docs is boilerplate, and expanding it would reintroduce the n²
    * blowup LSH exists to avoid; singleton buckets can't produce pairs. The
    * cap bounds the HOF expansion at C(100,2) pairs per bucket; over-cap
    * buckets star-recover around their minimum member (round 11 — see
    * [[cappedPairs]]) instead of dropping. Connectivity-only consumers
    * read [[starEdgesOf]] instead, which has no cap at all (stars are
    * O(sz)).
    */
  private def bandPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    bandPairsOf(bandBuckets(s, d))

  /** Mark every bucket row with its bucket's representative (`mn` =
    * min(mnExpr)) and size (`sz`) — the shared pre-pass of
    * [[cappedPairs]] and [[starEdgesOf]]: min/count over
    * Window.partitionBy(part) — ONE exchange on the bucket key; a
    * degenerate bucket is one task's spillable sort. Unused marks are
    * column-pruned, so min-only consumers (starEdgesOf) pay nothing for
    * the uniform helper.
    */
  private def markBuckets(df: org.apache.spark.sql.DataFrame,
      part: Seq[String], mnExpr: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(part.map(col): _*)
    df.withColumn("mn", min(mnExpr).over(w))
      .withColumn("sz", count(lit(1)).over(w))
  }

  /** Star edges from the band buckets: per (band, bkey) bucket of ANY size
    * ≥ 2 emit (min_doc → member) instead of all C(sz,2) pairs. Within a
    * bucket the star connects exactly the member set the clique does, so
    * over the buckets both expand the components are IDENTICAL
    * (StarEdgeSpec pins it), at sz−1 edges per bucket instead of
    * sz(sz−1)/2 — the input the connectivity-only consumers (clustering)
    * should read at 100 TB. Unlike [[bandPairsOf]] there is NO upper
    * bucket cap: star recovery is O(sz), so a hot template-family bucket
    * (the 20× soak measured 83 buckets > 100, 1.26 M clique pairs) keeps
    * its cluster connectivity instead of silently falling apart — the cap
    * exists to stop quadratic pair expansion, and a star has none.
    * Bounded state by construction: the bucket minimum is a window
    * aggregate over the bucket rows (spillable sort, one exchange), never
    * a collect_list buffer — no aggregation row ever holds a bucket
    * membership list (the round-9 pre-count hygiene; q_dedup_cap_audit
    * prices what the star still leaves non-enumerated).
    */
  private def starEdgesOf(buckets: org.apache.spark.sql.DataFrame) =
    markBuckets(buckets, Seq("band", "bkey"), col("doc_id"))
      .filter(col("doc_id") =!= col("mn")) // singleton buckets emit nothing
      .select(col("mn").as("doc_a"), col("doc_id").as("doc_b"))

  /** The dedup family's bounded-state pair expansion — the ONE landing of
    * the cap policy for every pair-list consumer ([[bandPairsOf]],
    * [[bandedHammingPairs]], q_dedup_prefix, q_dedup_lsh_sweep, the
    * embedding candidates and the ingest gate's intra-batch semantic arm;
    * their corpus↔new probes read [[cappedStore]]). Each bucket row
    * (bucket key `carried ++ bucket`) is first marked with its bucket's
    * minimum `member` and size via ONE window pass ([[markBuckets]]: a
    * spillable sort, never a collect buffer). Then
    *   · buckets of 2..[[BucketCap]] members take the all-pairs collect
    *     path — the sorted member list is bounded at BucketCap entries by
    *     the sz filter BEFORE the aggregation, not after it — and emit
    *     `pair(a, b)` for every a < b, expanded in-bucket (no self-join);
    *   · over-cap buckets (hot template families at real scale) emit a
    *     STAR around the bucket minimum RELATIONALLY — `pair(min, m)` for
    *     each other member row, no membership list ever materialized — so
    *     their members stay candidates instead of silently vanishing.
    *     Every consumer verifies candidates exactly downstream (Jaccard,
    *     Hamming), so a star pair is a genuine candidate; only the clique
    *     ENUMERATION stays capped, and q_dedup_cap_audit prices exactly
    *     that difference.
    * Building the frame runs no job. Both phases read the same marked
    * subtree, and Spark reuses an exchange whose subtree is identical: the
    * bucket-key exchange under the window runs once, the second phase
    * reads it as a ReusedExchange, and the collect aggregate needs no
    * exchange of its own (the window already hash-partitions by the
    * bucket key).
    * `pair` returns a struct; its fields, after the `carried` columns,
    * are the output columns. `carried` columns are part of the bucket key,
    * so buckets of different carried values never mix.
    */
  private[graft] def cappedPairs(buckets: org.apache.spark.sql.DataFrame,
      bucket: Seq[String], member: Column, carried: Seq[String])(
      pair: (Column, Column) => Column): org.apache.spark.sql.DataFrame = {
    // each side unnests its own pair struct: a union of the two structs
    // would widen the small side's non-null ids to the star's nullable `mn`
    def pairs(df: org.apache.spark.sql.DataFrame, p: Column) =
      df.select(carried.map(col) :+ p.as("p"): _*).select(carried.map(col) :+ col("p.*"): _*)
    val marked = markBuckets(buckets, carried ++ bucket, member)
    // The small phase reads `mn` too, so both phases need the same window
    // input: a struct member's min is projected below the exchange, and
    // were it in the star phase's input only, the two exchanges would
    // differ and neither be reused. (`mn` is null only for a bucket with
    // no non-null member, which collects no pairs either way.)
    val small = marked
      .filter(col("sz").between(2, BucketCap) && col("mn").isNotNull)
      .groupBy((carried ++ bucket).map(col): _*)
      .agg(sort_array(collect_list(member)).as("ds"))
    val star = marked.filter(col("sz") > BucketCap && member =!= col("mn"))
    pairs(small, explode(flatten(transform(col("ds"), (a, i) =>
        transform(slice(col("ds"), i + lit(2), size(col("ds")) - i - 1), b => pair(a, b))))))
      .unionAll(pairs(star, pair(col("mn"), member)))
  }

  /** The stored side of a corpus↔new probe under the [[cappedPairs]]
    * policy. `store` holds exactly the `bucket` columns and `member`: every
    * row of a bucket of at most [[BucketCap]] rows is kept, and a larger
    * bucket becomes ONE row, its minimum `member`, so a probe that lands
    * in a hot bucket meets one stored row, and stays a candidate of that
    * representative instead of vanishing. Deciding which buckets are hot
    * takes a thin, partially aggregated count per bucket. The hot set is
    * broadcast (each hot key stands for more than BucketCap store rows),
    * so the store itself crosses no exchange, and only the rows of hot
    * buckets reach the min.
    */
  private[graft] def cappedStore(store: org.apache.spark.sql.DataFrame,
      bucket: Seq[String], member: String): org.apache.spark.sql.DataFrame = {
    val hot = store.groupBy(bucket.map(col): _*).count()
      .filter(col("count") > BucketCap).drop("count")
    store.join(broadcast(hot), bucket, "left_anti")
      .unionByName(store.join(broadcast(hot), bucket, "left_semi")
        .groupBy(bucket.map(col): _*).agg(min(col(member)).as(member)))
  }

  /** An unordered id pair (doc_a < doc_b) — the pair shape of the minhash
    * candidate lists.
    */
  private def idPair(a: Column, b: Column) = struct(a.as("doc_a"), b.as("doc_b"))

  /** [[bandPairs]] over an arbitrary bucket set — the incremental
    * clustering path pairs the corpus and the new snapshot separately.
    */
  private def bandPairsOf(buckets: org.apache.spark.sql.DataFrame) =
    cappedPairs(buckets, Seq("band", "bkey"), col("doc_id"), Nil)(idPair)

  /** LSH candidate edge set, computed once per (context, source fingerprint) and
    * pinned (Memo.pin) (tiny: one row per candidate pair). The clustering
    * family (q_dedup_components, q_dedup_keep) shares this input — the
    * production analog is the candidate-pair table materialized once per
    * snapshot that every downstream dedup output reads; recomputing the
    * whole MinHash pipeline per consumer measured 2× the cost for zero
    * information.
    */
  private[graft] val candidateEdges = Memo.artifact("documents")((s, d) =>
    bandPairsOf(memoBandBuckets(s, d)).distinct())

  /** Band-bucket table memoized per snapshot so [[candidateEdges]] and
    * [[starEdges]] split off ONE banding pipeline run, not two. Tiny: one
    * row per (doc, band).
    */
  private val memoBandBuckets = Memo.artifact("documents")(bandBuckets)

  /** Connectivity-equivalent star edge set (see [[starEdgesOf]]), memoized
    * like [[candidateEdges]] — the clustering family's input.
    */
  private[graft] val starEdges = Memo.artifact("documents")((s, d) =>
    starEdgesOf(memoBandBuckets(s, d)).distinct())

  /** Per-doc triangle counts over the LSH candidate graph (Suri &
    * Vassilvitskii 2011): orient each edge from its lower (degree, id)
    * endpoint — an acyclic total order, so each triangle has EXACTLY ONE
    * apex with out-edges to the other two — then close wedges against the
    * undirected edge set. The orientation is the scale move: a degree-D
    * hub generates C(D,2) wedges unoriented, but its out-degree under
    * lowest-degree-first orientation is O(√|E|), bounding the wedge
    * explosion at the skewed vertices every real similarity graph has.
    * Orientation-invariant, so the oracle verifies with the naive a<b<c
    * three-way self-join. Shared by q_graph_triangles and
    * q_graph_clustercoef.
    */
  private def triangleCounts(s: org.apache.spark.sql.SparkSession, d: String) = {
    val und = candidateEdges(s, d) // (doc_a < doc_b), distinct
    val sym = und.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(und.select(col("doc_b").as("u"), col("doc_a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val o = und
      .join(deg.select(col("u").as("doc_a"), col("deg").as("da")), "doc_a")
      .join(deg.select(col("u").as("doc_b"), col("deg").as("db")), "doc_b")
      .select(
        when(struct(col("da"), col("doc_a")) < struct(col("db"), col("doc_b")),
          struct(col("doc_a").as("src"), col("doc_b").as("dst")))
          .otherwise(struct(col("doc_b").as("src"), col("doc_a").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .pin() // oriented edge list: one row per candidate edge
    val wedges = o.as("x").join(o.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.src").as("apex"), col("x.dst").as("a"), col("y.dst").as("b"))
    val tri = wedges
      .join(und, wedges("a") === und("doc_a") && wedges("b") === und("doc_b"), "left_semi")
    tri.select(explode(array(col("apex"), col("a"), col("b"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tri"))
  }

  /** Rolling 10-gram table at (doc_id, gram, cnt) GRAIN — the shared input
    * of the exact-substring family (q_dedup_substring,
    * q_dedup_substring_frac). Materialized once per (snapshot, fingerprint):
    * the frac query consumes it from THREE branches (per-doc totals, the
    * dup-gram set, the join back), and without the checkpoint each branch
    * re-tokenizes the corpus — the same no-CSE-across-join trap TF-IDF hit
    * in round 2.
    *
    * Round 22 (guide §2.3 "aggregate before you shuffle"): the artifact is
    * pre-aggregated to one row per (doc_id, gram) with its occurrence count,
    * instead of one row per occurrence. Every consumer's distinct-doc count
    * becomes a plain count(1) — the single-distinct double aggregation
    * (Exchange on (gram, doc_id) + Exchange on (gram), full gram STRINGS
    * shuffled twice) collapses to ONE gram-keyed exchange per consumer —
    * and occurrence totals are sum(cnt), identical by definition. The
    * collapse runs once at artifact build instead of inside every consumer.
    */
  private val docGrams10 = Memo.artifact("documents")(grams10Build)
  /** The pre-pin build expression of [[docGrams10]] — package-visible so
    * [[graft.ExplainPrePin]] can dump the checkpoint-PRODUCING plan
    * (VERDICT r21 item 9: pin() hides builder exchanges from the final
    * query plans).
    */
  private[graft] def grams10Build(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(TextFns.shinglesFromText(col("text"), 10)).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))

  /** Distinct rolling 8-gram membership table (doc_id, gram) for the
    * decontamination query — DISTINCT because contamination is a set
    * overlap (a gram repeated inside one doc is one exposure), unlike the
    * occurrence-counting 10-gram table above. Materialized once per
    * snapshot: q_text_decontam consumes it from three branches.
    */
  private val docGrams8 = Memo.artifact("documents")((s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(TextFns.shinglesFromText(col("text"), 8)).as("gram"))
      .distinct())

  /** Byte-banded Hamming pairing over an integer signature column — ONE
    * pipeline shared by q_dedup_simhash_pairs (16-bit SimHash, 2 bands)
    * and q_dedup_phash (32-bit gradient hash, 4 bands): candidates from
    * any matching 8-bit band (Charikar pigeonhole: hamming ≤ nBands−1
    * guarantees a shared band), the [[cappedPairs]] bucket cap (a skew-hot
    * byte bucket star-recovers around its minimum, never expanded
    * quadratically), in-bucket pair expansion without a self-join, exact
    * `bit_count(xor)` on candidates only, `distinct` because several bands
    * can surface the same pair. Returns the FULL bounded pair set (what a
    * production dedup pass consumes); report-shaped consumers apply their
    * own top-n via [[closestPairs]] (round 10 — the cap is a query-layer
    * choice, not baked into the shared helper). A banding/cap/tie-break
    * fix lands in every consumer at once.
    */
  /** The 8-bit byte-banding of a long signature column — one row per
    * (doc, band) with the band's byte value; shared by the pairing pass and
    * the cap audit so audited buckets are construction-identical.
    */
  private def bandedOf(sigs: org.apache.spark.sql.DataFrame, sigCol: String,
      nBands: Int): org.apache.spark.sql.DataFrame =
    sigs.select(
        col("doc_id"), col(sigCol).as("sig"),
        posexplode(array((0 until nBands).map(k =>
          pmod(shiftright(col(sigCol), 8 * k), lit(256L))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bval")

  private[graft] def bandedHammingPairs(
      sigs: org.apache.spark.sql.DataFrame, sigCol: String,
      nBands: Int, maxHamming: Int): org.apache.spark.sql.DataFrame =
    // [[cappedPairs]] over (doc_id, sig) members: over-cap byte buckets
    // (hot template families at real scale) emit the verified star, the
    // exact bit_count computed against the window-carried rep signature.
    cappedPairs(bandedOf(sigs, sigCol, nBands), Seq("band", "bval"),
        struct(col("doc_id"), col("sig")), Nil)((a, b) =>
        struct(
          a.getField("doc_id").as("doc_a"),
          b.getField("doc_id").as("doc_b"),
          bit_count(a.getField("sig").bitwiseXOR(b.getField("sig")))
            .cast("long").as("hamming")))
      .filter(col("hamming") <= maxHamming)
      .distinct()

  /** Top-n closest pairs under the total order (hamming, doc_a, doc_b) —
    * the REPORT shape the four perceptual-dedup queries share. Round 10:
    * lifted out of [[bandedHammingPairs]] so the shared helper returns the
    * FULL (capped-per-bucket) pair set a production dedup pass consumes,
    * and each query applies its own report cap at the query layer.
    */
  private[graft] def closestPairs(pairs: org.apache.spark.sql.DataFrame,
      n: Int = 100): org.apache.spark.sql.DataFrame =
    pairs.orderBy(col("hamming"), col("doc_a"), col("doc_b")).limit(n)

  /** n-bit SimHash signature per doc (token-hash bit votes): bit j's vote
    * comes from bit j of rollingHash(w) for j < 30 and bit j−30 of
    * rollingHash(upper(w)) above — two independent 30-bit hash planes, so
    * nBits ≤ 60. ONE builder so the vote/tie semantics (ties break to 0)
    * and the bit extraction live in a single place for the 16-bit dedup
    * family and the 60-bit naive-join demo alike; the second hash column
    * is only added when a plane above bit 29 is actually used.
    */
  private[graft] def simhashSigsN(s: org.apache.spark.sql.SparkSession, d: String,
      nBits: Int, out: String) = {
    require(nBits >= 1 && nBits <= 60, s"nBits must be in [1,60], got $nBits")
    // Round 21 (optimization guide §2.3/§2.4): formerly every token row was
    // exploded nBits× and the votes aggregated in TWO shuffles —
    // groupBy(doc_id, j) then groupBy(doc_id). Now the per-bit votes are
    // nBits sibling sum() columns in ONE groupBy(doc_id): no explode (the
    // 60-bit family amplified the token stream 60×), map-side partial
    // aggregation collapses each mapper to one row per doc, and the bit
    // assembly is a projection over the wide vote row. Vote math and
    // tie-to-0 semantics are unchanged (same ±1 contribs, same v>0 test),
    // so signatures are bit-identical.
    val base = docTokens(s, d).withColumn("h1", TextFns.rollingHash(col("w")))
    val withPlanes =
      if (nBits <= 30) base
      else base.withColumn("h2", TextFns.rollingHash(upper(col("w"))))
    def bit(j: Int) =
      if (j < 30) shiftright(col("h1"), j) % 2 else shiftright(col("h2"), j - 30) % 2
    val votes = (0 until nBits).map(j =>
      sum(when(bit(j) === 1, lit(1)).otherwise(lit(-1))).as(s"v$j"))
    withPlanes
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until nBits).map(j =>
          when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as(out))
  }

  /** 16-bit SimHash, shared by the signature dump (q_dedup_simhash) and the
    * pairing pass (q_dedup_simhash_pairs).
    */
  private def simhashSigs(s: org.apache.spark.sql.SparkSession, d: String) =
    simhashSigsN(s, d, 16, "simhash")

  /** Converged near-dup cluster labels (doc_id, cluster_id = component min)
    * over the LSH candidate graph, via [[Components]].
    * Shared by q_dedup_components (emits the labels) and q_dedup_keep
    * (materializes the surviving corpus). Docs with no candidate pair are
    * absent (they are their own trivial cluster; callers coalesce).
    */
  private def dedupClusters(s: org.apache.spark.sql.SparkSession, d: String) =
    // connectivity-only consumer → star edges (identical components to the
    // clique expansion over the same buckets, linearly fewer edges, and —
    // round 9 — over-cap buckets recovered instead of dropped).
    Components.labels(
      starEdges(s, d).select(col("doc_b").as("u"), col("doc_a").as("v")))
      .select(col("v").as("doc_id"), col("lbl").as("cluster_id"))

  /** [[dedupClusters]] memoized per (context, source fingerprint), for consumers that build
    * ON the clustering output rather than re-deriving it: production
    * clusters once per snapshot and every downstream output (kept corpus,
    * stats, audits) reads that table. q_dedup_components itself does NOT go
    * through this memo — it times the labelling honestly on every run.
    */
  private val clusterLabels = Memo.artifact("documents")(dedupClusters)

  /** DSIR sufficient statistics per document — (doc_id, n_tok, s6) where s6
    * is the exact µ-unit sum of per-token log-likelihood ratios under the
    * capped top-K unigram LMs (target = en, corpus = all). Shared by
    * q_text_dsir (reports the mean weight + keep bit) and q_sample_dsir
    * (ranks and selects the pretraining subset — the DSIR paper's actual
    * purpose). Both LMs are broadcast, top-K-bounded with OOV mass folded
    * into one UNK cell; the token stream never shuffles for the join.
    */
  private def dsirScores(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val K = 20
    val tok = docTokens(s, d)
    val corpus = tok.groupBy(col("w")).agg(count(lit(1)).as("cc")).pin()
    val vocab = corpus.orderBy(col("cc").desc, col("w")).limit(K).pin()
    // Round 21: `target` feeds three consumers (nt, ntv, the LM join) —
    // unpinned, each rebuilt the en-token aggregation from a fresh corpus
    // tokenization. Pinned once (vocab-sized); and nt (the en token count)
    // is Σ ct over it — read off the pinned table instead of a FOURTH
    // tokenization pass (guide §2.4).
    val target = tok.filter(col("lang") === "en")
      .groupBy(col("w")).agg(count(lit(1)).as("ct")).pin()
    val scalars = corpus.agg(sum(col("cc")).as("nc"))
      .crossJoin(vocab.agg(sum(col("cc")).as("ncv")))
      .crossJoin(target.agg(coalesce(sum(col("ct")), lit(0L)).as("nt")))
      .crossJoin(vocab.join(target, Seq("w"), "inner")
        .agg(sum(col("ct")).as("ntv")))
    // Per-word LLR is carried as an exact micro-unit LONG (round(llr*1e6))
    // so the per-doc sum is order-independent integer arithmetic — a
    // double avg() here differed from DuckDB in the 6th decimal on
    // boundary values because FP summation order differs between engines.
    def llr6(ct: Column, nt: Column, cc: Column, nc: Column): Column =
      round((log((ct + lit(1.0)) / (nt + lit(K + 1)))
        - log((cc + lit(1.0)) / (nc + lit(K + 1)))) * lit(1e6)).cast("long")
    val lm = vocab.join(target, Seq("w"), "left_outer")
      .crossJoin(broadcast(scalars))
      .select(col("w"),
        llr6(coalesce(col("ct"), lit(0L)), col("nt"), col("cc"), col("nc")).as("llr6"))
    val unk = scalars.select(
      llr6(col("nt") - coalesce(col("ntv"), lit(0L)), col("nt"),
        col("nc") - col("ncv"), col("nc")).as("unk_llr6"))
    tok.join(broadcast(lm), Seq("w"), "left_outer")
      .crossJoin(broadcast(unk))
      .select(col("doc_id"), coalesce(col("llr6"), col("unk_llr6")).as("llr6"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("llr6")).as("s6"))
  }

  /** The capped top-K(=20) unigram LM over a token stream (doc_id, lang,
    * w): the vocab count table `uni` (w, c), the ≤K-row LM `lm` (w, lp6) of
    * µ-unit add-1-smoothed log probs, and the one-row `unk` (unk_lp6) cell
    * all OOV mass folds into. One builder for [[unigramDocLp]] and
    * q_text_bigram_lp's backoff, which also reads `uni` for its context
    * counts.
    */
  private def unigramLm(tok: org.apache.spark.sql.DataFrame) = {
    val K = 20
    val uni = tok.groupBy(col("w")).agg(count(lit(1)).as("c")).pin()
    // Top-K by count, w ASC tiebreak — a TakeOrdered over the vocab-sized
    // count table, deterministic in both engines.
    val topk = uni.orderBy(col("c").desc, col("w")).limit(K).pin()
    val scal = uni.agg(sum(col("c")).as("n_total"))
      .crossJoin(topk.agg(sum(col("c")).as("n_vocab")))
    val lm = topk.crossJoin(broadcast(scal))
      .select(col("w"),
        round(log((col("c") + lit(1.0)) / (col("n_total") + lit(K + 1))) * lit(1e6))
          .cast("long").as("lp6"))
    val unk = scal.select(
      round(log((col("n_total") - col("n_vocab") + lit(1.0)) / (col("n_total") + lit(K + 1))) * lit(1e6))
        .cast("long").as("unk_lp6"))
    (uni, lm, unk)
  }

  /** Per-doc unigram-LM log-probability sufficient statistics: (doc_id,
    * lang, sum_lp6, n_tok), where sum_lp6 is the exact µ-unit integer sum of
    * per-token log probs under the CAPPED top-K(=20) corpus LM with OOV mass
    * folded into one add-1-smoothed UNK class (the CCNet/DSIR vocabulary
    * bound — an uncapped web-corpus LM broadcast dies at 100 TB). The ≤K-row
    * LM broadcasts onto the token stream; the stream never shuffles for the
    * join. Shared by q_text_unigram_lp (reports the per-doc mean) and
    * q_text_ppl_buckets (per-lang quality split on the same scores).
    */
  private def unigramDocLp(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val tok = docTokens(s, d)
    val (_, lm, unk) = unigramLm(tok)
    tok.join(broadcast(lm), Seq("w"), "left_outer")
      .crossJoin(broadcast(unk))
      .select(col("doc_id"), col("lang"), coalesce(col("lp6"), col("unk_lp6")).as("lp6"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("lp6")).as("sum_lp6"), count(lit(1)).as("n_tok"))
  }

  /** [[dsirScores]] memoized per (context, source fingerprint) — the same
    * artifact model as [[clusterLabels]]: q_text_dsir times the LM training
    * honestly on every run; downstream consumers (q_sample_dsir) read the
    * scored table instead of retraining both LMs.
    */
  private val dsirScoresMemo = Memo.artifact("documents")(dsirScores)

  /** Persisted corpus band-key store — (corpus_doc, skey) for the corpus
    * split (doc_id % 10 != 7), bucketed+sorted by skey ("yesterday's
    * state"). Shared by q_dedup_incremental (scoring) and
    * q_dedup_cluster_incremental (label folding). A table per source,
    * re-registered over one [[SnapshotStore]] version per source
    * fingerprint, which the first JVM to need it writes.
    */
  private val sigTables = new Memo.Cache[String]
  private def corpusSigTable(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val version = Memo.fingerprint(d, "documents")
    sigTables.get(Memo.family(s, d, "documents"), version) {
      val table = SnapshotStore.family("graft_dedup_sigs", d, "documents")
      BucketedTables.writeBucketed(
        bandKeysOf(Tables.documents(s, d).filter(col("doc_id") % 10 =!= 7))
          .withColumnRenamed("doc_id", "corpus_doc"),
        table, "skey", 8, version)
      table
    }
  }

  /** Corpus-only cluster labels (doc_id, cluster_id) — "yesterday's" label
    * store the incremental fold starts from: [[Components]] over the
    * corpus split's own candidate edges. Memoized: in production this is
    * the persisted output of the previous nightly clustering.
    */
  private val corpusClusterLabels = Memo.artifact("documents")((s, d) =>
    Components.labels(
      starEdgesOf(bandBucketsOf(shinglesOf(
          Tables.documents(s, d).filter(col("doc_id") % 10 =!= 7))))
        .distinct()
        .select(col("doc_a").as("u"), col("doc_b").as("v")))
      .select(col("v").as("doc_id"), col("lbl").as("cluster_id")))

  /** The new snapshot's candidate edges (u, v), u = any endpoint: corpus↔new
    * via the persisted skey store (a corpus bucket above [[BucketCap]] is
    * probed at its minimum corpus doc only — [[cappedStore]], mirrored by
    * the oracle) plus new↔new from the snapshot's own capped buckets.
    * Package-visible so the spec can assert fold-equals-full-recontraction
    * over exactly this edge set.
    */
  private[graft] def incNewEdges(s: org.apache.spark.sql.SparkSession, d: String) = {
    val fresh = Tables.documents(s, d).filter(col("doc_id") % 10 === 7)
    // the store is bucketed by skey, so its hot-bucket count adds no exchange
    val store = cappedStore(s.table(corpusSigTable(s, d)).select(col("skey"), col("corpus_doc")),
      Seq("skey"), "corpus_doc")
    // Round 21: the corpus↔new leg (skey form) and the new↔new leg (pair
    // expansion) both start from the snapshot's band buckets — formerly
    // each leg re-shingled and re-hashed the snapshot from parquet. One
    // pinned bucket table now feeds both (guide §2.4).
    val freshBuckets = bandBucketsOf(shinglesOf(fresh)).pin()
    val freshKeys = freshBuckets
      .select(col("doc_id"), concat_ws(":", col("band"), col("bkey")).as("skey"))
    val newCorpus = freshKeys
      .join(store, "skey")
      .select(col("doc_id").as("u"), col("corpus_doc").as("v"))
      .distinct()
    val newNew = bandPairsOf(freshBuckets)
      .distinct()
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    newCorpus.unionAll(newNew)
  }

  /** Corpus-only candidate edges, for the spec's full-recontraction
    * yardstick (the fold itself never touches them — that is the point).
    */
  private[graft] def incCorpusEdges(s: org.apache.spark.sql.SparkSession, d: String) =
    bandPairsOf(bandBucketsOf(shinglesOf(
        Tables.documents(s, d).filter(col("doc_id") % 10 =!= 7))))
      .distinct()
      .select(col("doc_a").as("u"), col("doc_b").as("v"))

  /** q_dedup_lsh_sweep's band rows, CONSOLIDATED (round 22): the three
    * banding configs' band rows over the wide signature table `sigs` union
    * into one (r, band, bkey)-keyed table, so [[cappedPairs]] marks them
    * with ONE window exchange instead of one per config.
    */
  private def lshSweepBandsBuild(sigs: org.apache.spark.sql.DataFrame) = {
    def bandsFor(r: Int) = sigs.select(lit(r.toLong).as("r"), col("doc_id"),
      posexplode(array((0 until 8 / r).map(b =>
        concat_ws(",", (0 until r).map(j =>
          col(s"m${b * r + j}").cast("string")): _*)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    Seq(1, 2, 4).map(bandsFor).reduce(_ unionAll _)
  }

  val queries: Map[String, Q] = Map(
    // X1: exact dedup — content-hash groupBy, deterministic keeper = min id.
    // One shuffle on the hash; at 100 TB this is the cheapest dedup pass.
    "q_dedup_exact" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(sha2(col("text"), 256).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("keep_id"))
    }),

    // X2a: near-dup via exact 3-gram Jaccard on MinHash-LSH candidates —
    // the scale-safe two-phase shape: candidate pairs come from the shared
    // band-bucket pipeline (in-bucket pair expansion, bucket sizes capped, so
    // candidates scale with true similarity, not n²), then exact Jaccard is
    // computed ONLY on candidates via array_intersect of the per-doc
    // distinct-shingle sets. No data-proportional broadcast pin: every join
    // here keys on doc_id or (band, bkey) and AQE picks the strategy.
    // (The previous exact all-pairs-sharing-a-shingle form was quadratic on
    // common shingles and force-broadcast a corpus-sized table — fine at
    // oracle sf, dead at 100 TB. Both engines now rank the same LSH
    // candidate set, so the recall trade is mirrored by the oracle.)
    "q_dedup_near" -> ((s, d) => {
      val cands = bandPairs(s, d).distinct()
      // memoized shingle-set table (round 22): both endpoint joins read it
      val docs = docShingleSets(s, d)
      cands
        .join(docs.select(col("doc_id").as("doc_a"), col("shs").as("sa"), col("n_sh").as("na")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("shs").as("sb"), col("n_sh").as("nb")), "doc_b")
        .withColumn("shared", size(array_intersect(col("sa"), col("sb"))))
        .select(
          col("doc_a"), col("doc_b"),
          round(col("shared") / (col("na") + col("nb") - col("shared")), 4).as("jaccard"))
        .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    }),

    // X2b: MinHash + LSH banding (the dedup scale path): 8 affine hashes over
    // the portable shingle hash, 4 bands of 2 rows; docs sharing any band
    // bucket become candidate pairs (expanded in-bucket via bandPairs — one
    // pipeline pass, no self-join); candidates scale with true similarity,
    // never the raw shingle space.
    "q_dedup_minhash" -> ((s, d) => {
      bandPairs(s, d)
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_bands"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // X2l: MinHash ESTIMATOR quality — for every LSH candidate pair, the
    // sketch's Jaccard estimate (fraction of the 8 minhash rows that agree)
    // against the exact 3-gram Jaccard, with the absolute error. The
    // sketch-fidelity counterpart of q_simsearch_recall: the number a user
    // tuning signature width actually needs before trusting the sketch at
    // 100 TB (where exact Jaccard is computable only on candidates). The
    // signature table is pinned (Memo.pin) because BOTH pair endpoints
    // read it — without the barrier the no-CSE-across-join rule builds the
    // whole minhash pipeline twice.
    "q_dedup_minhash_est" -> ((s, d) => {
      val cands = candidateEdges(s, d)
      val mh = minhashSigsOf(shinglesOf(Tables.documents(s, d))).pin()
      // wide signature (round 21): one row per doc joins each endpoint, and
      // the 8-row agreement count collapses to a projection — the former
      // (doc_b, i) join + groupBy(doc_a, doc_b) exchange are gone
      def sideAs(p: String) = mh.select(
        (col("doc_id").as(p) +: (0 until 8).map(j => col(s"m$j").as(s"${p}_m$j"))): _*)
      val agree = cands
        .join(sideAs("doc_a"), "doc_a")
        .join(sideAs("doc_b"), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (0 until 8).map(j =>
            when(col(s"doc_a_m$j") === col(s"doc_b_m$j"), 1L).otherwise(0L))
            .reduce(_ + _).as("agree8"))
      // memoized shingle-set table (round 22): both endpoint joins read it
      val sets = docShingleSets(s, d)
      agree
        .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("sa"), col("n_sh").as("na")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("sb"), col("n_sh").as("nb")), "doc_b")
        .withColumn("shared", size(array_intersect(col("sa"), col("sb"))))
        .select(col("doc_a"), col("doc_b"),
          round(col("agree8") / 8.0, 4).as("est_jaccard"),
          round(col("shared") / (col("na") + col("nb") - col("shared")), 4).as("jaccard"))
        .withColumn("abs_err", round(abs(col("est_jaccard") - col("jaccard")), 4))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // X2m: MERGE / upsert — the CDC apply step of a versioned corpus: a
    // delta of inserts (new ids), updates (changed rows), and delete
    // tombstones folds into the base via ONE full-outer join on the key
    // (the join-based MERGE INTO every lakehouse engine executes; at 100 TB
    // this is one key-partitioned shuffle, and a real deployment would
    // bucket both sides on doc_id to make it Exchange-free — the
    // BucketedTables posture). Delta is derived deterministically from the
    // fixture: %10==7 insert, %10==3 update (+3 chars), %10==5 tombstone.
    "q_merge_upsert" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"), col("n_chars").as("b_chars"))
      // Round 21: the three delta branches are disjoint residue classes of
      // one table — a single filtered scan with a CASE replaces the
      // three-scan unionByName (same multiset of rows; the full-outer join
      // downstream is order-insensitive).
      val m = col("doc_id") % 10
      val delta = docs.filter(m.isin(7, 3, 5))
        .select(col("doc_id"),
          when(m === 7, col("n_chars"))
            .when(m === 3, col("n_chars") + 3)
            .otherwise(lit(0L)).as("d_chars"),
          when(m === 7, lit("I")).when(m === 3, lit("U"))
            .otherwise(lit("D")).as("op"))
      base.join(delta, Seq("doc_id"), "full_outer")
        .withColumn("src",
          when(col("op") === "D", "deleted")
            .when(col("op") === "U", "updated")
            .when(col("op") === "I", "inserted")
            .otherwise("base"))
        .filter(col("src") =!= "deleted")
        .select(col("doc_id"),
          coalesce(col("d_chars"), col("b_chars")).as("n_chars"),
          col("src"))
        .orderBy(col("doc_id"))
    }),

    // X2k: PageRank centrality over the near-dup similarity graph — the
    // graph-quality signal of a crawl pipeline (CommonCrawl ranks domains by
    // harmonic/PageRank centrality; here the same shape ranks documents by
    // how central they sit in the similarity graph). Fixed 3 power
    // iterations at damping 0.85 over the memoized LSH candidate edges
    // (undirected → both directions), restricted to nodes with at least one
    // edge, no dangling mass by construction. Each iteration is ONE shuffle
    // (join rank onto edges, re-aggregate by destination) — the standard
    // distributed PageRank; iterations are a fixed constant, so the 100 TB
    // cost is 3 bounded passes over the edge list, never a convergence loop.
    // The oracle unrolls the same 3 iterations as CTEs.
    "q_graph_pagerank" -> ((s, d) => {
      val und = candidateEdges(s, d)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      val edges = und.unionAll(und.select(col("v").as("u"), col("u").as("v")))
      val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val e2 = edges.join(deg, "u")
        .select(col("u"), col("v"), col("deg")).pin()
      val nC = deg.agg(count(lit(1)).cast("double").as("nn"))
      // Ranks are carried as exact µ-unit LONGS (pru = pr·1e6): each
      // node's incoming contributions are `pru div deg` integer divisions
      // summed in integer arithmetic, so the per-node total is independent
      // of partial-aggregation order — summing raw pr/deg doubles here
      // differed from DuckDB's fold order at rounding boundaries (the
      // q_text_dsir lesson; both engines quantize identically instead).
      var r = deg.crossJoin(broadcast(nC))
        .select(col("u").as("nd"), round(lit(1e6) / col("nn")).cast("long").as("pru"))
      for (_ <- 1 to 3) {
        r = e2.join(r, e2("u") === r("nd"))
          .groupBy(col("v")).agg(sum(expr("pru div deg")).as("s"))
          .crossJoin(broadcast(nC))
          .select(col("v").as("nd"),
            round(lit(0.15e6) / col("nn") + lit(0.85) * col("s")).cast("long").as("pru"))
      }
      r.select(col("nd").as("doc_id"), round(col("pru") / lit(1e6), 6).as("pr"))
        .orderBy(col("doc_id"))
    }),

    // X2x: PREFIX-FILTERING set-similarity join (the AllPairs/PPJoin
    // family, Bayardo et al. 2007 / Xiao et al. 2008) — exact Jaccard ≥
    // θ=0.6 over word-token SETS, with candidate generation by PREFIX
    // instead of MinHash banding: order each doc's tokens rarest-first
    // (global df asc, token asc), and two docs can only reach θ if they
    // share at least one token in their first L = n − ceil(θn) + 1 tokens
    // (pigeonhole on the ≥ θ·n overlap a match requires). The prefix
    // SCHEME is exact (no probabilistic false negatives, unlike MinHash
    // banding). Over-full buckets (>100 docs sharing a prefix token) are
    // NOT dropped any more: enumerating their C(sz,2) pairs is inherently
    // quadratic in cluster size (measured 88.8M candidate pairs hiding
    // 7.1M true pairs in 17 over-cap buckets at sf0.1 — an output no exact
    // pair-list can avoid), so instead each over-cap bucket emits a
    // verified STAR: every member paired with the bucket representative
    // (its minimum doc_id) — O(sz) candidates, O(sz) output, then the same
    // exact-Jaccard verify. For the template families that actually
    // produce over-full buckets, members sit within θ of the rep, so the
    // star preserves CLUSTER CONNECTIVITY (what the components/keep-one
    // consumers need) without the quadratic pair list; members failing the
    // rep verify remain foregone and q_dedup_cap_audit counts both sides
    // (pairs not enumerated, star edges emitted) — bounded, audited,
    // never silent. All threshold math is integer (ceil(6n/10) =
    // (6n+9) div 10; Jaccard test inter·10 ≥ 6·union), so both engines
    // decide identically. Scale shape: tokenize → one df aggregation →
    // per-doc sort (map-side after the df join's shuffle), materialized
    // once → THIN prefix explode (no token arrays) → one window pass marks
    // bucket rep + size → per-bucket expansion (all-pairs via a
    // 100-struct-bounded collect for ≤100, relational star above) → length
    // filter 10·min(na,nb) ≥ 6·max → token arrays joined onto surviving
    // candidates only → exact verify. Never all-pairs, and no aggregation
    // row ever holds a bucket's token arrays.
    "q_dedup_prefix" -> ((s, d) => {
      // BOUNDED-STATE two-phase candidate generation (round 9, closing the
      // round-8 scale finding): the old shape collected
      // struct(doc_id, n, ws) — each member's FULL token array — into one
      // aggregation row per bucket, so a hot prefix token's whole
      // membership (76 684 structs at the 50× soak; GBs at production doc
      // lengths) sat in a single collect buffer. Now:
      //   · the per-doc table (doc_id, n, ws, pl) materializes ONCE
      //     (Memo.pin — the persisted index-build intermediate);
      //   · the candidate key table is THIN (doc_id, n, w) and one window
      //     pass marks each row with its bucket's min (doc_id, n) and size
      //     (spillable sort, no buffers);
      //   · [[cappedPairs]] expands the thin (doc_id, n) members — never
      //     token arrays: all pairs for buckets of 2..100 docs, the
      //     verified star for over-cap buckets;
      //   · the length filter runs on (na, nb) BEFORE the two endpoint
      //     joins fetch token arrays, so `ws` is only ever joined onto
      //     surviving candidates, one row at a time.
      // Output is bit-identical to the round-8 spelling (same oracle);
      // PrefixStarSpec pins both the star semantics and the bounded plan.
      val docsT = prefixDocsOf(s, d).pin()
      cappedPairs(prefixTokensFrom(docsT), Seq("w"), struct(col("doc_id"), col("n")), Nil)(
          (a, b) => struct(a.getField("doc_id").as("doc_a"), a.getField("n").as("na"),
            b.getField("doc_id").as("doc_b"), b.getField("n").as("nb")))
        .filter(least(col("na"), col("nb")) * 10 >= greatest(col("na"), col("nb")) * 6)
        .dropDuplicates("doc_a", "doc_b")
        .join(docsT.select(col("doc_id").as("doc_a"), col("ws").as("wsa")), "doc_a")
        .join(docsT.select(col("doc_id").as("doc_b"), col("ws").as("wsb")), "doc_b")
        .withColumn("inter", size(array_intersect(col("wsa"), col("wsb"))).cast("long"))
        .filter(col("inter") * 10 >= (col("na") + col("nb") - col("inter")) * 6)
        .select(col("doc_a"), col("doc_b"), col("inter"),
          round(col("inter") / (col("na") + col("nb") - col("inter")), 6).as("jac"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // X2y: CAP AUDIT — the "no silent caps" rule applied to the dedup
    // family's own candidate generation. Since round 9 all three pipelines
    // (minhash bands via [[starEdgesOf]] for the clustering consumers,
    // prefix-filter buckets, simhash/banded-Hamming byte-bands) reduce each
    // over-cap bucket (>100 members) to a verified STAR around its
    // minimum-doc_id representative instead of dropping it — pairs are
    // what stay capped (expanding a hot bucket is inherently quadratic),
    // connectivity is not. This query makes the cap OBSERVABLE: per
    // pipeline, the exact number of pairable buckets, the largest bucket,
    // how many buckets exceeded the cap, the candidate pairs NOT
    // enumerated in them, and the star edges emitted — all integers, all
    // oracled. The minhash band table is audited under BOTH of its
    // consumers' semantics, one row each: `minhash` is the clustering
    // path ([[starEdgesOf]]) and `minhash_pairs` the pair-list path
    // (q_dedup_minhash / q_dedup_near / ... via [[cappedPairs]]). Both
    // reduce an over-cap bucket to the same star, so the two rows report
    // the same formulas (foregone = C(sz,2) − (sz−1), star_edges = sz−1);
    // each row names the consumer it audits. The size histogram below
    // mirrors cappedPairs' gate (sz > BucketCap) to price its stars. The
    // fixture corpora already exercise every column:
    // prefix template families are over-cap at sf0.01 (13 buckets) and
    // simhash bands go over-cap at sf0.1 (28 buckets), all verified
    // exactly by the oracle; at 100 TB a hot band value shows up HERE as a
    // nonzero pairs_foregone instead of as silently-missing duplicates.
    // Cost: each pipeline's bucket table reduces to one size histogram —
    // three aggregates over already-built keys, no pair expansion
    // anywhere.
    "q_dedup_cap_audit" -> ((s, d) => {
      // Summarize a bucket-size histogram under one or BOTH cap semantics
      // in a SINGLE aggregation pass: the star/drop variants differ only
      // in the pairs_foregone / star_edges formulas, so both are computed
      // as sibling aggregates on the one row and exploded into the
      // requested rows — no second pass over the histogram, no checkpoint
      // (the minhash pipeline builds exactly once for its two rows).
      def summarize(sizes: org.apache.spark.sql.DataFrame,
          rows: Seq[(String, Boolean)]) = {
        val agg = sizes.filter(col("sz") >= 2).agg(
          count(lit(1)).cast("long").as("n_buckets"),
          coalesce(max(col("sz")), lit(0L)).cast("long").as("max_bucket"),
          coalesce(sum(when(col("sz") > BucketCap, lit(1L)).otherwise(lit(0L))), lit(0L))
            .cast("long").as("overcap_buckets"),
          coalesce(sum(when(col("sz") > BucketCap, expr("(sz - 1) * (sz - 2) div 2"))
            .otherwise(lit(0L))), lit(0L)).cast("long").as("pf_star"),
          coalesce(sum(when(col("sz") > BucketCap, col("sz") - 1)
            .otherwise(lit(0L))), lit(0L)).cast("long").as("se_star"),
          coalesce(sum(when(col("sz") > BucketCap, expr("sz * (sz - 1) div 2"))
            .otherwise(lit(0L))), lit(0L)).cast("long").as("pf_drop"))
        agg.select(explode(array(rows.map { case (name, starRecovery) =>
          struct(lit(name).as("pipeline"), col("n_buckets"), col("max_bucket"),
            col("overcap_buckets"),
            (if (starRecovery) col("pf_star") else col("pf_drop")).as("pairs_foregone"),
            (if (starRecovery) col("se_star") else lit(0L)).as("star_edges"))
        }: _*)).as("r"))
          .select(col("r.*"))
      }
      val mh = bandBuckets(s, d)
        .groupBy(col("band"), col("bkey")).agg(count(lit(1)).cast("long").as("sz"))
      val pf = prefixTokensOf(s, d)
        .groupBy(col("w")).agg(count(lit(1)).cast("long").as("sz"))
      val sh = bandedOf(simhashSigs(s, d), "simhash", nBands = 2)
        .groupBy(col("band"), col("bval")).agg(count(lit(1)).cast("long").as("sz"))
      summarize(mh, Seq("minhash" -> true, "minhash_pairs" -> true))
        .unionAll(summarize(pf, Seq("prefix" -> true)))
        .unionAll(summarize(sh, Seq("simhash" -> true)))
        .orderBy(col("pipeline"))
    }),

    // X13b: TRIANGLE COUNTING over the near-dup similarity graph — the
    // local-clustering signal (a doc in many triangles sits in a DENSE
    // near-dup neighborhood — template/boilerplate families — where a
    // mere high degree can be hub noise). Algorithm is the MapReduce
    // classic (Suri & Vassilvitskii 2011 "Counting Triangles and the
    // Curse of the Last Reducer"): orient every edge from its lower
    // (degree, id) endpoint — an acyclic total order, so each triangle
    // has EXACTLY ONE apex with out-edges to the other two — then join
    // out-edge pairs (wedges) against the undirected edge set. The
    // orientation is the scale move: a degree-D hub generates C(D,2)
    // wedges unoriented, but its out-degree under lowest-degree-first
    // orientation is O(sqrt(|E|)), bounding the wedge explosion at the
    // skewed vertices every real similarity graph has. The per-vertex
    // count is orientation-invariant, so the oracle verifies with the
    // naive a<b<c three-way self-join. Edges are the memoized LSH
    // candidate set ([[candidateEdges]]) — bounded by banding, never
    // all-pairs.
    "q_graph_triangles" -> ((s, d) =>
      triangleCounts(s, d).orderBy(col("doc_id"))),

    // X4m: ZIPF RANK-FREQUENCY FIT — the corpus-law sanity check: regress
    // ln(frequency) on ln(rank) over the top-30 vocabulary; natural text
    // slopes near −1, and a corpus that drifts far off is machine-
    // generated, templated, or broken upstream (the corpus-level cousin
    // of q_text_gopher's per-doc rules). Discipline: the vocab collapses
    // through ONE partial-aggregated exchange and a TakeOrdered; ln
    // values carry as µ-unit longs so the closed-form slope's sufficient
    // statistics (Σx, Σy, Σxy, Σx²) are exact integers (the
    // q_text_quality_lr lesson) — the single final division is the only
    // double op, identical in both engines.
    "q_text_zipf" -> ((s, d) => {
      val vocab = docTokens(s, d).groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(30)
      val byC = Window.orderBy(col("c").desc, col("w")) // ≤30 rows: metadata scale
      vocab.withColumn("rn", row_number().over(byC).cast("long"))
        .withColumn("x6", round(log(col("rn")) * lit(1e6)).cast("long"))
        .withColumn("y6", round(log(col("c")) * lit(1e6)).cast("long"))
        .groupBy()
        .agg(count(lit(1)).as("n_terms"),
          sum(col("x6")).as("sx"), sum(col("y6")).as("sy"),
          sum(col("x6") * col("y6")).as("sxy"),
          sum(col("x6") * col("x6")).as("sxx"))
        .select(col("n_terms"),
          round((col("n_terms") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
            .as("zipf_slope"))
    }),

    // X2z: LSH BANDING-PARAMETER SWEEP — the S-curve tuning harness for
    // the MinHash family: the SAME 8-hash signatures banded three ways
    // (r=1 ⇒ 8 bands, r=2 ⇒ 4, r=4 ⇒ 2), each config's candidate count
    // plus its EXACT-verified precision at Jaccard ≥ 0.5 (integer test
    // 3·inter ≥ na+nb — never a double). Collision probability is
    // 1−(1−s^r)^b, so smaller r must produce more candidates at lower
    // precision — this query MEASURES that trade on the corpus, which is
    // how you pick (b, r) before a 100 TB run instead of guessing.
    // Cost shape: signatures compute ONCE — the three configs' branches
    // read the signature aggregate's exchange, the second and third as a
    // ReusedExchange; each config is a metadata-cheap re-banding of the
    // wide sig row; the expensive exact verify runs ONCE on the distinct
    // union of candidates, then every config joins the shared verdict table.
    // Recall vs ground truth is NOT reported — that would need the
    // all-pairs join this family exists to avoid (documented omission).
    "q_dedup_lsh_sweep" -> ((s, d) => {
      val sigs = minhashSigsOf(docShingles(s, d))
      // wide signature (round 21): each config's band keys are pure
      // projections over the one 8-column row — the former per-config
      // groupBy(doc_id, band) re-aggregation (one exchange per config) is
      // gone; key strings are unchanged (concat order IS i order).
      // Round 22 (guide §2.4): the three configs' band rows UNION into one
      // table keyed (r, band, bkey), so bucket marking is ONE window
      // exchange instead of one per config (the per-config bandPairsOf
      // paid 3 window exchanges); [[cappedPairs]] carries r, so its
      // buckets are (r, band, bkey) and configs never mix — pairs per
      // config identical.
      // pinned (round 21): both the exact-verify pass and the final
      // per-config rollup read the candidate union; unpinned, all three
      // re-banding/expansion chains ran twice (tiny table: one row per
      // (config, candidate pair))
      val cand = cappedPairs(lshSweepBandsBuild(sigs), Seq("band", "bkey"), col("doc_id"),
          Seq("r"))(idPair)
        .distinct().pin()
      // memoized shingle-set table (round 22): both endpoint joins read it
      val sets = docShingleSets(s, d)
      val verified = cand.select(col("doc_a"), col("doc_b")).distinct()
        .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (size(array_intersect(col("sa"), col("sb"))) * 3
            >= size(col("sa")) + size(col("sb"))).cast("long").as("is_true"))
      cand.join(verified, Seq("doc_a", "doc_b"))
        .groupBy(col("r"))
        .agg(count(lit(1)).as("n_cand"), sum(col("is_true")).as("n_true"))
        .select(col("r"), expr("8 div r").as("b"), col("n_cand"), col("n_true"),
          expr("(n_true * 1000000L) div n_cand").as("precision_ppm"))
        .orderBy(col("r"))
    }),

    // X2y: INTER-SOURCE OVERLAP MATRIX — "how much does crawl A duplicate
    // crawl B": the memoized LSH candidate edges labeled with each
    // endpoint's source, rolled up per unordered source pair, with the
    // rate normalized by the POSSIBLE pair count (n_a·n_b cross-source,
    // C(n_a,2) within-source) in exact parts-per-billion. The curation
    // report that decides which crawl to drop when two overlap heavily.
    // Shape: two source-label joins onto the edge table (edges are the
    // banded candidate set — bounded), one pair-keyed rollup, per-source
    // counts broadcast back; the corpus itself never re-tokenizes.
    "q_source_overlap" -> ((s, d) => {
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      val perSrc = src.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val pairs = candidateEdges(s, d)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("s1")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("s2")), "doc_b")
        .select(least(col("s1"), col("s2")).as("src_a"),
          greatest(col("s1"), col("s2")).as("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_pairs"))
      pairs
        .join(broadcast(perSrc.select(col("source").as("src_a"), col("n_docs").as("n_a"))), "src_a")
        .join(broadcast(perSrc.select(col("source").as("src_b"), col("n_docs").as("n_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_pairs"),
          expr("(n_pairs * 1000000000L) div " +
            "(CASE WHEN src_a = src_b THEN (n_a * (n_a - 1)) div 2 ELSE n_a * n_b END)")
            .as("rate_ppb"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // X13c: LOCAL CLUSTERING COEFFICIENT — cc(v) = 2·tri(v)/(deg(v)·
    // (deg(v)−1)), the density of a doc's near-dup neighborhood: high cc
    // marks template/boilerplate families (the neighbors also duplicate
    // EACH OTHER), where raw degree alone can be hub noise. Reuses the
    // oriented-wedge triangle counts and the candidate-edge degrees —
    // both integer tables; the ratio is one double expression with
    // identical shape in both engines, rounded at 6 dp. Zero-triangle
    // nodes restore via left join (a missing row reads as "no data",
    // cc=0 reads as "tree-like neighborhood" — different facts).
    "q_graph_clustercoef" -> ((s, d) => {
      val und = candidateEdges(s, d)
      val sym = und.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .unionAll(und.select(col("doc_b").as("u"), col("doc_a").as("v")))
      val deg = sym.groupBy(col("u").as("doc_id")).agg(count(lit(1)).as("deg"))
      deg.join(triangleCounts(s, d), Seq("doc_id"), "left")
        .select(col("doc_id"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          when(col("deg") >= 2,
            round(lit(2.0) * coalesce(col("n_tri"), lit(0L))
              / (col("deg") * (col("deg") - 1)), 6))
            .otherwise(lit(0.0)).as("cc"))
        .orderBy(col("doc_id"))
    }),

    // X2f: duplicate CLUSTERS — connected components over the MinHash
    // candidate graph, the pass that turns pairwise near-dup hits into
    // keep/drop groups (cluster_id = min doc_id of the component, the
    // canonical keeper). [[Components]]: union-find on the driver over one
    // bounded collect; a graph above DriverMaxEdges (2^20) edges THROWS,
    // naming the cap.
    "q_dedup_components" -> ((s, d) =>
      dedupClusters(s, d).orderBy(col("doc_id"))),

    // X2g: corpus MATERIALIZATION — the actual output of a dedup pipeline:
    // the surviving documents (cluster keepers + docs with no near-dup),
    // each with its duplicate-group size as provenance. One aggregation
    // over the label-joined corpus: cluster_id IS the keeper's doc_id
    // (component min), so the keeper's attributes ride along in a min_by —
    // documents is scanned exactly once and no second join is needed to
    // recover the keeper row.
    "q_dedup_keep" -> ((s, d) => {
      val labels = clusterLabels(s, d)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .groupBy(col("cluster_id"))
        .agg(
          count(lit(1)).as("n_members"),
          min_by(struct(col("lang"), col("n_chars")), col("doc_id")).as("k"))
        .select(col("cluster_id").as("doc_id"), col("k.lang").as("lang"),
          col("k.n_chars").as("n_chars"), col("n_members"))
        .orderBy(col("doc_id"))
    }),

    // X2g': dedup OPS REPORT — the dashboard of a production dedup run over
    // the same provenance q_dedup_keep materializes: cluster-size histogram
    // (one row per size) plus an overall total row (cluster_size = -1), with
    // docs removed, dup rate, and chars removed per bucket. Two aggregations
    // over data already shrunk to one row per cluster — the expensive part
    // (labels) is the shared memoized artifact, so at 100 TB this report
    // costs one pass over the cluster table, not the corpus.
    "q_dedup_stats" -> ((s, d) => {
      val labels = clusterLabels(s, d)
      val clusters = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .groupBy(col("cluster_id"))
        .agg(
          count(lit(1)).as("sz"),
          sum(col("n_chars")).as("chars_all"),
          min_by(col("n_chars"), col("doc_id")).as("chars_keeper"))
      clusters
        .rollup(col("sz"))
        .agg(
          count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs"),
          sum(col("sz") - 1).as("n_removed"),
          sum(col("chars_all") - col("chars_keeper")).as("chars_removed"))
        .select(
          coalesce(col("sz"), lit(-1L)).as("cluster_size"),
          col("n_clusters"), col("n_docs"), col("n_removed"),
          round(col("n_removed").cast("double") / col("n_docs"), 6).as("dup_rate"),
          col("chars_removed"))
        .orderBy(col("cluster_size"))
    }),

    // X2g'': SOFT dedup — instead of dropping near-dups, emit a per-doc
    // training weight 1/|cluster| (the SoftDeDup-style reweighting: keep
    // every copy but make each duplicate group contribute one document's
    // worth of gradient mass). Weight is carried as an exact µ-unit long
    // via integer division — no FP, bit-stable across engines. Scale shape:
    // cluster sizes come from the LABEL table (near-dup docs only, ≪
    // corpus; the size groupBy and the labels⋈sizes join share the
    // cluster_id partitioning), so the corpus itself shuffles exactly once
    // — the doc_id join; unlabeled docs take (self, 1) via coalesce without
    // ever entering the size aggregation.
    "q_dedup_weights" -> ((s, d) => {
      val labels = clusterLabels(s, d)
      val sized = labels
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("csize"))
        .join(labels, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("csize"))
      Tables.documents(s, d)
        .select(col("doc_id"))
        .join(sized, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          coalesce(col("csize"), lit(1L)).as("csize"))
        .withColumn("weight_u", expr("1000000 div csize").cast("long"))
        .orderBy(col("doc_id"))
    }),

    // X2b': MinHash signatures via the typed Aggregator rung of the
    // extension ladder (SURVEY.md §2.12): same hash family and output as the
    // DataFrame min-over-affine formulation in bandBuckets (property-tested
    // equal in FunctionsSpec), but the per-doc state is one fixed-size
    // Array[Long](8) merged map-side — the shuffle carries 8 longs per doc
    // regardless of shingle count, the sketch posture a 100 TB corpus needs.
    "q_dedup_minhash_agg" -> ((s, d) => {
      import s.implicits._
      val hs = docShingles(s, d)
        .withColumn("h", TextFns.rollingHash(col("sh")))
        .select(col("doc_id").cast("long"), col("h")).as[(Long, Long)]
      hs.groupByKey(_._1).mapValues(_._2)
        .agg(new graft.functions.MinHashAggregator(8).toColumn.name("sig"))
        .toDF("doc_id", "sig")
        .select(col("doc_id"),
          array_join(transform(col("sig"), x => x.cast("string")), ",").as("sig"))
        .orderBy(col("doc_id"))
    }),

    // X2c: SimHash — 16-bit signature from token-hash bit votes; one linear
    // pass + two small shuffles, the cheapest near-dup signal at scale.
    "q_dedup_simhash" -> ((s, d) =>
      simhashSigs(s, d).orderBy(col("doc_id"))),

    // X2c': SimHash PAIRING — the consumer of the signatures: candidate
    // pairs from byte-banding the 16-bit signature (2 bands of 8 bits — a
    // pair collides iff either byte matches, the Charikar pigeonhole trick:
    // hamming ≤ 1 guarantees a shared band, low hamming makes one likely),
    // exact Hamming distance via bit_count(xor) on candidates only, top-100
    // closest pairs reported — the shared [[bandedHammingPairs]] pipeline.
    // X2f2: the NAIVE Hamming join, rescued by the optimizer — a 60-bit
    // SimHash (two independent 30-bit rolling hashes voting on disjoint
    // bit planes, the Manku/Charikar web-dedup signature width) self-joined
    // exactly the way an analyst writes it first:
    //   ON bit_count(sig_a ^ sig_b) <= 2 AND doc_a < doc_b
    // With no equi key, Catalyst alone plans this as a nested-loop over
    // all pairs — the shape that melts at any scale. The registered
    // [[graft.plans.BandedHammingJoinRule]] (SparkSessionExtensions rung
    // (c) of §2.12) rewrites it into the exact banded equi join (k+1
    // disjoint bit-bands, pigeonhole-complete, first-match dedup), so the
    // naive spelling gets the hand-tuned bandedHammingPairs plan for free
    // — PlanSpec pins the rewrite (2 Generates, no BNLJ). The oracle is
    // the same naive join in DuckDB: the rewrite must be row-invisible.
    "q_dedup_hamming_join" -> ((s, d) => {
      // materialize once — the self-join's two legs must not rebuild the
      // 60-plane signature aggregation twice (the join stays naive)
      val sig = simhashSigsN(s, d, 60, "sig").pin()
      val a = sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      val b = sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
      a.join(b, expr("bit_count(sig_a ^ sig_b) <= 2") && col("doc_a") < col("doc_b"))
        .groupBy(expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)").as("hamming"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("hamming"))
    }),

    "q_dedup_simhash_pairs" -> ((s, d) =>
      closestPairs(
        bandedHammingPairs(simhashSigs(s, d), "simhash", nBands = 2, maxHamming = 3))),

    // X2h: PARAGRAPH-level dedup — boilerplate passages that doc-level sha2
    // misses: split each doc into non-overlapping 10-token chunks (the
    // fixture has no punctuation, so a fixed token window stands in for the
    // paragraph separator) and surface every chunk appearing in ≥2 distinct
    // docs. One explode + one groupBy on the chunk text; at 100 TB the
    // groupBy key would be the chunk hash, everything else identical.
    "q_dedup_paragraph" -> ((s, d) => {
      val k = 10
      Tables.documents(s, d)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= k) // sequence(1,0) would run descending
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(1), (size(col("ts")) / k).cast("int")),
            i => array_join(slice(col("ts"), (i - lit(1)) * lit(k) + lit(1), lit(k)), " ")))
            .as("para"))
        .groupBy(col("para"))
        .agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"),
          min(col("doc_id")).as("keep_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("para"))
    }),

    // X2i: INCREMENTAL dedup — the production pattern at 100 TB: the corpus'
    // MinHash band keys are PERSISTED (bucketed+sorted by the band key via
    // [[graft.sources.BucketedTables]], so the daily join reads co-located
    // buckets and shuffles only the new side), and a new snapshot (fixture:
    // doc_id % 10 = 7, the "daily crawl") shingles ONLY its own docs and
    // joins its band keys against the store — nothing corpus-sized is ever
    // recomputed per snapshot. Output: every new doc with the number of
    // distinct corpus near-dups and the smallest matching corpus doc.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // One-time corpus-side layout (in production: yesterday's persisted
      // state) — committed once per source fingerprint; the timed query is ONLY what
      // a daily run pays: shingle the new snapshot, join the bucketed store.
      val table = corpusSigTable(s, d)
      val fresh = bandKeysOf(docs.filter(col("doc_id") % 10 === 7))
      val hits = fresh.join(s.table(table), "skey")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("corpus_doc")).as("n_dups"),
          min(col("corpus_doc")).as("dup_of"))
      docs.filter(col("doc_id") % 10 === 7).select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
        .orderBy(col("doc_id"))
    }),

    // X2k: INCREMENTAL CLUSTERING — fold the new snapshot's candidate edges
    // into the EXISTING component labels without re-contracting the corpus
    // (re-clustering 100 TB nightly is not viable; this is the daily-crawl
    // production path). The fold contracts only the QUOTIENT graph: corpus
    // endpoints of new edges collapse to their stored label, so the graph
    // Components labels is sized by the day's edges, never the corpus.
    // Exact, not approximate: corpus labels are component minima, so
    // collapsing a component to its label preserves both connectivity and
    // the min — the fold provably equals full recontraction over the same
    // edge set (ComponentsSpec pins it; the oracle's recursive closure IS
    // the full recontraction). Output: every labeled doc (corpus docs with
    // updated labels, newly connected corpus singletons, new docs with
    // edges); isolated docs stay absent, same convention as
    // q_dedup_components.
    "q_dedup_cluster_incremental" -> ((s, d) => {
      val cLabels = corpusClusterLabels(s, d) // yesterday's label store
      val newEdges = incNewEdges(s, d)
      // Quotient: corpus endpoints → stored label (singletons keep their id;
      // new-doc endpoints are never in the store — ids are disjoint splits).
      val quotient = newEdges
        .join(cLabels, newEdges("v") === cLabels("doc_id"), "left")
        .select(newEdges("u"), coalesce(col("cluster_id"), newEdges("v")).as("v"))
      val rl = Components.labels(quotient)
        .withColumnRenamed("v", "qv").withColumnRenamed("lbl", "nl")
      // Store docs: re-point if their component's label-vertex merged.
      val storeOut = cLabels
        .join(rl, cLabels("cluster_id") === rl("qv"), "left")
        .select(col("doc_id"), coalesce(col("nl"), col("cluster_id")).as("cluster_id"))
      // Quotient vertices that are NOT store labels: new docs and corpus
      // singletons drawn in by a new edge — labeled directly.
      val extra = rl
        .join(cLabels.select(col("cluster_id").as("qv")).distinct(), Seq("qv"), "left_anti")
        .select(col("qv").as("doc_id"), col("nl").as("cluster_id"))
      storeOut.unionAll(extra).orderBy(col("doc_id"))
    }),

    // X2d: edit-distance verify over the LSH candidate edges: Levenshtein
    // is O(len²) per pair, so the exact form only ever runs on a candidate
    // set — HERE that is literally [[candidateEdges]], the same memoized
    // banded MinHash pairs the clustering family consumes, joined back to
    // the texts. No cross join anywhere; pair count is bounded by the
    // banding caps, which is exactly the 100 TB contract (the expensive
    // exact metric runs on O(candidates), never O(n²)).
    //
    // Top-10 with adaptive-threshold banded DP (provably exact): the
    // threshold (3-arg) levenshtein costs O(T·len) per pair instead of
    // O(len²) and returns -1 above T, and |len(a)-len(b)| <= dist lets a
    // cheap gap prefilter skip the DP entirely for wide pairs. One pass
    // joins texts onto the candidate edges, runs the banded DP at T, and
    // pins (Memo.pin) ONLY the qualifying (dist <= T) rows — three longs
    // per near-dup pair, so the materialization is as small as the answer
    // set, never O(candidates)·texts (an earlier variant checkpointed the
    // joined texts: correct, but the multi-GB checkpoint dominated the 50×
    // soak). If >= 10 pairs qualify, the true top-10 all sit inside them
    // (d10 <= T), so TakeOrdered over the tiny table is bit-identical to
    // the full-DP spelling (EditDistPruneSpec pins it; the oracle is
    // unchanged); otherwise escalate T ×4 — re-running the join+DP pass is
    // the RARE path, O(log d10) rounds total, each a one-row driver scalar
    // like the Components convergence loop. T starts at 8 ≥ d10=4 at all
    // three fixture scales, so the common case is exactly one pass; the cap
    // is the max text length among paired docs, at which point every pair
    // qualifies (gap <= dist <= maxLen). The naive full-DP form measured
    // 48.7 s at the 20× soak; the banded form's DP is O(T·len) per pair.
    "q_text_editdist" -> ((s, d) => {
      // Null texts are excluded EXPLICITLY, up front: the pruned pipeline's
      // `dist >= 0` qualifier would silently drop null-text pairs, whereas
      // the naive `orderBy(dist)` spelling sorts null distances FIRST
      // (Spark asc default) — so the two spellings only agree on non-null
      // text, and the exactness argument below assumes it (round-9 ADVICE;
      // same filter in EditDistPruneSpec's naive yardstick).
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text")).where(col("text").isNotNull)
      val pairs = candidateEdges(s, d)
        .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      // dist <= max text length AMONG PAIRED docs — the escalation cap.
      val mlRow = pairs.agg(max(greatest(length(col("ta")), length(col("tb"))))).head()
      val maxLen = if (mlRow.isNullAt(0)) 0 else mlRow.getInt(0) // null ⇔ no pairs
      def withinT(t: Int) = pairs
        .where(abs(length(col("ta")) - length(col("tb"))) <= t)
        .select(col("doc_a"), col("doc_b"),
          // codegen banded DP with prefix/suffix strip — bit-equal to the
          // thresholded builtin (FunctionsSpec), ~free on near-dup pairs
          TextFns.bandedEditDist(col("ta"), col("tb"), t).cast("long").as("dist"))
        .where(col("dist") >= 0)
        .pin()
      var t = math.min(8, math.max(maxLen, 1))
      var q = withinT(t)
      while (q.count() < 10 && t < maxLen) {
        t = math.min(t * 4, maxLen)
        q = withinT(t)
      }
      q.orderBy(col("dist"), col("doc_a"), col("doc_b")).limit(10)
    }),

    // X4f: PII-style redaction — the scrub pass every training pipeline runs
    // before export: match a sensitive-term pattern (fixture stand-in:
    // 'customer'/'supplier' as whole words — the synthetic corpus has no
    // real emails/phones to match), count the hits, and measure the
    // rewritten length. One codegen'd regexp pass per doc, no shuffle before
    // the final sort; at 100 TB this is a pure map stage.
    "q_text_redact" -> ((s, d) => {
      val pat = "\\b(customer|supplier)\\b"
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as("n_redacted"),
          length(regexp_replace(col("text"), pat, "[REDACTED]")).cast("long").as("redacted_len"))
        .orderBy(col("doc_id"))
    }),

    // X4g: repetition scoring (the Gopher-rules quality signal): fraction of
    // duplicate 3-gram shingles per doc — high duplicate mass flags
    // low-quality repetitive text. Computed entirely inside one row via the
    // TokenShingles expression + array_distinct (no explode, no shuffle):
    // the cheapest formulation and a pure map stage at any scale.
    "q_text_repetition" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_tok"),
          TextFns.shinglesFromText(col("text"), 3).as("g3"))
        .select(col("doc_id"), col("n_tok"),
          size(col("g3")).cast("long").as("n_g3"),
          size(array_distinct(col("g3"))).cast("long").as("n_g3_distinct"))
        .withColumn("dup_ratio",
          round(lit(1.0) - col("n_g3_distinct") / col("n_g3"), 4))
        .withColumn("repetitive",
          when(col("dup_ratio") > 0.2, 1L).otherwise(0L))
        .orderBy(col("doc_id"))
    }),

    // X4h: unigram-LM scoring (the CCNet/perplexity-filter shape, with a
    // unigram model standing in for the KenLM) — per-doc mean log prob over
    // the shared [[unigramDocLp]] scores (capped top-K LM, broadcast onto
    // the token stream, UNK-folded OOV; see the helper's doc). K=20 < the
    // 31-word fixture vocab, so the oracle proves the capped semantics, not
    // the uncapped coincidence. Per-token lp rides exact µ-unit longs
    // (house FP discipline) so the per-doc mean is order-independent.
    "q_text_unigram_lp" -> ((s, d) =>
      unigramDocLp(s, d)
        .select(col("doc_id"),
          round((col("sum_lp6") / col("n_tok")) / lit(1e6), 6).as("mean_lp"),
          col("n_tok"))
        .orderBy(col("doc_id"))),

    // X4g2: BIGRAM LM with Stupid Backoff — the next rung of the LM-scoring
    // ladder after the capped unigram (KenLM-style context scoring, the
    // CCNet upgrade path): each bigram (w1,w2) scores log(C(w1,w2)/C(w1))
    // when it sits in the top-K2(=30) bigram table, else backs off to
    // α·P_unigram(w2) with α=0.4 — the Brants et al. "Stupid Backoff"
    // score, exactly the large-corpus recipe (no discounting to tune, one
    // count table per order). Both tables are CAPPED broadcasts (top-K2
    // bigrams joined with their context counts at train time; the same
    // top-K/UNK unigram as q_text_unigram_lp), so the token stream never
    // shuffles to score — at 100 TB the only corpus-sized work is the two
    // count aggregations. Every per-token score is an exact µ-unit long
    // (round(ln·1e6); backoff constant round(ln 0.4·1e6) = −916291
    // hardcoded in BOTH dialects), so the per-doc sum is order-independent
    // integer arithmetic. Bigrams via the one-pass [[TokenShingles]]
    // expression — never a HOF recompute trap.
    "q_text_bigram_lp" -> ((s, d) => {
      val K2 = 30
      val (uni, lm, unk) = unigramLm(docTokens(s, d))
      val ulm = lm.select(col("w").as("w2"), col("lp6").as("ulp6"))
      val bg = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.TextFns.shinglesFromText(col("text"), 2)).as("bg"))
      val blm = bg.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
        .orderBy(col("cb").desc, col("bg")).limit(K2)
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
        .select(col("bg"),
          round(log(col("cb") / col("c1")) * lit(1e6)).cast("long").as("blp6"))
        .pin()
      bg
        .withColumn("w2", split(col("bg"), " ").getItem(1))
        .join(broadcast(blm), Seq("bg"), "left_outer")
        .join(broadcast(ulm), Seq("w2"), "left_outer")
        .crossJoin(broadcast(unk))
        .select(col("doc_id"),
          coalesce(col("blp6"),
            lit(-916291L) + coalesce(col("ulp6"), col("unk_lp6"))).as("lp6"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_big"), sum(col("lp6")).as("sum_lp6"))
        .select(col("doc_id"), col("n_big"), col("sum_lp6"),
          round((col("sum_lp6") / col("n_big")) / lit(1e6), 6).as("mean_lp"))
        .orderBy(col("doc_id"))
    }),

    // X4h2: CCNet-style PERPLEXITY BUCKETING — split the corpus per language
    // into head/mid/tail quality buckets by unigram-LM perplexity (shared
    // [[unigramDocLp]] scoring). Boundaries are per-lang QUARTILES of the
    // integer µ-unit per-token score, computed by a grouped exact percentile
    // and broadcast back — never ntile over a low-cardinality lang
    // partition, which would funnel a 100 TB corpus through a handful of
    // sort tasks (the q_window_ntile_dist lesson). Quartiles, not thirds, on
    // purpose: p ∈ {0.25, 0.75} makes both the rank position and the
    // interpolation fraction exact powers of two, so the boundary doubles
    // are bit-identical across engines over integer scores — p = 1/3 is not
    // binary-representable and would reopen the cross-engine FP hazard.
    // Comparisons cross-multiply by 4 so both sides stay integer-valued.
    // DOMAIN BOUND for the exact percentile buffers: group key is a handful
    // of languages and the score domain is bounded µ-unit integers (per-token
    // means of a 31-word LM — few distinct values after map-side collapse);
    // a scaling key/domain would ride the q_agg_approx_percentile_user
    // sketch contract instead.
    "q_text_ppl_buckets" -> ((s, d) => {
      // Positive per-token µ-unit "perplexity proxy": (−Σlp6) div n_tok —
      // both operands non-negative, so Spark div == DuckDB // (floor).
      // Pinned (round 21): `sc` feeds both the quartile aggregate and the
      // bucketing join; unpinned, the whole unigram-LM scoring pipeline
      // (two corpus tokenizations + the LM build) ran once PER consumer.
      val sc = unigramDocLp(s, d)
        .select(col("doc_id"), col("lang"),
          expr("(0 - sum_lp6) div n_tok").as("p6"))
        .pin()
      val qs = sc.groupBy(col("lang"))
        .agg(percentile(col("p6"), lit(0.25)).as("q1"),
          percentile(col("p6"), lit(0.75)).as("q3"))
      sc.join(broadcast(qs), Seq("lang"))
        .withColumn("bucket",
          when(col("p6") * 4 <= col("q1") * 4, lit("head"))
            .when(col("p6") * 4 >= col("q3") * 4, lit("tail"))
            .otherwise(lit("mid")))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("p6")).as("min_p6"), max(col("p6")).as("max_p6"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // X4i: sequence PACKING, two-phase — group consecutive docs into
    // ~4096-token training sequences (contiguous greedy fill: a doc goes to
    // the bin its running-sum start position falls in). PHASE 1 packs
    // within (lang, shard-of-200-contiguous-doc-ids), NOT lang alone: lang
    // cardinality is tiny, so a per-lang doc window would funnel a 100 TB
    // corpus through a handful of tasks, while bounded shards keep every
    // window partition ≤200 rows at any corpus size (and several shards
    // exist even at fixture scale, so phase 2 is genuinely exercised). PHASE 2 fixes what
    // sharding costs: every shard leaves one underfull TAIL sequence, so
    // the tails (exactly one ROW per shard — sequence-level units, 1000×
    // smaller than docs, the q_window_ntile_dist two-phase discipline) are
    // re-packed across shards per lang, folding remainders into compacted
    // bins (shard = -1). Bin utilization then survives shard boundaries:
    // total tokens are conserved and the sequence count strictly drops
    // whenever two tails fit one bin (pinned by spec).
    "q_pack_sequences" -> ((s, d) => {
      val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      val seqs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), (col("doc_id") / 200).cast("long").as("shard"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("seq_id", floor((col("cum") - col("n_tok")) / lit(4096)).cast("long"))
        .groupBy(col("lang"), col("shard"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("seq_tokens"),
          min(col("doc_id")).as("first_doc"))
      val marked = seqs.withColumn("last_seq",
        max(col("seq_id")).over(Window.partitionBy(col("lang"), col("shard"))))
      val full = marked.filter(col("seq_id") < col("last_seq"))
        .select(col("lang"), col("shard"), col("seq_id"),
          col("n_docs"), col("seq_tokens"), col("first_doc"))
      val w2 = Window.partitionBy(col("lang")).orderBy(col("shard"))
      val compacted = marked.filter(col("seq_id") === col("last_seq"))
        .withColumn("cum2", sum(col("seq_tokens")).over(w2))
        .withColumn("bin", floor((col("cum2") - col("seq_tokens")) / lit(4096)).cast("long"))
        .groupBy(col("lang"), col("bin"))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("seq_tokens")).as("seq_tokens"),
          min(col("first_doc")).as("first_doc"))
        .select(col("lang"), lit(-1L).as("shard"), col("bin").as("seq_id"),
          col("n_docs"), col("seq_tokens"), col("first_doc"))
      full.unionByName(compacted)
        .orderBy(col("lang"), col("shard"), col("seq_id"))
    }),

    // X4s: per-source scorecard — the curation decision table: for every
    // crawl source, volume, near-dup rate (fraction of docs that lost to a
    // cluster keeper, via the memoized label artifact), and quality
    // aggregates. This is the table a curator reads before dropping or
    // down-weighting a source. One corpus scan + one broadcast-sized label
    // join + one groupBy on the bounded source key; the stop-ratio mean
    // rides exact µ-unit longs (house FP discipline).
    "q_source_scorecard" -> ((s, d) => {
      val labels = clusterLabels(s, d)
      Tables.documents(s, d)
        .withColumn("toks", TextFns.tokens(col("text")))
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(TextFns.stopwordCount(col("toks")) / size(col("toks")) * lit(1e6))
            .cast("long").as("sr6"))
        .join(labels, Seq("doc_id"), "left_outer")
        .withColumn("is_dup",
          when(coalesce(col("cluster_id"), col("doc_id")) =!= col("doc_id"), 1L).otherwise(0L))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("is_dup")).as("n_dups"),
          round(sum(col("is_dup")) / count(lit(1)), 4).as("dup_rate"),
          round((sum(col("sr6")) / count(lit(1))) / lit(1e6), 6).as("avg_stop_ratio"),
          round(avg(col("n_chars")), 2).as("avg_chars"))
        .orderBy(col("source"))
    }),

    // X4r: feature correlation matrix — pairwise Pearson correlation of the
    // doc features the quality scorer consumes (chars, tokens, stopwords).
    // The pre-training diagnostic: two features correlating at ~1.0 are
    // redundant, one at ~0 carries no signal. ONE partial-aggregated pass —
    // corr's co-moment state merges map-side, so the matrix costs a single
    // scan at any corpus size.
    "q_text_feature_corr" -> ((s, d) => {
      // Built-in corr() merges double co-moment state in partition order —
      // the cross-engine FP hazard. The features are INTEGER-valued, so all
      // five sufficient statistics per pair are EXACT long sums; the
      // Pearson closed form then runs on exact scalars (cast to double
      // first so the scalar math — deterministic, not an aggregation — is
      // overflow-safe at any corpus size) and both engines compute
      // identical doubles.
      def pearson(sx: org.apache.spark.sql.Column, sy: org.apache.spark.sql.Column,
          sxy: org.apache.spark.sql.Column, sxx: org.apache.spark.sql.Column,
          syy: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) = {
        def D(c: org.apache.spark.sql.Column) = c.cast("double")
        round((D(n) * D(sxy) - D(sx) * D(sy))
          / sqrt((D(n) * D(sxx) - D(sx) * D(sx)) * (D(n) * D(syy) - D(sy) * D(sy))), 6)
      }
      Tables.documents(s, d)
        .withColumn("toks", TextFns.tokens(col("text")))
        .select(col("n_chars").as("a"),
          size(col("toks")).cast("long").as("b"),
          TextFns.stopwordCount(col("toks")).cast("long").as("c"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("a")).as("sa"), sum(col("b")).as("sb"), sum(col("c")).as("sc"),
          sum(col("a") * col("b")).as("sab"), sum(col("a") * col("c")).as("sac"),
          sum(col("b") * col("c")).as("sbc"),
          sum(col("a") * col("a")).as("saa"), sum(col("b") * col("b")).as("sbb"),
          sum(col("c") * col("c")).as("scc"))
        .select(
          col("n").as("n_docs"),
          pearson(col("sa"), col("sb"), col("sab"), col("saa"), col("sbb"), col("n"))
            .as("corr_chars_tokens"),
          pearson(col("sa"), col("sc"), col("sac"), col("saa"), col("scc"), col("n"))
            .as("corr_chars_stop"),
          pearson(col("sb"), col("sc"), col("sbc"), col("sbb"), col("scc"), col("n"))
            .as("corr_tokens_stop"))
    }),

    // X4q: per-doc token-distribution Shannon entropy — the repetition/
    // diversity quality signal (low entropy = a few tokens dominate =
    // boilerplate/spam). Uses the identity H = ln n − (Σ c·ln c)/n so the
    // whole thing is ONE aggregation chain over (doc, token) counts — no
    // join back for the per-doc total. The Σ c·ln c term is carried as
    // exact µ-unit longs (the q_text_dsir discipline) so the per-doc sum
    // is order-independent across engines.
    "q_text_entropy" -> ((s, d) => {
      docTokens(s, d)
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .select(col("doc_id"), col("c"),
          round(col("c") * log(col("c")) * lit(1e6)).cast("long").as("t6"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n"), sum(col("t6")).as("s6"))
        .select(col("doc_id"), col("n").as("n_tok"),
          round(log(col("n")) - (col("s6") / lit(1e6)) / col("n"), 6).as("entropy"))
        .orderBy(col("doc_id"))
    }),

    // X4: per-language token statistics.
    "q_text_stats" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("n_tok", size(TextFns.tokens(col("text"))).cast("long"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          round(avg(col("n_tok")), 2).as("avg_tokens"))
        .orderBy(col("lang"))
    }),

    // X4: corpus word frequencies (explode + count — the canonical shuffle).
    "q_text_tokens" -> ((s, d) => {
      docTokens(s, d)
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w"))
    }),

    // X4: token counting two ways — whitespace and a BPE-ish regex class
    // split ([a-z]+ runs | digit runs | single other-glyphs), plus alpha mass.
    "q_text_tokens_regex" -> ((s, d) => {
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_ws"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
            .cast("long").as("n_re"),
          length(regexp_replace(col("text"), "[^a-z]", "")).cast("long").as("n_alpha"))
        .orderBy(col("doc_id"))
    }),

    // X4: per-doc quality scoring — length + stopword-ratio heuristics.
    "q_text_quality" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("toks", TextFns.tokens(col("text")))
        .select(
          col("doc_id"),
          col("n_chars"),
          size(col("toks")).cast("long").as("n_tok"),
          TextFns.stopwordCount(col("toks")).cast("long").as("n_stop"))
        .withColumn("stop_ratio", round(col("n_stop") / col("n_tok"), 4))
        .withColumn("quality",
          round((lit(1.0) - col("n_stop") / col("n_tok")) * least(col("n_tok") / 100.0, lit(1.0)), 4))
        .orderBy(col("doc_id"))
    }),

    // X4: language-ID — word-frequency profile classifier trained on the
    // corpus itself: top-5 words per language, docs vote by occurrence count;
    // deterministic argmax (votes desc, lang asc). The n-gram-profile
    // classifier pattern with n=1 tokens.
    "q_text_langid" -> ((s, d) => {
      val tok = docTokens(s, d)
      val tf  = tok.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      val top5 = tf
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("lang")).orderBy(col("c").desc, col("w"))))
        .filter(col("rn") <= 5)
        .select(col("lang").as("plang"), col("w"))
      val votes = tok.select(col("doc_id"), col("w"))
        .join(broadcast(top5), "w")
        .groupBy(col("doc_id"), col("plang"))
        .agg(count(lit(1)).as("v"))
      // Deterministic argmax (v DESC, plang ASC) as a partial-aggregated
      // min_by over (-v, plang) — no per-doc window sort on the hottest
      // classifier path (same max_by trick as q_compact_lww / IVF assignment).
      val pred = votes
        .groupBy(col("doc_id"))
        .agg(min_by(col("plang"),
          struct((lit(0) - col("v")).as("nv"), col("plang"))).as("plang"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"))
        .join(pred, Seq("doc_id"), "left_outer")
        .select(
          col("doc_id"), col("lang"),
          coalesce(col("plang"), lit("unknown")).as("pred_lang"),
          when(col("lang") === col("plang"), 1L).otherwise(0L).as("hit"))
        .orderBy(col("doc_id"))
    }),

    // X4: document fingerprint — portable polynomial rolling hash of the full
    // text (the content-defined-chunking / winnowing base primitive).
    "q_text_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), TextFns.rollingHash(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // X4b: winnowing fingerprints (the MOSS algorithm): hash every 3-gram
    // shingle IN ORDER, slide a w=4 window over the hash sequence, keep each
    // window's minimum — the selected set is a position-robust document
    // fingerprint guaranteed to share values with any overlap ≥ w+2 grams.
    // Shaped as posexplode → window-min → collect_set: the per-row work is
    // one hash per shingle (never the nested-HOF form, whose projection
    // collapse would recompute the whole hash array per window — the round-1
    // recompute trap), and the only shuffle keys on doc_id.
    "q_text_winnow" -> ((s, d) => {
      val w = 4
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(TextFns.shinglesFromText(col("text"), 3)))
        .withColumnRenamed("pos", "p")
        .withColumn("h", TextFns.rollingHash(col("col")))
      val winw = Window.partitionBy(col("doc_id")).orderBy(col("p"))
        .rowsBetween(Window.currentRow, w - 1)
      sh.withColumn("wmin", min(col("h")).over(winw))
        .withColumn("n_sh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
        .filter(col("p") <= col("n_sh") - w) // full windows only (p is 0-based)
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("wmin"))).as("fps"))
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
          array_join(transform(col("fps"), x => x.cast("string")), ",").as("fp"))
        .orderBy(col("doc_id"))
    }),

    // X4c: benchmark-contamination check — the training-data hygiene pass:
    // fraction of each corpus doc's distinct shingles that also appear in a
    // held-out benchmark set (here docs 0-19 stand in for the benchmark).
    // The benchmark shingle table is broadcast BY CONSTRUCTION bounded (a
    // benchmark corpus is fixed-size, it does not grow with the crawl), so
    // the pass over 100 TB of documents is one map-side semi-join + one
    // groupBy(doc_id) shuffle.
    "q_text_contamination" -> ((s, d) => {
      val sh = docShingles(s, d)
      val bench = sh.filter(col("doc_id") < 20).select(col("sh")).distinct()
      sh.filter(col("doc_id") >= 20)
        .join(broadcast(bench), "sh")
        .groupBy(col("doc_id"), col("n_sh"))
        .agg(count(lit(1)).as("shared"))
        .select(col("doc_id"), col("shared"),
          round(col("shared") / col("n_sh"), 4).as("contam_ratio"))
        .orderBy(col("contam_ratio").desc, col("doc_id"))
        .limit(50)
    }),

    // X4d: deterministic train/val/test split — hash-of-id assignment (the
    // standard reproducible-split idiom: stable under reruns, shuffles, and
    // corpus growth, unlike rand()). 10% val, 10% test by hash bucket.
    "q_sample_split" -> ((s, d) => {
      val h = TextFns.rollingHash(concat(lit("split:"), col("doc_id").cast("string")))
      Tables.documents(s, d)
        .withColumn("bucket", pmod(h, lit(10)))
        .withColumn("split",
          when(col("bucket") === 0, "val")
            .when(col("bucket") === 1, "test")
            .otherwise("train"))
        .groupBy(col("split"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy(col("split"))
    }),

    // X4m: corpus card — the (lang × source) rollup dashboard a dataset
    // release ships: doc counts, char and token volumes at every grouping
    // level (per cell, per language, grand total) in ONE pass via grouping
    // sets (single Expand, no three-scan union — the q_groupingsets_report
    // discipline applied to the corpus).
    "q_corpus_report" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("lang"), col("source"), col("n_chars"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
        .rollup(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("n_tok")).as("total_tokens"))
        .select(
          coalesce(col("lang"), lit("ALL")).as("lang"),
          coalesce(col("source"), lit("ALL")).as("source"),
          col("n_docs"), col("total_chars"), col("total_tokens"))
        .orderBy(col("lang"), col("source"))
    }),

    // X4n: length-outlier flagging — per-language z-score of n_chars against
    // the group moments. The moments table is lang-cardinality-tiny, so the
    // apply pass is a BROADCAST join + codegen'd projection: the corpus is
    // scanned once and never shuffled (the window-free two-pass z-score — a
    // per-lang Window.partitionBy would funnel 100 TB through 5 sort tasks,
    // the exact W1 trap q_window_rank's salted rewrite removed).
    "q_text_outliers" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
      val stats = docs.groupBy(col("lang")).agg(
        avg(col("n_chars")).as("mu"), stddev_pop(col("n_chars")).as("sigma"))
      docs.join(broadcast(stats), "lang")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round((col("n_chars") - col("mu")) / col("sigma"), 4).as("z"))
        .withColumn("is_outlier", when(abs(col("z")) > 1.5, 1L).otherwise(0L))
        .orderBy(col("doc_id"))
    }),

    // X4o: quality-scorer calibration — per-language simple linear
    // regression of the heuristic quality score on ln(doc length), closed
    // form from the five sufficient statistics. Training is ONE
    // partial-aggregated pass over the corpus — the stats merge map-side
    // and the model is lang-cardinality rows — so "fit a scorer on 100 TB"
    // is a single shuffle of 5 tiny states, not an iterative solver.
    // (x, y) are quantized to exact µ-unit longs and the sufficient
    // statistics are exact decimal(38,0) integer sums (the
    // q_text_feature_corr discipline): built-in covar_pop/var_pop/corr
    // merge double co-moment state in partition order, the cross-engine FP
    // hazard — the closed form then runs on exact scalars and both engines
    // compute identical doubles.
    "q_text_quality_lr" -> ((s, d) => {
      def D(c: Column) = c.cast("double")
      def i38(c: Column) = c.cast("decimal(38,0)")
      val xy = Tables.documents(s, d)
        .withColumn("toks", TextFns.tokens(col("text")))
        .select(col("lang"),
          round(log(col("n_chars")) * lit(1e6)).cast("long").as("x6"),
          round(((lit(1.0) - TextFns.stopwordCount(col("toks")) / size(col("toks")))
            * least(size(col("toks")) / lit(100.0), lit(1.0))) * lit(1e6))
            .cast("long").as("y6"))
      xy.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(i38(col("x6"))).as("sx"), sum(i38(col("y6"))).as("sy"),
          sum(i38(col("x6") * col("y6"))).as("sxy"),
          sum(i38(col("x6") * col("x6"))).as("sxx"),
          sum(i38(col("y6") * col("y6"))).as("syy"))
        .select(col("lang"), col("n_docs"),
          round((D(col("n_docs")) * D(col("sxy")) - D(col("sx")) * D(col("sy")))
            / (D(col("n_docs")) * D(col("sxx")) - D(col("sx")) * D(col("sx"))), 6).as("slope"),
          round((D(col("sy")) - (D(col("n_docs")) * D(col("sxy")) - D(col("sx")) * D(col("sy")))
              / (D(col("n_docs")) * D(col("sxx")) - D(col("sx")) * D(col("sx"))) * D(col("sx")))
            / D(col("n_docs")) / lit(1e6), 6).as("intercept"),
          round((D(col("n_docs")) * D(col("sxy")) - D(col("sx")) * D(col("sy")))
            / sqrt((D(col("n_docs")) * D(col("sxx")) - D(col("sx")) * D(col("sx")))
              * (D(col("n_docs")) * D(col("syy")) - D(col("sy")) * D(col("sy")))), 6).as("r"))
        .orderBy(col("lang"))
    }),

    // X4p: DSIR-style importance weighting (Xie et al. 2023, "Data
    // Selection via Importance Resampling"): score every doc by the mean
    // per-token log-likelihood ratio between a TARGET-domain unigram LM
    // (here: the English slice) and the raw-corpus LM. Both LMs are CAPPED
    // to the corpus top-K vocabulary (count DESC, w ASC tiebreak) — DSIR
    // deployments hash/bound the feature space the same way, because an
    // unbounded web-corpus vocabulary makes the broadcast (and the driver
    // building it) die at 100 TB. Tokens outside the top-K fold into one
    // UNK class carrying the leftover mass on both sides, add-1 smoothed
    // over K+1 classes, so every token still scores. K=20 < the 31-word
    // fixture vocab, so the oracle proves the capped semantics.
    "q_text_dsir" -> ((s, d) =>
      dsirScores(s, d)
        .select(col("doc_id"), col("n_tok"),
          // mean LLR floored at the µ-unit in INTEGER space (the
          // q_sample_dsir offset trick), THEN divided — round(double/n, 6)
          // here diverged from DuckDB by 1 µ-unit on a negative half
          // boundary at sf0.1 (Spark HALF_UP vs DuckDB's double rounding);
          // the same integer fed to the same single division is bit-equal.
          ((expr("(s6 + 100000000L * n_tok) div n_tok") - lit(100000000L)) / lit(1e6))
            .as("dsir_w"),
          when(col("s6") > 0, 1L).otherwise(0L).as("keep"))
        .orderBy(col("doc_id"))),

    // X12b: DSIR SELECTION — the step the importance weights exist for:
    // rank documents by mean per-token LLR and take the top slice as the
    // pretraining subset. The mean is computed as an exact µ-unit long via
    // integer division with a positive offset (s6 can be negative; DuckDB's
    // floor // and Spark's truncating div only agree on non-negative
    // numerators, so both engines shift by +1e8·n_tok first — per-token LLR
    // is bounded far below 1e8 µ-units). Ranking and tie-breaks are
    // therefore pure integer comparisons: deterministic at any partition
    // count. Scale shape: the scores side is [[dsirScores]] (broadcast LMs,
    // no token shuffle) and the selection is a TopK sort on one row per doc.
    "q_sample_dsir" -> ((s, d) =>
      dsirScoresMemo(s, d)
        .select(col("doc_id"), col("n_tok"),
          (expr("(s6 + 100000000L * n_tok) div n_tok") - lit(100000000L))
            .cast("long").as("mean6"))
        .orderBy(col("mean6").desc, col("doc_id"))
        .limit(100)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("mean6").desc, col("doc_id"))))
        .orderBy(col("rank"))),

    // X4k: stratified sampling — per-language admission rates from a tiny
    // rate table (a real pipeline's sampling config), joined BROADCAST onto
    // the corpus, admission decided by the portable hash of the doc id (not
    // rand(): stable under reruns, shuffles, and corpus growth). One
    // broadcast join + one groupBy — no shuffle of the corpus beyond the
    // final per-language rollup, so the shape is flat at 100 TB.
    "q_sample_stratified" -> ((s, d) => {
      val rates = s.createDataFrame(Seq(
        ("de", 10), ("en", 50), ("es", 30), ("fr", 5), ("zh", 20)
      )).toDF("lang", "rate_pct")
      val h = TextFns.rollingHash(concat(lit("strat:"), col("doc_id").cast("string")))
      Tables.documents(s, d)
        .join(broadcast(rates), "lang")
        .withColumn("admit", when(pmod(h, lit(100)) < col("rate_pct"), 1L).otherwise(0L))
        .groupBy(col("lang"), col("rate_pct"))
        .agg(
          count(lit(1)).as("n_total"),
          sum(col("admit")).as("n_sampled"))
        .withColumn("achieved_pct", round(col("n_sampled") * lit(100.0) / col("n_total"), 4))
        .orderBy(col("lang"))
    }),

    // X8e: FIXED-SIZE per-stratum sample via BOTTOM-K-BY-HASH — the
    // distributed answer to reservoir sampling (which is sequential by
    // construction): rank every doc by a portable keyed hash and keep the
    // k=20 smallest per lang. Bottom-k-by-hash is mergeable across
    // partitions ([[graft.functions.TopKAggregator]] on the negated hash:
    // k-entry bounded state, map-side combine — never a per-lang sort or
    // window funnel) and CONSISTENT: growing the corpus only swaps
    // members whose hash displaces a kept one, so successive snapshots
    // share most of their sample (the bottom-k sketch property). Hash
    // range < 2^30 is exact in the aggregator's double slot; ties break
    // by doc_id in both engines.
    "q_sample_fixedk" -> ((s, d) => {
      import s.implicits._
      val h = TextFns.rollingHash(concat(lit("samp:"), col("doc_id").cast("string")))
      Tables.documents(s, d)
        .select(col("lang"), (-h.cast("double")).as("nh"), col("doc_id"))
        .as[(String, Double, Long)]
        .groupByKey(_._1).mapValues(r => (r._2, r._3))
        .agg(new graft.functions.TopKAggregator(20).toColumn.name("top"))
        .toDF("lang", "top")
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
          col("col._2").as("doc_id"), (-col("col._1")).cast("long").as("h"))
        .orderBy(col("lang"), col("rank"))
    }),

    // X8b: SYSTEMATIC PPS (probability-proportional-to-size) sampling —
    // the weighted companion to q_sample_stratified's fixed per-stratum
    // rates. Per lang, a doc is taken whenever the cumulative token-count
    // weight crosses one of n=20 evenly spaced skip boundaries — the
    // classic systematic PPS design (inclusion p_i = n·w_i/W_lang for
    // w_i < W/n), here ordered by doc_id so the whole query is PURE
    // INTEGER (prefix sums + floor division) and bit-equal across engines
    // — the deterministic frame every textbook derives the scheme on. In
    // production the frame order is randomized by a strong 64-bit hash
    // (xxhash64) before the scan; that hash is not portable to the DuckDB
    // oracle, and the weak portable polynomial hash measurably biases
    // inclusion on short keys, so the oracle pins the systematic scheme
    // itself. Scale: the per-lang prefix sum is one partitioned window —
    // with few giant strata you'd two-phase it (per-partition partials +
    // broadcast offsets), same arithmetic.
    "q_sample_pps" -> ((s, d) => {
      val byLang = Window.partitionBy(col("lang"))
      val pfx = byLang.orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("w"))
        .withColumn("cum", sum(col("w")).over(pfx))
        .withColumn("big_w", sum(col("w")).over(byLang))
        .withColumn("admit",
          (expr("(cum * 20) div big_w") > expr("((cum - w) * 20) div big_w")).cast("long"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_total"),
          sum(col("admit")).as("n_sampled"),
          sum(col("w")).as("w_total"),
          sum(when(col("admit") === 1L, col("w")).otherwise(lit(0L))).as("w_sampled"))
        .orderBy(col("lang"))
    }),

    // X8c: DATA-MIXING APPORTIONMENT — the "how many samples of each
    // source fill the training budget" step that sits between corpus stats
    // and the dataloader (the static-weights half of DoReMi-style mixing).
    // A budget of T=100000 training slots is split across sources
    // proportionally to their total chars by the largest-remainder
    // (Hamilton) method: base_s = floor(T·w_s/W), then the R = T − Σbase
    // leftover slots go to the largest remainders (T·w_s mod W, source asc
    // tiebreak). PURE INTEGER end-to-end — floor division and mod on
    // longs — so Σ alloc_s == T exactly, bit-equal in both engines; a
    // float-quota version drifts off the budget by rounding and is the
    // classic apportionment bug. Shape: one partial-aggregated groupBy
    // (source) collapses the corpus map-side; everything after runs on the
    // source-cardinality table (~20 rows — metadata scale), so the
    // unpartitioned ranking window is a deliberate small-table pass, not a
    // funnel. epochs_ppm reports alloc relative to the source's doc count
    // (how many times the source is traversed, in parts-per-million).
    "q_mix_epochs" -> ((s, d) => {
      val T = 100000L
      val bySrc = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("w"))
      // Grand total W as a window over the ALREADY-AGGREGATED ~20-row source
      // table — a crossJoin(agg) scalar here would recompute the lineage and
      // scan the corpus a second time for one number.
      val leftover = Window.partitionBy(lit(1))
      val quota = bySrc
        .withColumn("big_w", sum(col("w")).over(leftover))
        .withColumn("base", expr(s"(w * ${T}L) div big_w"))
        .withColumn("rem", expr(s"(w * ${T}L) % big_w"))
      val remRank = Window.orderBy(col("rem").desc, col("source"))
      quota
        .withColumn("rrk", row_number().over(remRank))
        .withColumn("r_total", (lit(T) - sum(col("base")).over(leftover)))
        .withColumn("alloc", col("base") + when(col("rrk") <= col("r_total"), 1L).otherwise(0L))
        .select(col("source"), col("n_docs"), col("w"), col("alloc"),
          expr("(alloc * 1000000L) div n_docs").as("epochs_ppm"))
        .orderBy(col("source"))
    }),

    // X8d: DISTRIBUTION DRIFT between two corpus snapshots — the
    // monitoring gate that catches a crawl whose length/quality profile
    // shifted before it poisons a training mix. Population Stability Index
    // over the n_chars distribution, snapshot A = even doc_ids vs B = odd
    // (the fixture's stand-in for crawl t vs t+1): 10 equi-width bins on
    // the declared [0,640) domain with edge clamping, add-one (Laplace)
    // smoothing so empty bins contribute finite terms, PSI = Σ (p−q)·
    // ln(p/q). Each bin's term is computed from exact integer counts and
    // rounded to µ-units BEFORE the 10-term sum (the q_text_entropy ln
    // discipline — the sum is integer, immune to merge order). Shape: one
    // partial-aggregated groupBy(bin, side) over the corpus, then
    // metadata-scale arithmetic on ≤ 20 rows. PSI > 0.2 flags "action".
    "q_drift_psi" -> ((s, d) => {
      val B = 10
      val binned = Tables.documents(s, d)
        .select(
          least(lit(B - 1), expr("n_chars div 64")).cast("long").as("bin"),
          when(col("doc_id") % 2 === 0, lit("a")).otherwise(lit("b")).as("side"))
        .groupBy(col("bin"))
        .agg(sum(when(col("side") === "a", 1L).otherwise(0L)).as("ca"),
          sum(when(col("side") === "b", 1L).otherwise(0L)).as("cb"))
      val spine = s.range(0, B).select(col("id").as("bin"))
      val cells = spine.join(binned, Seq("bin"), "left")
        .select(col("bin"), coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"))
      // Side totals as windows over the 10-row cell table (same one-scan
      // discipline as q_mix_epochs — a crossJoin(agg) would re-scan the
      // corpus for two scalars).
      val all = Window.partitionBy(lit(1))
      cells
        .withColumn("na", sum(col("ca")).over(all))
        .withColumn("nb", sum(col("cb")).over(all))
        .withColumn("p", (col("ca") + 1).cast("double") / (col("na") + B))
        .withColumn("q", (col("cb") + 1).cast("double") / (col("nb") + B))
        .withColumn("term6",
          round((col("p") - col("q")) * log(col("p") / col("q")) * lit(1e6)).cast("long"))
        .groupBy()
        .agg(round(sum(col("term6")) / lit(1e6), 6).as("psi"),
          count(lit(1)).as("n_bins"))
        .withColumn("action", (col("psi") > 0.2).cast("string"))
        .select(col("psi"), col("n_bins"), col("action"))
    }),

    // X6: duplicated-passage mining (the exact-substring-dedup signal of
    // Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    // Better"): every rolling 10-token gram per doc (one O(|text|)
    // TokenShingles evaluation — same expression the near-dup family uses),
    // grouped corpus-wide; grams occurring in >1 document are duplicated
    // passages. Top-100 by spread keeps the output a bounded report.
    //
    // Scale posture: generate → partial agg (map-side combine collapses a
    // doc's internal repeats) → one shuffle on the gram → TakeOrdered. At
    // 100 TB the group key would be xxhash64(gram) (8 bytes instead of the
    // string); the string key here keeps the DuckDB oracle portable, and
    // the plan shape is identical either way.
    "q_dedup_substring" -> ((s, d) => {
      // Round 22: the gram table is (doc_id, gram, cnt) grain, so n_occ is
      // sum(cnt) and the distinct-doc count is a plain count(1) — ONE
      // gram-keyed exchange instead of the single-distinct double
      // aggregation (which shuffled full gram strings twice).
      docGrams10(s, d)
        .groupBy(col("gram"))
        .agg(
          sum(col("cnt")).as("n_occ"),
          count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") > 1)
        .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram"))
        .limit(100)
    }),

    // X6c: train/eval DECONTAMINATION at the 8-gram level — the
    // flag-and-drop companion to q_text_contamination's 3-shingle overlap
    // RATIO: flag training documents that share an 8-token gram with the
    // held-out eval split (doc_id % 11 = 0 stands in for the benchmark
    // suite). Grams occurring in > 20 distinct eval docs are stop-grams —
    // ubiquitous boilerplate is excluded before matching, the standard
    // df-cap every production decontamination pipeline applies so one
    // common phrase does not flag the whole corpus.
    //
    // Shape: the distinct 8-gram membership table ([[docGrams8]],
    // materialized once) feeds the eval gram set (df-capped), per-train-doc
    // totals, and the gram-keyed hit join. Every shuffle keys on the gram
    // or the doc id; the eval set is benchmark-sized in production (and
    // df-capped here), so nothing grows quadratically — the plan is the
    // same flat gram-join as q_dedup_substring_frac at 100 TB.
    "q_text_decontam" -> ((s, d) => {
      val g = docGrams8(s, d)
      // Round 22: g is DISTINCT on (doc_id, gram) by construction, so the
      // per-gram distinct-doc count is a plain count(1) — the single-distinct
      // double aggregation (two exchanges, gram strings shuffled twice)
      // collapses to one gram-keyed exchange.
      val evalSet = g.filter(col("doc_id") % 11 === 0)
        .groupBy(col("gram")).agg(count(lit(1)).as("edf"))
        .filter(col("edf") <= 20).select(col("gram"))
      val train = g.filter(col("doc_id") % 11 =!= 0)
      val tot = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_gram"))
      val hits = train.join(evalSet, "gram")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      tot.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_gram"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("hit_frac", round(col("n_hit") / col("n_gram"), 4))
        .withColumn("flagged", (col("n_hit") > 0).cast("long"))
        .orderBy(col("hit_frac").desc, col("doc_id"))
        .limit(100)
    }),

    // X6b: the doc-level filter signal derived from passage mining — per
    // document, the fraction of its rolling 10-grams that also occur in at
    // least one OTHER document. This is the number the Lee et al. pipeline
    // thresholds to drop boilerplate-heavy docs; q_dedup_substring is the
    // corpus-wide report, this is the per-row decision input.
    //
    // Shape: the materialized gram table ([[docGrams10]]) feeds a tiny
    // per-doc total AND the cross-doc duplicated-gram set (distinct-doc
    // count > 1); the dup set joins back gram-keyed. Every shuffle keys on
    // the gram or the doc id — nothing broadcast grows with the corpus, so
    // the plan is flat at 100 TB.
    "q_dedup_substring_frac" -> ((s, d) => {
      // Round 22: (doc_id, gram, cnt) grain — occurrence totals are
      // sum(cnt), the distinct-doc count per gram is count(1) (one exchange,
      // no distinct rewrite), identical rows.
      val grams = docGrams10(s, d)
      val perDoc = grams.groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_gram"))
      val dupGrams = grams.groupBy(col("gram"))
        .agg(count(lit(1)).as("nd"))
        .filter(col("nd") > 1)
        .select(col("gram"))
      val dupPerDoc = grams.join(dupGrams, "gram")
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_dup"))
      perDoc.join(dupPerDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_gram"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"))
        .withColumn("dup_frac", round(col("n_dup") / col("n_gram"), 4))
        .orderBy(col("dup_frac").desc, col("doc_id"))
        .limit(100)
    }),

    // X4l: Gopher quality-rule battery (Rae et al. 2021, table A1 shape):
    // per-doc boolean rule flags + the composite keep decision, so the
    // downstream filter is auditable per rule (the production form — you
    // track WHICH rule rejected how many docs, not just a final score).
    // Bounds are the fixture-calibrated stand-ins for Gopher's published
    // ones (word count 50-100k, mean word length 3-10, ≥2 stopwords,
    // top-word concentration) chosen so every rule fires both ways here.
    //
    // The repetition rule is a per-row HOF (count of the most frequent
    // token), NOT a tokenize→groupBy→join-back: O(distinct·len) inside one
    // codegen'd projection, zero shuffles — the shape that stays flat at
    // 100 TB where the groupBy form pays two corpus-wide shuffles.
    "q_text_gopher" -> ((s, d) => {
      val toks = TextFns.tokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), toks.as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tok"),
          round((col("n_chars") - (size(col("toks")) - 1)) / size(col("toks")), 4)
            .as("mean_wlen"),
          TextFns.stopwordCount(col("toks")).cast("long").as("n_stop"),
          array_max(transform(array_distinct(col("toks")),
            u => size(filter(col("toks"), x => x === u)))).cast("long").as("top_word_n"))
        .withColumn("top_word_ratio", round(col("top_word_n") / col("n_tok"), 4))
        .withColumn("r_ntok", (col("n_tok") >= 15 && col("n_tok") <= 90).cast("long"))
        .withColumn("r_wlen", (col("mean_wlen") >= 4.0 && col("mean_wlen") <= 5.0).cast("long"))
        .withColumn("r_stop", (col("n_stop") >= 2).cast("long"))
        .withColumn("r_rep", (col("top_word_ratio") <= 0.2).cast("long"))
        .withColumn("keep",
          (col("r_ntok") + col("r_wlen") + col("r_stop") + col("r_rep") === 4).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // X4e: TF-IDF top-3 terms per doc — tf from one token groupBy; df derived
    // FROM tf (tf already holds one row per distinct (doc, term), so
    // df = count per term over tf) — the corpus is read and tokenized exactly
    // once. The tf table is MATERIALIZED (Memo.pin — it is the TF
    // table a real pipeline persists anyway): merely deriving dfreq from the
    // tf DataFrame is not enough, because Catalyst prunes the unused count
    // column out of dfreq's branch, the two aggregation exchanges stop being
    // identical, exchange reuse can't fire, and the corpus is silently
    // tokenized twice again (observed in the AQE final plan). Corpus size is
    // a 1-row broadcast; score ranked AFTER 6-dp rounding so the top-3 cut
    // is cross-engine deterministic.
    "q_text_tfidf" -> ((s, d) => {
      val tok = docTokens(s, d).select(col("doc_id"), col("w"))
      val tf = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        .pin()
      val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, "w").crossJoin(broadcast(nDocs))
        .withColumn("score",
          round(col("tf") * log((col("n_docs") + 1) / (col("df") + 1)), 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("w"))))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn").cast("long").as("rn"),
          col("w").as("term"), col("score"))
        .orderBy(col("doc_id"), col("rn"))
    }),

    // X4f: INVERTED-INDEX BUILD with CHAMPION LISTS — per term: full
    // df/cf stats plus the top-12 postings by (tf DESC, doc_id ASC), the
    // impact-ordered truncation real engines use so a stopword's
    // million-doc posting list never materializes. The champion list rides
    // [[graft.functions.TopKAggregator]]: k-entry BOUNDED state merged
    // map-side, so the shuffle carries ≤12 entries per (term, map
    // partition) regardless of df — no collect_list whose state grows
    // with group size, no per-term sort of the full posting set. Postings
    // serialize as the canonical "doc:tf" joined string (the
    // q_agg_collect discipline); ordering is total (doc ids unique), so
    // the DuckDB row_number oracle reproduces the kept set exactly. One
    // corpus tokenization (same materialization rationale as
    // q_text_tfidf); tf values are small integers, exact in the
    // aggregator's double slot.
    "q_index_postings" -> ((s, d) => {
      import s.implicits._
      val tf = tfWithLen(s, d)
      val dfT = tf.groupBy(col("w"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      val champions = tf
        .select(col("w"), col("tf").cast("double"), col("doc_id"))
        .as[(String, Double, Long)]
        .groupByKey(_._1).mapValues(r => (r._2, r._3))
        .agg(new graft.functions.TopKAggregator(12).toColumn.name("top"))
        .toDF("w", "top")
      dfT.join(champions, "w")
        .select(col("w").as("term"), col("df"), col("cf"),
          concat_ws(",", transform(col("top"),
            p => concat(p.getField("_2").cast("string"), lit(":"),
              p.getField("_1").cast("long").cast("string")))).as("postings"))
        .orderBy(col("term"))
    }),

    // X4g: BM25 RETRIEVAL (Robertson/Okapi, k1=1.2, b=0.75, Lucene's
    // +1-floored idf) — score the corpus against a PROBE TERM SET and
    // return the top-20 docs: the "pull training docs matching this topic"
    // mining query. The probe is data-derived and deterministic (top-8
    // mid-df terms in the scale-relative band [max(3, N/200),
    // max(100, N/10)], df desc / term asc — a TakeOrdered over the
    // vocab-sized df table), so the query is self-contained at any
    // scale. All global stats (N, Σdl) come from the materialized tf table
    // — the corpus is tokenized ONCE; the 8-row probe (with idf inputs)
    // broadcasts onto the tf stream, which never shuffles to score: the
    // per-(doc,term) score is rounded to µ-unit longs (identical integer-
    // input expression tree both engines) and the per-doc sum is
    // order-independent integer math. Top-20 via TakeOrdered with doc_id
    // tiebreak, never a global sort.
    "q_text_bm25" -> ((s, d) => {
      val tf = tfWithLen(s, d)
      val dfT = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val scal = tf.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      // Scale-relative probe band: [max(3, N/200), max(100, N/10)]. The
      // absolute df∈[3,100] band it replaces went EMPTY once the corpus
      // grew past the point where even the rarest term's df exceeds 100
      // (measured: 0 rows at a 20× soak, ScaleProbe) — mid-df is a
      // corpus-relative notion. At the sf0.001/sf0.01 fixtures the bounds
      // reduce to exactly [3,100], so fixture results are unchanged.
      val probe = dfT.crossJoin(broadcast(scal))
        .filter(col("df").between(
          greatest(lit(3L), expr("n_docs div 200")),
          greatest(lit(100L), expr("n_docs div 10"))))
        .orderBy(col("df").desc, col("w")).limit(8)
      tf.join(broadcast(probe), Seq("w"))
        .withColumn("score6", round(
          log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
            * (col("tf") * lit(2.2))
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") * col("n_docs")) / col("sum_dl")))
            * lit(1e6)).cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_terms"), sum(col("score6")).as("s6"))
        .orderBy(col("s6").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id"), col("n_terms"), round(col("s6") / lit(1e6), 6).as("bm25"))
    })
  )

  /** Per-(doc, term) tf with the doc's token length riding every row —
    * ONE corpus tokenization, materialized (Memo.pin) because both
    * retrieval queries derive several aggregates from it and Catalyst's
    * column pruning would otherwise break exchange reuse and re-tokenize
    * the corpus per branch (the q_text_tfidf lesson). In production this
    * is the persisted index-build intermediate.
    */
  private def tfWithLen(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("dl"), explode(col("ts")).as("w"))
      .groupBy(col("doc_id"), col("dl"), col("w"))
      .agg(count(lit(1)).as("tf"))
      .pin()

  /** DuckDB fragment reproducing [[TextFns.rollingHash]] exactly. */
  private[operators] def rhSql(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($e)+1), c -> CAST(ascii($e[c]) AS BIGINT))), " +
      s"(a,b) -> (a*31+b) % 1000000007)"

  private val shCte =
    """t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |              unnest(list_transform(range(1, len(ts) - 1),
      |                     i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
      |       FROM t)""".stripMargin

  /** CTE chain up to the LSH candidate edge set `cand(a < b)` — the
    * oracle-side mirror of [[candidateEdges]], shared by the closure and
    * triangle oracles.
    */
  /** CTE chain up to the 8-hash MinHash signature table `mh` — shared by
    * the candidate-edge chain and the banding-sweep oracle.
    */
  private lazy val mhCtes: String =
    s"""$shCte,
       |hs AS (SELECT doc_id, sh, ${rhSql("sh")} AS h FROM sh),
       |mh AS (SELECT doc_id, r.i AS i,
       |              min(((3 + 2*r.i) * h + (7 + 11*r.i)) % 1000000007) AS minh
       |       FROM hs CROSS JOIN range(8) r(i) GROUP BY 1, 2)""".stripMargin

  private lazy val candCtes: String =
    s"""$mhCtes,
       |bands AS (SELECT doc_id, CAST(i // 2 AS INT) AS band,
       |                 string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS bkey
       |          FROM mh GROUP BY 1, 2),
       |st AS (SELECT doc_id, band, bkey,
       |              min(doc_id) OVER (PARTITION BY band, bkey) AS mn,
       |              count(*) OVER (PARTITION BY band, bkey) AS sz
       |       FROM bands),
       |cand AS (SELECT DISTINCT a, b FROM (
       |           SELECT x.doc_id AS a, y.doc_id AS b
       |           FROM st x JOIN st y
       |             ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
       |           WHERE x.sz BETWEEN 2 AND 100
       |           UNION ALL
       |           SELECT mn, doc_id FROM st WHERE sz > 100 AND doc_id <> mn))""".stripMargin

  /** Shared CTE chain: the clustering family's edge set → exact transitive
    * closure (`reach`), the ground truth q_dedup_components / q_dedup_keep
    * verify the [[Components]] labels against. Mirrors [[starEdgesOf]]:
    * since round 9 the clustering input star-recovers over-cap buckets
    * (NO upper size gate — every bucket of ≥2 docs contributes min→member
    * edges), so the closure here runs over the per-bucket star edge set,
    * which is connectivity-identical to clique edges over the same
    * buckets.
    */
  private lazy val reachCtes: String =
    s"""$mhCtes,
       |bands AS (SELECT doc_id, CAST(i // 2 AS INT) AS band,
       |                 string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS bkey
       |          FROM mh GROUP BY 1, 2),
       |st AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY band, bkey) AS mn
       |       FROM bands),
       |se AS (SELECT DISTINCT mn AS a, doc_id AS b FROM st WHERE doc_id <> mn),
       |e AS (SELECT a AS x, b AS y FROM se UNION SELECT b, a FROM se),
       |reach(v, u) AS (
       |  SELECT x, x FROM e
       |  UNION
       |  SELECT r.v, e.y FROM reach r JOIN e ON r.u = e.x)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "q_dedup_near" ->
      s"""WITH $shCte,
         |hs AS (SELECT doc_id, sh, ${rhSql("sh")} AS h FROM sh),
         |mh AS (SELECT doc_id, r.i AS i,
         |              min(((3 + 2*r.i) * h + (7 + 11*r.i)) % 1000000007) AS minh
         |       FROM hs CROSS JOIN range(8) r(i) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, CAST(i // 2 AS INT) AS band,
         |                 string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS bkey
         |          FROM mh GROUP BY 1, 2),
         |st AS (SELECT doc_id, band, bkey,
         |              min(doc_id) OVER (PARTITION BY band, bkey) AS mn,
         |              count(*) OVER (PARTITION BY band, bkey) AS sz
         |       FROM bands),
         |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
         |           SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |           FROM st x JOIN st y
         |             ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
         |           WHERE x.sz BETWEEN 2 AND 100
         |           UNION ALL
         |           SELECT mn, doc_id FROM st WHERE sz > 100 AND doc_id <> mn)),
         |docs AS (SELECT doc_id,
         |                list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
         |                  i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
         |                       || ' ' || string_split(text, ' ')[i+2])) AS shs
         |         FROM documents)
         |SELECT doc_a, doc_b,
         |       round(len(list_intersect(a.shs, b.shs))
         |             / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))), 4) AS jaccard
         |FROM cand JOIN docs a ON cand.doc_a = a.doc_id
         |          JOIN docs b ON cand.doc_b = b.doc_id
         |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH $shCte,
         |hs AS (SELECT doc_id, sh, ${rhSql("sh")} AS h FROM sh),
         |mh AS (SELECT doc_id, r.i AS i,
         |              min(((3 + 2*r.i) * h + (7 + 11*r.i)) % 1000000007) AS minh
         |       FROM hs CROSS JOIN range(8) r(i) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, CAST(i // 2 AS INT) AS band,
         |                 string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS bkey
         |          FROM mh GROUP BY 1, 2),
         |st AS (SELECT doc_id, band, bkey,
         |              min(doc_id) OVER (PARTITION BY band, bkey) AS mn,
         |              count(*) OVER (PARTITION BY band, bkey) AS sz
         |       FROM bands),
         |pairs AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |          FROM st x JOIN st y
         |            ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
         |          WHERE x.sz BETWEEN 2 AND 100
         |          UNION ALL
         |          SELECT mn, doc_id FROM st WHERE sz > 100 AND doc_id <> mn)
         |SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_bands
         |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_dedup_components" ->
      s"""WITH RECURSIVE $reachCtes
         |SELECT v AS doc_id, min(u) AS cluster_id
         |FROM reach GROUP BY v ORDER BY v""".stripMargin,
    // Naive a<b<c three-way self-join: orientation-invariant, so it is the
    // ground truth for the Spark side's degree-oriented wedge counting.
    "q_graph_triangles" ->
      s"""WITH $candCtes,
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM cand e1 JOIN cand e2 ON e2.a = e1.b
         |             JOIN cand e3 ON e3.a = e1.a AND e3.b = e2.b),
         |v AS (SELECT unnest([x, y, z]) AS doc_id FROM tri)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri
         |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_text_zipf" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |v AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1
        |      ORDER BY c DESC, w LIMIT 30),
        |r AS (SELECT c, w, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rn
        |      FROM v),
        |p AS (SELECT CAST(round(ln(rn) * 1e6) AS BIGINT) AS x6,
        |             CAST(round(ln(c) * 1e6) AS BIGINT) AS y6 FROM r),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |             CAST(sum(x6) AS BIGINT) AS sx, CAST(sum(y6) AS BIGINT) AS sy,
        |             CAST(sum(x6 * y6) AS BIGINT) AS sxy,
        |             CAST(sum(x6 * x6) AS BIGINT) AS sxx FROM p)
        |SELECT n_terms,
        |       round(CAST(n_terms * sxy - sx * sy AS DOUBLE)
        |             / CAST(n_terms * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope
        |FROM s""".stripMargin,
    // Signature table shared with the candidate chain; each config re-bands
    // it, the exact verify (3·inter ≥ na+nb ⟺ Jaccard ≥ ½) runs on the
    // distinct candidate union. Mirrors bandPairsOf's over-cap semantics:
    // buckets of 2..100 expand all pairs, >100-member buckets emit the
    // verified star around the bucket-minimum doc_id (most likely under
    // r=1, whose single-value band key collides hardest).
    "q_dedup_lsh_sweep" ->
      s"""WITH $mhCtes,
         |bands3 AS (SELECT doc_id, c.r AS r, CAST(i // c.r AS INT) AS band,
         |                  string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS bkey
         |           FROM mh CROSS JOIN (VALUES (1), (2), (4)) c(r)
         |           GROUP BY 1, 2, 3),
         |sized3 AS (SELECT *, count(*) OVER (PARTITION BY r, band, bkey) AS sz,
         |                  min(doc_id) OVER (PARTITION BY r, band, bkey) AS mn
         |           FROM bands3),
         |small3 AS (SELECT * FROM sized3 WHERE sz BETWEEN 2 AND 100),
         |cand3 AS (SELECT DISTINCT x.r AS r, x.doc_id AS a, y.doc_id AS b
         |          FROM small3 x JOIN small3 y
         |            ON x.r = y.r AND x.band = y.band AND x.bkey = y.bkey
         |               AND x.doc_id < y.doc_id
         |          UNION
         |          SELECT DISTINCT r, mn AS a, doc_id AS b FROM sized3
         |          WHERE sz > 100 AND doc_id <> mn),
         |sets AS (SELECT doc_id, list(sh) AS shs FROM sh GROUP BY 1),
         |ver AS (SELECT c.r, c.a, c.b,
         |               CASE WHEN 3 * len(list_intersect(sa.shs, sb.shs))
         |                         >= len(sa.shs) + len(sb.shs) THEN 1 ELSE 0 END AS is_true
         |        FROM cand3 c JOIN sets sa ON c.a = sa.doc_id
         |                     JOIN sets sb ON c.b = sb.doc_id)
         |SELECT CAST(r AS BIGINT) AS r, CAST(8 // r AS BIGINT) AS b,
         |       CAST(count(*) AS BIGINT) AS n_cand,
         |       CAST(sum(is_true) AS BIGINT) AS n_true,
         |       CAST((sum(is_true) * 1000000) // count(*) AS BIGINT) AS precision_ppm
         |FROM ver GROUP BY r ORDER BY r""".stripMargin,
    "q_source_overlap" ->
      s"""WITH $candCtes,
         |lab AS (SELECT c.a, c.b,
         |               least(da.source, db.source) AS src_a,
         |               greatest(da.source, db.source) AS src_b
         |        FROM cand c JOIN documents da ON c.a = da.doc_id
         |                    JOIN documents db ON c.b = db.doc_id),
         |p AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
         |      FROM lab GROUP BY 1, 2),
         |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
         |       FROM documents GROUP BY 1)
         |SELECT src_a, src_b, a.n_docs AS n_a, b.n_docs AS n_b, n_pairs,
         |       CAST((n_pairs * 1000000000) //
         |            (CASE WHEN src_a = src_b THEN (a.n_docs * (a.n_docs - 1)) // 2
         |                  ELSE a.n_docs * b.n_docs END) AS BIGINT) AS rate_ppb
         |FROM p JOIN ns a ON p.src_a = a.source
         |       JOIN ns b ON p.src_b = b.source
         |ORDER BY src_a, src_b""".stripMargin,
    "q_graph_clustercoef" ->
      s"""WITH $candCtes,
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM cand e1 JOIN cand e2 ON e2.a = e1.b
         |             JOIN cand e3 ON e3.a = e1.a AND e3.b = e2.b),
         |v AS (SELECT unnest([x, y, z]) AS doc_id FROM tri),
         |tc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri FROM v GROUP BY 1),
         |deg AS (SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS deg
         |        FROM (SELECT a AS u FROM cand UNION ALL SELECT b AS u FROM cand)
         |        GROUP BY 1)
         |SELECT g.doc_id, deg, coalesce(n_tri, 0) AS n_tri,
         |       CASE WHEN deg >= 2
         |            THEN round(2.0 * coalesce(n_tri, 0) / (deg * (deg - 1)), 6)
         |            ELSE 0.0 END AS cc
         |FROM deg g LEFT JOIN tc USING (doc_id)
         |ORDER BY g.doc_id""".stripMargin,
    // Two expansion modes, mirrored: buckets ≤100 expand all pairs;
    // over-cap buckets pair every member with the bucket minimum doc_id
    // (the verified star) — then one shared DISTINCT + length filter +
    // exact verify.
    "q_dedup_prefix" ->
      """WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
        |           FROM documents),
        |tok AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n, unnest(ts) AS w FROM t),
        |dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY 1),
        |srt AS (SELECT doc_id, n, list(w ORDER BY df, w) AS ws
        |        FROM tok JOIN dfq USING (w) GROUP BY doc_id, n),
        |pr AS (SELECT doc_id, n, ws,
        |              unnest(ws[1:CAST(n - (6*n + 9)//10 + 1 AS INT)]) AS w
        |       FROM srt),
        |szs AS (SELECT w, count(*) AS sz FROM pr GROUP BY w),
        |sized AS (SELECT pr.* FROM pr JOIN szs USING (w)
        |          WHERE sz BETWEEN 2 AND 100),
        |reps AS (SELECT pr.w, min(doc_id) AS rep FROM pr JOIN szs USING (w)
        |         WHERE sz > 100 GROUP BY pr.w),
        |starc AS (SELECT r.doc_id AS doc_a, r.n AS na, r.ws AS wsa,
        |                 m.doc_id AS doc_b, m.n AS nb, m.ws AS wsb
        |          FROM reps j JOIN pr r ON r.w = j.w AND r.doc_id = j.rep
        |               JOIN pr m ON m.w = j.w AND m.doc_id > j.rep),
        |cand AS (SELECT DISTINCT doc_a, na, wsa, doc_b, nb, wsb FROM (
        |           SELECT x.doc_id AS doc_a, x.n AS na, x.ws AS wsa,
        |                  y.doc_id AS doc_b, y.n AS nb, y.ws AS wsb
        |           FROM sized x JOIN sized y
        |             ON x.w = y.w AND x.doc_id < y.doc_id
        |           UNION ALL SELECT * FROM starc)
        |         WHERE least(na, nb) * 10 >= greatest(na, nb) * 6),
        |v AS (SELECT doc_a, doc_b, na, nb,
        |             CAST(len(list_intersect(wsa, wsb)) AS BIGINT) AS inter
        |      FROM cand)
        |SELECT doc_a, doc_b, inter,
        |       round(inter / (na + nb - inter), 6) AS jac
        |FROM v WHERE inter * 10 >= (na + nb - inter) * 6
        |ORDER BY doc_a, doc_b""".stripMargin,
    // The three bucket constructions verbatim (minhash bands =
    // q_dedup_minhash's chain, prefix = q_dedup_prefix's, simhash bands =
    // q_dedup_simhash_pairs's), each reduced to its size histogram; the
    // summaries are plain integer aggregates over sz >= 2 buckets.
    "q_dedup_cap_audit" ->
      s"""WITH $shCte,
         |hs AS (SELECT doc_id, sh, ${rhSql("sh")} AS h FROM sh),
         |mh AS (SELECT doc_id, r.i AS i,
         |              min(((3 + 2*r.i) * h + (7 + 11*r.i)) % 1000000007) AS minh
         |       FROM hs CROSS JOIN range(8) r(i) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, CAST(i // 2 AS INT) AS band,
         |                 string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS bkey
         |          FROM mh GROUP BY 1, 2),
         |mhsz AS (SELECT count(*) AS sz FROM bands GROUP BY band, bkey),
         |t2 AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
         |       FROM documents),
         |tok2 AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n, unnest(ts) AS w FROM t2),
         |dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tok2 GROUP BY 1),
         |srt AS (SELECT doc_id, n, list(w ORDER BY df, w) AS ws
         |        FROM tok2 JOIN dfq USING (w) GROUP BY doc_id, n),
         |pr AS (SELECT doc_id, unnest(ws[1:CAST(n - (6*n + 9)//10 + 1 AS INT)]) AS w
         |       FROM srt),
         |pfsz AS (SELECT count(*) AS sz FROM pr GROUP BY w),
         |tok3 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |h3 AS (SELECT doc_id, ${rhSql("w")} AS h FROM tok3),
         |b3 AS (SELECT doc_id, r.j AS j,
         |              sum(CASE WHEN (h // (1 << r.j)) % 2 = 1 THEN 1 ELSE -1 END) AS s
         |       FROM h3 CROSS JOIN range(16) r(j) GROUP BY 1, 2),
         |sig3 AS (SELECT doc_id,
         |                CAST(sum(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS sh
         |         FROM b3 GROUP BY 1),
         |banded3 AS (SELECT doc_id, r.k AS band,
         |                   CAST((sh // (1 << (8*r.k))) % 256 AS BIGINT) AS bval
         |            FROM sig3 CROSS JOIN range(2) r(k)),
         |shsz AS (SELECT count(*) AS sz FROM banded3 GROUP BY band, bval)
         |SELECT 'minhash' AS pipeline, CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(coalesce(max(sz), 0) AS BIGINT) AS max_bucket,
         |       CAST(coalesce(sum(CASE WHEN sz > 100 THEN 1 ELSE 0 END), 0) AS BIGINT) AS overcap_buckets,
         |       CAST(coalesce(sum(CASE WHEN sz > 100 THEN (sz-1)*(sz-2)//2 ELSE 0 END), 0) AS BIGINT) AS pairs_foregone,
         |       CAST(coalesce(sum(CASE WHEN sz > 100 THEN sz - 1 ELSE 0 END), 0) AS BIGINT) AS star_edges
         |FROM mhsz WHERE sz >= 2
         |UNION ALL
         |SELECT 'minhash_pairs', CAST(count(*) AS BIGINT),
         |       CAST(coalesce(max(sz), 0) AS BIGINT),
         |       CAST(coalesce(sum(CASE WHEN sz > 100 THEN 1 ELSE 0 END), 0) AS BIGINT),
         |       CAST(coalesce(sum(CASE WHEN sz > 100 THEN (sz-1)*(sz-2)//2 ELSE 0 END), 0) AS BIGINT),
         |       CAST(coalesce(sum(CASE WHEN sz > 100 THEN sz - 1 ELSE 0 END), 0) AS BIGINT)
         |FROM mhsz WHERE sz >= 2
         |UNION ALL
         |SELECT 'prefix', CAST(count(*) AS BIGINT),
         |       CAST(coalesce(max(sz), 0) AS BIGINT),
         |       CAST(coalesce(sum(CASE WHEN sz > 100 THEN 1 ELSE 0 END), 0) AS BIGINT),
         |       CAST(coalesce(sum(CASE WHEN sz > 100 THEN (sz-1)*(sz-2)//2 ELSE 0 END), 0) AS BIGINT),
         |       CAST(coalesce(sum(CASE WHEN sz > 100 THEN sz - 1 ELSE 0 END), 0) AS BIGINT)
         |FROM pfsz WHERE sz >= 2
         |UNION ALL
         |SELECT 'simhash', CAST(count(*) AS BIGINT),
         |       CAST(coalesce(max(sz), 0) AS BIGINT),
         |       CAST(coalesce(sum(CASE WHEN sz > 100 THEN 1 ELSE 0 END), 0) AS BIGINT),
         |       CAST(coalesce(sum(CASE WHEN sz > 100 THEN (sz-1)*(sz-2)//2 ELSE 0 END), 0) AS BIGINT),
         |       CAST(coalesce(sum(CASE WHEN sz > 100 THEN sz - 1 ELSE 0 END), 0) AS BIGINT)
         |FROM shsz WHERE sz >= 2
         |ORDER BY pipeline""".stripMargin,
    // Integer division both sides (numerators positive, so DuckDB's floor
    // // and Spark's truncating div agree) — weight_u is exact.
    "q_dedup_weights" ->
      s"""WITH RECURSIVE $reachCtes,
         |lbl AS (SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v),
         |j AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |      FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id)
         |SELECT doc_id, cluster_id,
         |       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS csize,
         |       CAST(1000000 // count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         |         AS weight_u
         |FROM j ORDER BY doc_id""".stripMargin,
    "q_dedup_minhash_est" ->
      s"""WITH $shCte,
         |hs AS (SELECT doc_id, sh, ${rhSql("sh")} AS h FROM sh),
         |mh AS (SELECT doc_id, r.i AS i,
         |              min(((3 + 2*r.i) * h + (7 + 11*r.i)) % 1000000007) AS minh
         |       FROM hs CROSS JOIN range(8) r(i) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, CAST(i // 2 AS INT) AS band,
         |                 string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS bkey
         |          FROM mh GROUP BY 1, 2),
         |st AS (SELECT doc_id, band, bkey,
         |              min(doc_id) OVER (PARTITION BY band, bkey) AS mn,
         |              count(*) OVER (PARTITION BY band, bkey) AS sz
         |       FROM bands),
         |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
         |           SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
         |           FROM st x JOIN st y
         |             ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
         |           WHERE x.sz BETWEEN 2 AND 100
         |           UNION ALL
         |           SELECT mn, doc_id FROM st WHERE sz > 100 AND doc_id <> mn)),
         |ag AS (SELECT c.doc_a, c.doc_b,
         |              sum(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END) AS agree8
         |       FROM cand c JOIN mh a ON a.doc_id = c.doc_a
         |                   JOIN mh b ON b.doc_id = c.doc_b AND b.i = a.i
         |       GROUP BY 1, 2),
         |docs AS (SELECT doc_id,
         |                list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
         |                  i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
         |                       || ' ' || string_split(text, ' ')[i+2])) AS shs
         |         FROM documents)
         |SELECT ag.doc_a, ag.doc_b,
         |       round(agree8 / 8.0, 4) AS est_jaccard,
         |       round(len(list_intersect(a.shs, b.shs))
         |             / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))), 4) AS jaccard,
         |       round(abs(round(agree8 / 8.0, 4)
         |             - round(len(list_intersect(a.shs, b.shs))
         |                     / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))), 4)), 4) AS abs_err
         |FROM ag JOIN docs a ON ag.doc_a = a.doc_id
         |        JOIN docs b ON ag.doc_b = b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_merge_upsert" ->
      """WITH base AS (SELECT doc_id, n_chars AS b_chars FROM documents WHERE doc_id % 10 <> 7),
        |delta AS (SELECT doc_id, n_chars AS d_chars, 'I' AS op FROM documents WHERE doc_id % 10 = 7
        |          UNION ALL
        |          SELECT doc_id, n_chars + 3, 'U' FROM documents WHERE doc_id % 10 = 3
        |          UNION ALL
        |          SELECT doc_id, 0, 'D' FROM documents WHERE doc_id % 10 = 5)
        |SELECT coalesce(base.doc_id, delta.doc_id) AS doc_id,
        |       coalesce(d_chars, b_chars) AS n_chars,
        |       CASE WHEN op = 'U' THEN 'updated'
        |            WHEN op = 'I' THEN 'inserted'
        |            ELSE 'base' END AS src
        |FROM base FULL OUTER JOIN delta USING (doc_id)
        |WHERE op IS NULL OR op <> 'D'
        |ORDER BY doc_id""".stripMargin,
    "q_graph_pagerank" ->
      s"""WITH $shCte,
         |hs AS (SELECT doc_id, sh, ${rhSql("sh")} AS h FROM sh),
         |mh AS (SELECT doc_id, r.i AS i,
         |              min(((3 + 2*r.i) * h + (7 + 11*r.i)) % 1000000007) AS minh
         |       FROM hs CROSS JOIN range(8) r(i) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, CAST(i // 2 AS INT) AS band,
         |                 string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS bkey
         |          FROM mh GROUP BY 1, 2),
         |st AS (SELECT doc_id, band, bkey,
         |              min(doc_id) OVER (PARTITION BY band, bkey) AS mn,
         |              count(*) OVER (PARTITION BY band, bkey) AS sz
         |       FROM bands),
         |cand AS (SELECT DISTINCT a, b FROM (
         |           SELECT x.doc_id AS a, y.doc_id AS b
         |           FROM st x JOIN st y
         |             ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
         |           WHERE x.sz BETWEEN 2 AND 100
         |           UNION ALL
         |           SELECT mn, doc_id FROM st WHERE sz > 100 AND doc_id <> mn)),
         |e AS (SELECT a AS u, b AS v FROM cand UNION ALL SELECT b, a FROM cand),
         |deg AS (SELECT u, count(*) AS deg FROM e GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM deg),
         |r0 AS (SELECT u AS nd,
         |              CAST(round(1e6 / (SELECT nn FROM n)) AS BIGINT) AS pru FROM deg),
         |r1 AS (SELECT e.v AS nd,
         |              CAST(round(0.15e6 / (SELECT nn FROM n)
         |                   + 0.85 * sum(r0.pru // deg.deg)) AS BIGINT) AS pru
         |       FROM e JOIN r0 ON e.u = r0.nd JOIN deg ON e.u = deg.u GROUP BY e.v),
         |r2 AS (SELECT e.v AS nd,
         |              CAST(round(0.15e6 / (SELECT nn FROM n)
         |                   + 0.85 * sum(r1.pru // deg.deg)) AS BIGINT) AS pru
         |       FROM e JOIN r1 ON e.u = r1.nd JOIN deg ON e.u = deg.u GROUP BY e.v),
         |r3 AS (SELECT e.v AS nd,
         |              CAST(round(0.15e6 / (SELECT nn FROM n)
         |                   + 0.85 * sum(r2.pru // deg.deg)) AS BIGINT) AS pru
         |       FROM e JOIN r2 ON e.u = r2.nd JOIN deg ON e.u = deg.u GROUP BY e.v)
         |SELECT nd AS doc_id, round(pru / 1e6, 6) AS pr FROM r3 ORDER BY doc_id""".stripMargin,
    "q_dedup_keep" ->
      s"""WITH RECURSIVE $reachCtes,
         |lab AS (SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v),
         |m AS (SELECT d.doc_id, d.lang, d.n_chars,
         |             coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |      FROM documents d LEFT JOIN lab l USING (doc_id))
         |SELECT cluster_id AS doc_id, min_by(lang, m.doc_id) AS lang,
         |       min_by(n_chars, m.doc_id) AS n_chars,
         |       CAST(count(*) AS BIGINT) AS n_members
         |FROM m GROUP BY cluster_id ORDER BY doc_id""".stripMargin,
    "q_dedup_stats" ->
      s"""WITH RECURSIVE $reachCtes,
         |lab AS (SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v),
         |m AS (SELECT d.doc_id, d.n_chars,
         |             coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |      FROM documents d LEFT JOIN lab l USING (doc_id)),
         |c AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz,
         |             CAST(sum(n_chars) AS BIGINT) AS chars_all,
         |             min_by(n_chars, doc_id) AS chars_keeper
         |      FROM m GROUP BY cluster_id),
         |g AS (SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters,
         |             CAST(sum(sz) AS BIGINT) AS n_docs,
         |             CAST(sum(sz - 1) AS BIGINT) AS n_removed,
         |             CAST(sum(chars_all - chars_keeper) AS BIGINT) AS chars_removed
         |      FROM c GROUP BY ROLLUP (sz))
         |SELECT coalesce(sz, -1) AS cluster_size, n_clusters, n_docs, n_removed,
         |       round(n_removed / n_docs, 6) AS dup_rate, chars_removed
         |FROM g ORDER BY cluster_size""".stripMargin,
    "q_dedup_paragraph" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |p AS (SELECT doc_id,
        |             unnest(list_transform(range(0, len(ts) // 10),
        |                    i -> array_to_string(ts[i*10+1 : i*10+10], ' '))) AS para
        |      FROM t)
        |SELECT para, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_occ, min(doc_id) AS keep_doc
        |FROM p GROUP BY para HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, para""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH $shCte,
         |hs AS (SELECT doc_id, sh, ${rhSql("sh")} AS h FROM sh),
         |mh AS (SELECT doc_id, r.i AS i,
         |              min(((3 + 2*r.i) * h + (7 + 11*r.i)) % 1000000007) AS minh
         |       FROM hs CROSS JOIN range(8) r(i) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, CAST(i // 2 AS INT) AS band,
         |                 string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS bkey
         |          FROM mh GROUP BY 1, 2),
         |hits AS (SELECT n.doc_id, c.doc_id AS corpus_doc
         |         FROM bands n JOIN bands c ON n.band = c.band AND n.bkey = c.bkey
         |         WHERE n.doc_id % 10 = 7 AND c.doc_id % 10 <> 7),
         |agg AS (SELECT doc_id, CAST(count(DISTINCT corpus_doc) AS BIGINT) AS n_dups,
         |               min(corpus_doc) AS dup_of
         |        FROM hits GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.n_dups, 0) AS n_dups,
         |       coalesce(a.dup_of, -1) AS dup_of
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |WHERE d.doc_id % 10 = 7 ORDER BY d.doc_id""".stripMargin,
    // Full recontraction over the incremental path's exact edge sets:
    // corpus star edges (min→member over EVERY corpus-only bucket of ≥2 —
    // connectivity-identical to bandPairsOf's round-11 clique+star output
    // at every bucket size, so the mirror is exact at any scale),
    // new↔corpus via the skey store (a corpus bucket > 100 is probed at
    // its minimum doc only, mirroring cappedStore), new↔new (fresh-only
    // buckets: 2–100 pair expansion plus min→member stars for over-cap
    // buckets, mirroring bandPairsOf). The recursive closure IS the "labels equal full
    // recontraction" criterion the fold is judged against.
    "q_dedup_cluster_incremental" ->
      s"""WITH RECURSIVE $shCte,
         |hs AS (SELECT doc_id, sh, ${rhSql("sh")} AS h FROM sh),
         |mh AS (SELECT doc_id, r.i AS i,
         |              min(((3 + 2*r.i) * h + (7 + 11*r.i)) % 1000000007) AS minh
         |       FROM hs CROSS JOIN range(8) r(i) GROUP BY 1, 2),
         |bands AS (SELECT doc_id, CAST(i // 2 AS INT) AS band,
         |                 string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS bkey
         |          FROM mh GROUP BY 1, 2),
         |cb AS (SELECT * FROM bands WHERE doc_id % 10 <> 7),
         |fb AS (SELECT * FROM bands WHERE doc_id % 10 = 7),
         |cst AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY band, bkey) AS mn
         |        FROM cb),
         |ccand AS (SELECT DISTINCT mn AS a, doc_id AS b FROM cst WHERE doc_id <> mn),
         |cstore AS (SELECT * FROM cb
         |           QUALIFY count(*) OVER (PARTITION BY band, bkey) <= 100
         |                OR doc_id = min(doc_id) OVER (PARTITION BY band, bkey)),
         |nc AS (SELECT DISTINCT f.doc_id AS a, c.doc_id AS b
         |       FROM fb f JOIN cstore c ON f.band = c.band AND f.bkey = c.bkey),
         |fst AS (SELECT doc_id, band, bkey,
         |               min(doc_id) OVER (PARTITION BY band, bkey) AS mn,
         |               count(*) OVER (PARTITION BY band, bkey) AS sz
         |        FROM fb),
         |nn AS (SELECT DISTINCT a, b FROM (
         |         SELECT x.doc_id AS a, y.doc_id AS b
         |         FROM fst x JOIN fst y
         |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
         |         WHERE x.sz BETWEEN 2 AND 100
         |         UNION ALL
         |         SELECT mn, doc_id FROM fst WHERE sz > 100 AND doc_id <> mn)),
         |alle AS (SELECT a, b FROM ccand UNION
         |         SELECT a, b FROM nc UNION
         |         SELECT a, b FROM nn),
         |e AS (SELECT a AS x, b AS y FROM alle UNION SELECT b, a FROM alle),
         |reach(v, u) AS (
         |  SELECT x, x FROM e
         |  UNION
         |  SELECT r.v, e.y FROM reach r JOIN e ON r.u = e.x)
         |SELECT v AS doc_id, min(u) AS cluster_id
         |FROM reach GROUP BY v ORDER BY v""".stripMargin,
    "q_dedup_minhash_agg" ->
      s"""WITH $shCte,
         |hs AS (SELECT doc_id, sh, ${rhSql("sh")} AS h FROM sh),
         |mh AS (SELECT doc_id, r.i AS i,
         |              min(((3 + 2*r.i) * h + (7 + 11*r.i)) % 1000000007) AS minh
         |       FROM hs CROSS JOIN range(8) r(i) GROUP BY 1, 2)
         |SELECT doc_id, string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS sig
         |FROM mh GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |h AS (SELECT doc_id, ${rhSql("w")} AS h FROM tok),
         |b AS (SELECT doc_id, r.j AS j,
         |             sum(CASE WHEN (h // (1 << r.j)) % 2 = 1 THEN 1 ELSE -1 END) AS s
         |      FROM h CROSS JOIN range(16) r(j) GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS simhash
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dedup_simhash_pairs" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |h AS (SELECT doc_id, ${rhSql("w")} AS h FROM tok),
         |b AS (SELECT doc_id, r.j AS j,
         |             sum(CASE WHEN (h // (1 << r.j)) % 2 = 1 THEN 1 ELSE -1 END) AS s
         |      FROM h CROSS JOIN range(16) r(j) GROUP BY 1, 2),
         |sig AS (SELECT doc_id,
         |               CAST(sum(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS sh
         |        FROM b GROUP BY 1),
         |banded AS (SELECT doc_id, sh, r.k AS band,
         |                  CAST((sh // (1 << (8*r.k))) % 256 AS BIGINT) AS bval
         |           FROM sig CROSS JOIN range(2) r(k)),
         |sized AS (SELECT * FROM banded
         |          QUALIFY count(*) OVER (PARTITION BY band, bval) BETWEEN 2 AND 100),
         |ovc AS (SELECT * FROM banded
         |        QUALIFY count(*) OVER (PARTITION BY band, bval) > 100),
         |reps AS (SELECT band, bval, min(doc_id) AS rep FROM ovc GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT doc_a, doc_b, hamming FROM (
         |           SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |                  CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS hamming
         |           FROM sized x JOIN sized y
         |             ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id
         |           UNION ALL
         |           SELECT r.doc_id, m.doc_id,
         |                  CAST(bit_count(xor(r.sh, m.sh)) AS BIGINT)
         |           FROM reps j JOIN ovc r ON r.band = j.band AND r.bval = j.bval
         |                                 AND r.doc_id = j.rep
         |                JOIN ovc m ON m.band = j.band AND m.bval = j.bval
         |                          AND m.doc_id > j.rep))
         |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
         |ORDER BY hamming, doc_a, doc_b LIMIT 100""".stripMargin,
    // The naive join spelled naively in DuckDB too — the Spark side's
    // banded rewrite must be row-invisible.
    "q_dedup_hamming_join" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |h AS (SELECT doc_id, ${rhSql("w")} AS h1, ${rhSql("upper(w)")} AS h2 FROM tok),
         |b AS (SELECT doc_id, r.j AS j,
         |             sum(CASE WHEN ((CASE WHEN r.j < 30
         |                                  THEN h1 // (CAST(1 AS BIGINT) << CAST(r.j AS INT))
         |                                  ELSE h2 // (CAST(1 AS BIGINT) << CAST(r.j - 30 AS INT)) END) % 2) = 1
         |                      THEN 1 ELSE -1 END) AS v
         |      FROM h CROSS JOIN range(60) r(j) GROUP BY 1, 2),
         |sig AS (SELECT doc_id,
         |               CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS sig
         |        FROM b GROUP BY 1)
         |SELECT CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming,
         |       CAST(count(*) AS BIGINT) AS n_pairs
         |FROM sig a JOIN sig b
         |  ON bit_count(xor(a.sig, b.sig)) <= 2 AND a.doc_id < b.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Candidates CTE-for-CTE with the clustering oracles (candCtes =
    // banded MinHash pairs), then exact Levenshtein on just those edges.
    "q_text_editdist" ->
      s"""WITH $candCtes
         |SELECT c.a AS doc_a, c.b AS doc_b,
         |       CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist
         |FROM cand c
         |JOIN documents da ON da.doc_id = c.a
         |JOIN documents db ON db.doc_id = c.b
         |ORDER BY dist, doc_a, doc_b LIMIT 10""".stripMargin,
    "q_text_redact" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '\b(customer|supplier)\b')) AS BIGINT) AS n_redacted,
        |       CAST(length(regexp_replace(text, '\b(customer|supplier)\b', '[REDACTED]', 'g')) AS BIGINT) AS redacted_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (SELECT doc_id, len(ts) AS n_tok,
        |             list_transform(range(1, len(ts) - 1),
        |                            i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS g3
        |      FROM t)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, CAST(len(g3) AS BIGINT) AS n_g3,
        |       CAST(len(list_distinct(g3)) AS BIGINT) AS n_g3_distinct,
        |       round(1.0 - len(list_distinct(g3)) / len(g3), 4) AS dup_ratio,
        |       CAST(CASE WHEN 1.0 - len(list_distinct(g3)) / len(g3) > 0.2
        |                 THEN 1 ELSE 0 END AS BIGINT) AS repetitive
        |FROM g ORDER BY doc_id""".stripMargin,
    "q_text_unigram_lp" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        |topk AS (SELECT w, c FROM uni ORDER BY c DESC, w LIMIT 20),
        |s AS (SELECT (SELECT sum(c) FROM uni) AS n_total,
        |             (SELECT sum(c) FROM topk) AS n_vocab),
        |lm AS (SELECT w, CAST(round(ln((c + 1.0) / (n_total + 21)) * 1e6) AS BIGINT) AS lp6
        |       FROM topk, s),
        |unk AS (SELECT CAST(round(ln((n_total - n_vocab + 1.0) / (n_total + 21)) * 1e6) AS BIGINT)
        |               AS unk_lp6 FROM s)
        |SELECT doc_id,
        |       round((sum(coalesce(lm.lp6, unk.unk_lp6)) / count(*)) / 1e6, 6) AS mean_lp,
        |       CAST(count(*) AS BIGINT) AS n_tok
        |FROM tok LEFT JOIN lm USING (w), unk
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Bigram backoff mirror: 1-based list indexing, range(1, len) yields
    // len-1 ordered bigrams (duplicates kept — LM counts, not shingle
    // sets); −916291 = round(ln(0.4)·1e6), the shared backoff constant.
    "q_text_bigram_lp" ->
      """WITH ts AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |tok AS (SELECT doc_id, unnest(ts) AS w FROM ts),
        |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        |topk AS (SELECT w, c FROM uni ORDER BY c DESC, w LIMIT 20),
        |s AS (SELECT (SELECT sum(c) FROM uni) AS n_total,
        |             (SELECT sum(c) FROM topk) AS n_vocab),
        |ulm AS (SELECT w AS w2, CAST(round(ln((c + 1.0) / (n_total + 21)) * 1e6) AS BIGINT) AS ulp6
        |        FROM topk, s),
        |unk AS (SELECT CAST(round(ln((n_total - n_vocab + 1.0) / (n_total + 21)) * 1e6) AS BIGINT)
        |               AS unk_lp6 FROM s),
        |bg AS (SELECT doc_id,
        |              unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS bg
        |       FROM ts WHERE len(ts) >= 2),
        |bgc AS (SELECT bg, count(*) AS cb FROM bg GROUP BY 1),
        |topbg AS (SELECT bg, cb FROM bgc ORDER BY cb DESC, bg LIMIT 30),
        |blm AS (SELECT t.bg, CAST(round(ln(t.cb * 1.0 / u.c) * 1e6) AS BIGINT) AS blp6
        |        FROM topbg t JOIN uni u ON u.w = string_split(t.bg, ' ')[1]),
        |sc AS (SELECT b.doc_id,
        |              coalesce(blm.blp6, -916291 + coalesce(ulm.ulp6, unk.unk_lp6)) AS lp6
        |       FROM bg b
        |       LEFT JOIN blm ON blm.bg = b.bg
        |       LEFT JOIN ulm ON ulm.w2 = string_split(b.bg, ' ')[2]
        |       CROSS JOIN unk)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_big,
        |       CAST(sum(lp6) AS BIGINT) AS sum_lp6,
        |       round((sum(lp6) / count(*)) / 1e6, 6) AS mean_lp
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Same capped LM as q_text_unigram_lp; quartile boundaries are exact
    // (p = 1/4, 3/4 are binary-representable; integer scores), and the
    // bucket compare cross-multiplies by 4 so both sides stay
    // integer-valued. (−Σlp6)//n_tok operands are non-negative, so // == div.
    "q_text_ppl_buckets" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        |topk AS (SELECT w, c FROM uni ORDER BY c DESC, w LIMIT 20),
        |s AS (SELECT (SELECT sum(c) FROM uni) AS n_total,
        |             (SELECT sum(c) FROM topk) AS n_vocab),
        |lm AS (SELECT w, CAST(round(ln((c + 1.0) / (n_total + 21)) * 1e6) AS BIGINT) AS lp6
        |       FROM topk, s),
        |unk AS (SELECT CAST(round(ln((n_total - n_vocab + 1.0) / (n_total + 21)) * 1e6) AS BIGINT)
        |               AS unk_lp6 FROM s),
        |ds AS (SELECT doc_id, any_value(lang) AS lang,
        |              sum(coalesce(lm.lp6, unk.unk_lp6)) AS sum_lp6, count(*) AS n_tok
        |       FROM tok LEFT JOIN lm USING (w), unk GROUP BY doc_id),
        |sc AS (SELECT doc_id, lang, (0 - sum_lp6) // n_tok AS p6 FROM ds),
        |qs AS (SELECT lang, quantile_cont(p6, 0.25) AS q1, quantile_cont(p6, 0.75) AS q3
        |       FROM sc GROUP BY 1)
        |SELECT sc.lang,
        |       CASE WHEN p6 * 4 <= q1 * 4 THEN 'head'
        |            WHEN p6 * 4 >= q3 * 4 THEN 'tail'
        |            ELSE 'mid' END AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(min(p6) AS BIGINT) AS min_p6, CAST(max(p6) AS BIGINT) AS max_p6
        |FROM sc JOIN qs USING (lang)
        |GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, lang, doc_id // 200 AS shard,
        |                  len(string_split(text, ' ')) AS n_tok
        |           FROM documents),
        |c AS (SELECT doc_id, lang, shard, n_tok,
        |             sum(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id) AS cum
        |      FROM t),
        |s AS (SELECT lang, shard, CAST((cum - n_tok) // 4096 AS BIGINT) AS seq_id,
        |             CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(n_tok) AS BIGINT) AS seq_tokens, min(doc_id) AS first_doc
        |      FROM c GROUP BY 1, 2, 3),
        |m AS (SELECT *, max(seq_id) OVER (PARTITION BY lang, shard) AS last_seq FROM s),
        |filled AS (SELECT lang, shard, seq_id, n_docs, seq_tokens, first_doc
        |           FROM m WHERE seq_id < last_seq),
        |c2 AS (SELECT lang, n_docs, seq_tokens, first_doc,
        |              sum(seq_tokens) OVER (PARTITION BY lang ORDER BY shard) AS cum2
        |       FROM m WHERE seq_id = last_seq),
        |comp AS (SELECT lang, CAST(-1 AS BIGINT) AS shard,
        |                CAST(bin AS BIGINT) AS seq_id,
        |                CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |                CAST(sum(seq_tokens) AS BIGINT) AS seq_tokens,
        |                min(first_doc) AS first_doc
        |         FROM (SELECT lang, n_docs, seq_tokens, first_doc,
        |                      (cum2 - seq_tokens) // 4096 AS bin FROM c2)
        |         GROUP BY 1, 3)
        |SELECT * FROM filled UNION ALL SELECT * FROM comp
        |ORDER BY lang, shard, seq_id""".stripMargin,
    "q_source_scorecard" ->
      s"""WITH RECURSIVE $reachCtes,
         |lab AS (SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v),
         |m AS (SELECT d.doc_id, d.source, d.n_chars,
         |             CAST(round(len(list_filter(string_split(d.text, ' '), t -> t IN ('the', 'a')))
         |                        / len(string_split(d.text, ' ')) * 1e6) AS BIGINT) AS sr6,
         |             CASE WHEN coalesce(l.cluster_id, d.doc_id) <> d.doc_id THEN 1 ELSE 0 END AS is_dup
         |      FROM documents d LEFT JOIN lab l USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(is_dup) AS BIGINT) AS n_dups,
         |       round(sum(is_dup) / count(*), 4) AS dup_rate,
         |       round((sum(sr6) / count(*)) / 1e6, 6) AS avg_stop_ratio,
         |       round(avg(n_chars), 2) AS avg_chars
         |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "q_text_feature_corr" -> {
      def p(sx: String, sy: String, sxy: String, sxx: String, syy: String) =
        s"round((CAST(n AS DOUBLE) * CAST($sxy AS DOUBLE) - CAST($sx AS DOUBLE) * CAST($sy AS DOUBLE)) / " +
          s"sqrt((CAST(n AS DOUBLE) * CAST($sxx AS DOUBLE) - CAST($sx AS DOUBLE) * CAST($sx AS DOUBLE)) * " +
          s"(CAST(n AS DOUBLE) * CAST($syy AS DOUBLE) - CAST($sy AS DOUBLE) * CAST($sy AS DOUBLE))), 6)"
      s"""WITH f AS (SELECT n_chars AS a,
         |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS b,
         |                  CAST(len(list_filter(string_split(text, ' '),
         |                                       t -> t IN ('the', 'a'))) AS BIGINT) AS c
         |           FROM documents),
         |s AS (SELECT count(*) AS n,
         |             sum(a) AS sa, sum(b) AS sb, sum(c) AS sc,
         |             sum(a*b) AS sab, sum(a*c) AS sac, sum(b*c) AS sbc,
         |             sum(a*a) AS saa, sum(b*b) AS sbb, sum(c*c) AS scc
         |      FROM f)
         |SELECT CAST(n AS BIGINT) AS n_docs,
         |       ${p("sa", "sb", "sab", "saa", "sbb")} AS corr_chars_tokens,
         |       ${p("sa", "sc", "sac", "saa", "scc")} AS corr_chars_stop,
         |       ${p("sb", "sc", "sbc", "sbb", "scc")} AS corr_tokens_stop
         |FROM s""".stripMargin
    },
    "q_text_entropy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |t AS (SELECT doc_id, c, CAST(round(c * ln(c) * 1e6) AS BIGINT) AS t6 FROM tc),
        |a AS (SELECT doc_id, sum(c) AS n, sum(t6) AS s6 FROM t GROUP BY 1)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tok,
        |       round(ln(n) - (s6 / 1e6) / n, 6) AS entropy
        |FROM a ORDER BY doc_id""".stripMargin,
    "q_text_stats" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |       round(avg(len(string_split(text, ' '))), 2) AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_tokens" ->
      """SELECT w, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |GROUP BY w ORDER BY n DESC, w""".stripMargin,
    "q_text_tokens_regex" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_re,
        |       CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id, n_chars,
        |       len(string_split(text, ' ')) AS n_tok,
        |       len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS n_stop,
        |       round(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a')))
        |             / len(string_split(text, ' ')), 4) AS stop_ratio,
        |       round((1.0 - len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a')))
        |                    / len(string_split(text, ' ')))
        |             * least(len(string_split(text, ' ')) / 100.0, 1.0), 4) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_langid" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT lang, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |top5 AS (SELECT lang AS plang, w
        |         FROM (SELECT lang, w, row_number() OVER (PARTITION BY lang ORDER BY c DESC, w) AS rn
        |               FROM tf)
        |         WHERE rn <= 5),
        |votes AS (SELECT t.doc_id, p.plang, count(*) AS v
        |          FROM tok t JOIN top5 p ON t.w = p.w GROUP BY 1, 2),
        |pred AS (SELECT doc_id, plang
        |         FROM (SELECT doc_id, plang,
        |                      row_number() OVER (PARTITION BY doc_id ORDER BY v DESC, plang) AS rn
        |               FROM votes)
        |         WHERE rn = 1)
        |SELECT d.doc_id, d.lang, coalesce(p.plang, 'unknown') AS pred_lang,
        |       CAST(CASE WHEN d.lang = p.plang THEN 1 ELSE 0 END AS BIGINT) AS hit
        |FROM documents d LEFT JOIN pred p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_text_fingerprint" ->
      s"""SELECT doc_id, ${rhSql("text")} AS fp FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_winnow" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |g AS (SELECT doc_id,
         |             unnest(list_transform(range(1, len(ts) - 1),
         |                    i -> {'p': i - 1,
         |                          'g3': ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]}),
         |                    recursive := true)
         |      FROM t),
         |h AS (SELECT doc_id, p, ${rhSql("g3")} AS h FROM g),
         |w AS (SELECT doc_id, p,
         |             min(h) OVER (PARTITION BY doc_id ORDER BY p
         |                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
         |             count(*) OVER (PARTITION BY doc_id) AS n_sh
         |      FROM h),
         |fp AS (SELECT DISTINCT doc_id, wmin FROM w WHERE p <= n_sh - 4)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
         |       string_agg(CAST(wmin AS VARCHAR), ',' ORDER BY wmin) AS fp
         |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_contamination" ->
      s"""WITH $shCte,
         |n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 20),
         |c AS (SELECT s.doc_id, count(*) AS shared
         |      FROM sh s JOIN bench b ON s.sh = b.sh
         |      WHERE s.doc_id >= 20 GROUP BY 1)
         |SELECT c.doc_id, CAST(c.shared AS BIGINT) AS shared,
         |       round(c.shared / n.n_sh, 4) AS contam_ratio
         |FROM c JOIN n ON c.doc_id = n.doc_id
         |ORDER BY contam_ratio DESC, c.doc_id LIMIT 50""".stripMargin,
    "q_sample_split" ->
      s"""WITH k AS (SELECT n_chars, 'split:' || CAST(doc_id AS VARCHAR) AS sk FROM documents),
         |m AS (SELECT n_chars, ${rhSql("sk")} % 10 AS b FROM k)
         |SELECT CASE WHEN b = 0 THEN 'val' WHEN b = 1 THEN 'test' ELSE 'train' END AS split,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_corpus_report" ->
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY ROLLUP(lang, source)
        |ORDER BY lang, source""".stripMargin,
    "q_text_outliers" ->
      """WITH s AS (SELECT lang, avg(n_chars) AS mu, stddev_pop(n_chars) AS sigma
        |           FROM documents GROUP BY 1)
        |SELECT doc_id, lang, n_chars,
        |       round((n_chars - mu) / sigma, 4) AS z,
        |       CAST(CASE WHEN abs(round((n_chars - mu) / sigma, 4)) > 1.5
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
        |FROM documents JOIN s USING (lang)
        |ORDER BY doc_id""".stripMargin,
    "q_text_quality_lr" ->
      """WITH xy AS (SELECT lang,
        |                   CAST(round(ln(n_chars) * 1e6) AS BIGINT) AS x6,
        |                   CAST(round(((1.0 - len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a')))
        |                               / len(string_split(text, ' ')))
        |                              * least(len(string_split(text, ' ')) / 100.0, 1.0)) * 1e6) AS BIGINT) AS y6
        |            FROM documents),
        |st AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |              sum(x6) AS sx, sum(y6) AS sy,
        |              sum(x6 * y6) AS sxy, sum(x6 * x6) AS sxx, sum(y6 * y6) AS syy
        |       FROM xy GROUP BY lang)
        |SELECT lang, n_docs,
        |       round((CAST(n_docs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |             / (CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
        |       round((CAST(sy AS DOUBLE)
        |              - (CAST(n_docs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |                / (CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |                * CAST(sx AS DOUBLE))
        |             / CAST(n_docs AS DOUBLE) / 1e6, 6) AS intercept,
        |       round((CAST(n_docs AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |             / sqrt((CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |                    * (CAST(n_docs AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r
        |FROM st ORDER BY lang""".stripMargin,
    "q_text_dsir" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT w, count(*) AS cc FROM tok GROUP BY 1),
        |vocab AS (SELECT w, cc FROM c ORDER BY cc DESC, w LIMIT 20),
        |t AS (SELECT w, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY 1),
        |s AS (SELECT (SELECT sum(cc) FROM c) AS nc,
        |             (SELECT sum(cc) FROM vocab) AS ncv,
        |             (SELECT count(*) FROM tok WHERE lang = 'en') AS nt,
        |             (SELECT sum(t.ct) FROM vocab JOIN t USING (w)) AS ntv),
        |lm AS (SELECT vocab.w,
        |              CAST(round((ln((coalesce(t.ct, 0) + 1.0) / (s.nt + 21))
        |                          - ln((vocab.cc + 1.0) / (s.nc + 21))) * 1e6) AS BIGINT) AS llr6
        |       FROM vocab LEFT JOIN t USING (w), s),
        |unk AS (SELECT CAST(round((ln((s.nt - coalesce(s.ntv, 0) + 1.0) / (s.nt + 21))
        |                           - ln((s.nc - s.ncv + 1.0) / (s.nc + 21))) * 1e6) AS BIGINT)
        |               AS unk_llr6 FROM s)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |       ((sum(coalesce(lm.llr6, unk.unk_llr6)) + 100000000 * count(*)) // count(*)
        |        - 100000000) / 1e6 AS dsir_w,
        |       CAST(CASE WHEN sum(coalesce(lm.llr6, unk.unk_llr6)) > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM tok LEFT JOIN lm USING (w), unk
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Same LM chain as q_text_dsir; the +1e8·n_tok offset keeps the integer
    // division numerator positive so DuckDB // (floor) equals Spark div
    // (truncate) — mean6 is exact in both engines.
    "q_sample_dsir" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT w, count(*) AS cc FROM tok GROUP BY 1),
        |vocab AS (SELECT w, cc FROM c ORDER BY cc DESC, w LIMIT 20),
        |t AS (SELECT w, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY 1),
        |s AS (SELECT (SELECT sum(cc) FROM c) AS nc,
        |             (SELECT sum(cc) FROM vocab) AS ncv,
        |             (SELECT count(*) FROM tok WHERE lang = 'en') AS nt,
        |             (SELECT sum(t.ct) FROM vocab JOIN t USING (w)) AS ntv),
        |lm AS (SELECT vocab.w,
        |              CAST(round((ln((coalesce(t.ct, 0) + 1.0) / (s.nt + 21))
        |                          - ln((vocab.cc + 1.0) / (s.nc + 21))) * 1e6) AS BIGINT) AS llr6
        |       FROM vocab LEFT JOIN t USING (w), s),
        |unk AS (SELECT CAST(round((ln((s.nt - coalesce(s.ntv, 0) + 1.0) / (s.nt + 21))
        |                           - ln((s.nc - s.ncv + 1.0) / (s.nc + 21))) * 1e6) AS BIGINT)
        |               AS unk_llr6 FROM s),
        |ds AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |              CAST(sum(coalesce(lm.llr6, unk.unk_llr6)) AS BIGINT) AS s6
        |       FROM tok LEFT JOIN lm USING (w), unk GROUP BY doc_id),
        |m AS (SELECT doc_id, n_tok,
        |             CAST((s6 + 100000000 * n_tok) // n_tok - 100000000 AS BIGINT) AS mean6
        |      FROM ds)
        |SELECT doc_id, n_tok, mean6,
        |       CAST(row_number() OVER (ORDER BY mean6 DESC, doc_id) AS INT) AS rank
        |FROM m ORDER BY mean6 DESC, doc_id LIMIT 100""".stripMargin,
    "q_sample_stratified" ->
      s"""WITH r AS (SELECT * FROM (VALUES ('de', 10), ('en', 50), ('es', 30),
         |                                 ('fr', 5), ('zh', 20)) v(lang, rate_pct)),
         |k AS (SELECT d.lang, r.rate_pct,
         |             'strat:' || CAST(d.doc_id AS VARCHAR) AS sk
         |      FROM documents d JOIN r ON d.lang = r.lang),
         |m AS (SELECT lang, rate_pct,
         |             CASE WHEN ${rhSql("sk")} % 100 < rate_pct THEN 1 ELSE 0 END AS admit
         |      FROM k)
         |SELECT lang, CAST(rate_pct AS INT) AS rate_pct,
         |       CAST(count(*) AS BIGINT) AS n_total,
         |       CAST(sum(admit) AS BIGINT) AS n_sampled,
         |       round(sum(admit) * 100.0 / count(*), 4) AS achieved_pct
         |FROM m GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q_sample_fixedk" ->
      s"""WITH hsrc AS (SELECT lang, doc_id,
         |                     ${rhSql("('samp:' || CAST(doc_id AS VARCHAR))")} AS h
         |              FROM documents),
         |r AS (SELECT lang, doc_id, h,
         |             row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rank
         |      FROM hsrc)
         |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, CAST(h AS BIGINT) AS h
         |FROM r WHERE rank <= 20 ORDER BY lang, rank""".stripMargin,
    // Non-negative operands, so DuckDB // equals Spark div.
    "q_sample_pps" ->
      """WITH docs AS (SELECT doc_id, lang,
        |                     CAST(len(string_split(text, ' ')) AS BIGINT) AS w
        |              FROM documents),
        |c AS (SELECT lang, w,
        |             sum(w) OVER (PARTITION BY lang ORDER BY doc_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |             sum(w) OVER (PARTITION BY lang) AS big_w
        |      FROM docs),
        |m AS (SELECT lang, w,
        |             CASE WHEN (cum * 20) // big_w > ((cum - w) * 20) // big_w
        |                  THEN 1 ELSE 0 END AS admit
        |      FROM c)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(sum(admit) AS BIGINT) AS n_sampled,
        |       CAST(sum(w) AS BIGINT) AS w_total,
        |       CAST(sum(CASE WHEN admit = 1 THEN w ELSE 0 END) AS BIGINT) AS w_sampled
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    // Non-negative operands, so DuckDB // and % match Spark div / %.
    "q_mix_epochs" ->
      """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |                  CAST(sum(n_chars) AS BIGINT) AS w
        |           FROM documents GROUP BY 1),
        |q AS (SELECT *, CAST(sum(w) OVER () AS BIGINT) AS big_w FROM s),
        |b AS (SELECT source, n_docs, w,
        |             (w * 100000) // big_w AS base,
        |             (w * 100000) % big_w AS rem
        |      FROM q),
        |r AS (SELECT *,
        |             row_number() OVER (ORDER BY rem DESC, source) AS rrk,
        |             100000 - sum(base) OVER () AS r_total
        |      FROM b)
        |SELECT source, n_docs, w,
        |       CAST(base + CASE WHEN rrk <= r_total THEN 1 ELSE 0 END AS BIGINT) AS alloc,
        |       CAST(((base + CASE WHEN rrk <= r_total THEN 1 ELSE 0 END) * 1000000)
        |            // n_docs AS BIGINT) AS epochs_ppm
        |FROM r ORDER BY source""".stripMargin,
    "q_drift_psi" ->
      """WITH cells AS (
        |  SELECT r.bin,
        |         CAST(coalesce(sum(CASE WHEN doc_id % 2 = 0 THEN 1 END), 0) AS BIGINT) AS ca,
        |         CAST(coalesce(sum(CASE WHEN doc_id % 2 = 1 THEN 1 END), 0) AS BIGINT) AS cb
        |  FROM (SELECT CAST(range AS BIGINT) AS bin FROM range(10)) r
        |  LEFT JOIN (SELECT least(9, n_chars // 64) AS bin, doc_id FROM documents) d
        |    USING (bin)
        |  GROUP BY 1),
        |t AS (SELECT *, sum(ca) OVER () AS na, sum(cb) OVER () AS nb FROM cells),
        |terms AS (SELECT
        |    CAST(round((CAST(ca + 1 AS DOUBLE) / (na + 10) - CAST(cb + 1 AS DOUBLE) / (nb + 10))
        |         * ln((CAST(ca + 1 AS DOUBLE) / (na + 10)) / (CAST(cb + 1 AS DOUBLE) / (nb + 10)))
        |         * 1e6) AS BIGINT) AS term6
        |  FROM t)
        |SELECT round(sum(term6) / 1e6, 6) AS psi,
        |       CAST(count(*) AS BIGINT) AS n_bins,
        |       CAST(round(sum(term6) / 1e6, 6) > 0.2 AS VARCHAR) AS action
        |FROM terms""".stripMargin,
    "q_dedup_substring" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (SELECT doc_id, array_to_string(ts[i:i+9], ' ') AS gram
        |      FROM t, LATERAL (SELECT unnest(range(1, len(ts) - 8)) AS i) r),
        |d AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_occ,
        |             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |             min(doc_id) AS first_doc
        |      FROM g GROUP BY 1)
        |SELECT gram, n_occ, n_docs, first_doc FROM d WHERE n_docs > 1
        |ORDER BY n_docs DESC, n_occ DESC, gram LIMIT 100""".stripMargin,
    "q_text_decontam" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+7], ' ') AS gram
        |      FROM t, LATERAL (SELECT unnest(range(1, len(ts) - 6)) AS i) r),
        |ev AS (SELECT gram FROM g WHERE doc_id % 11 = 0
        |       GROUP BY 1 HAVING count(DISTINCT doc_id) <= 20),
        |tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 11 <> 0),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_gram FROM tr GROUP BY 1),
        |hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
        |        FROM tr JOIN ev USING (gram) GROUP BY 1)
        |SELECT tot.doc_id, tot.n_gram, coalesce(hit.n_hit, 0) AS n_hit,
        |       round(coalesce(hit.n_hit, 0) / tot.n_gram, 4) AS hit_frac,
        |       CAST(coalesce(hit.n_hit, 0) > 0 AS BIGINT) AS flagged
        |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
        |ORDER BY hit_frac DESC, tot.doc_id LIMIT 100""".stripMargin,
    "q_dedup_substring_frac" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |g AS (SELECT doc_id, array_to_string(ts[i:i+9], ' ') AS gram
        |      FROM t, LATERAL (SELECT unnest(range(1, len(ts) - 8)) AS i) r),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_gram FROM g GROUP BY 1),
        |dg AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
        |dd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
        |       FROM g JOIN dg USING (gram) GROUP BY 1)
        |SELECT pd.doc_id, pd.n_gram, coalesce(dd.n_dup, 0) AS n_dup,
        |       round(coalesce(dd.n_dup, 0) / pd.n_gram, 4) AS dup_frac
        |FROM pd LEFT JOIN dd ON pd.doc_id = dd.doc_id
        |ORDER BY dup_frac DESC, pd.doc_id LIMIT 100""".stripMargin,
    "q_text_gopher" ->
      """WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ts FROM documents),
        |m AS (SELECT doc_id,
        |             CAST(len(ts) AS BIGINT) AS n_tok,
        |             round((n_chars - (len(ts) - 1)) / len(ts), 4) AS mean_wlen,
        |             CAST(len(list_filter(ts, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop,
        |             CAST(list_max(list_transform(list_distinct(ts),
        |                    u -> len(list_filter(ts, x -> x = u)))) AS BIGINT) AS top_word_n
        |      FROM t),
        |f AS (SELECT *, round(top_word_n / n_tok, 4) AS top_word_ratio FROM m)
        |SELECT doc_id, n_tok, mean_wlen, n_stop, top_word_n, top_word_ratio,
        |       CAST(n_tok >= 15 AND n_tok <= 90 AS BIGINT) AS r_ntok,
        |       CAST(mean_wlen >= 4.0 AND mean_wlen <= 5.0 AS BIGINT) AS r_wlen,
        |       CAST(n_stop >= 2 AS BIGINT) AS r_stop,
        |       CAST(top_word_ratio <= 0.2 AS BIGINT) AS r_rep,
        |       CAST((CAST(n_tok >= 15 AND n_tok <= 90 AS BIGINT)
        |           + CAST(mean_wlen >= 4.0 AND mean_wlen <= 5.0 AS BIGINT)
        |           + CAST(n_stop >= 2 AS BIGINT)
        |           + CAST(top_word_ratio <= 0.2 AS BIGINT)) = 4 AS BIGINT) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,
    "q_text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT w, count(*) AS df FROM (SELECT DISTINCT doc_id, w FROM tok) GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, w, round(tf * ln((n_docs + 1) / (df + 1)), 6) AS score
        |           FROM tf JOIN dfreq USING (w), nd),
        |ranked AS (SELECT doc_id, w, score,
        |                  row_number() OVER (PARTITION BY doc_id
        |                                     ORDER BY score DESC, w) AS rn
        |           FROM scored)
        |SELECT doc_id, CAST(rn AS BIGINT) AS rn, w AS term, score
        |FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "q_index_postings" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |tok AS (SELECT doc_id, unnest(ts) AS w FROM t),
        |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
        |        FROM tf GROUP BY 1),
        |ch AS (SELECT w, doc_id, tf,
        |              row_number() OVER (PARTITION BY w
        |                                 ORDER BY tf DESC, doc_id) AS rn
        |       FROM tf)
        |SELECT w AS term, df, cf,
        |       string_agg(doc_id || ':' || tf, ',' ORDER BY rn) AS postings
        |FROM ch JOIN dfq USING (w)
        |WHERE rn <= 12
        |GROUP BY w, df, cf ORDER BY term""".stripMargin,
    // Identical integer-input expression tree as the Spark side, rounded to
    // µ-units per (doc, term) before the integer per-doc sum.
    "q_text_bm25" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |tok AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl, unnest(ts) AS w FROM t),
        |tf AS (SELECT doc_id, dl, w, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2, 3),
        |dfq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |scal AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
        |         FROM (SELECT doc_id, any_value(dl) AS dl FROM tf GROUP BY 1)),
        |probe AS (SELECT w, df FROM dfq, scal
        |          WHERE df BETWEEN greatest(3, n_docs // 200)
        |                       AND greatest(100, n_docs // 10)
        |          ORDER BY df DESC, w LIMIT 8),
        |sc AS (SELECT doc_id,
        |              CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |                   * (tf * 2.2)
        |                   / (tf + 1.2 * (0.25 + 0.75 * (dl * n_docs) / sum_dl))
        |                   * 1e6) AS BIGINT) AS score6
        |       FROM tf JOIN probe USING (w), scal)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |       round(sum(score6) / 1e6, 6) AS bm25
        |FROM sc GROUP BY doc_id
        |ORDER BY sum(score6) DESC, doc_id LIMIT 20""".stripMargin
  )
}
