package graft.streaming

import java.nio.file.Files
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftRows
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}
import graft.sources.SnapshotStore

/** Structured-Streaming re-expression of the reference daemon loop
  * (/root/reference/src/main/java/com/qunar/dba/QHBaseCompact.java:135-195;
  * SURVEY.md §2.10). The reference is an unbounded program in control-flow
  * form — infinite poll loop, processing-time admission window, durable
  * cursor, one-region-per-tick pacing. The Spark-native mapping:
  *
  *   - poll loop → file-source `readStream` (new files discovered per trigger)
  *   - 60 s re-check sleep (ref :54) → `Trigger.ProcessingTime`
  *   - one region per tick (ref :146, README.md:8-9) → `maxFilesPerTrigger=1`
  *   - `regionindex` properties checkpoint (ref :102-115) → `checkpointLocation`
  *     (exactly-once progress, no hand-rolled cursor)
  *   - majorCompact per region (ref :167) → [[mergeSink]]: each micro-batch
  *     upserts into one keyed LWW store, committed as a new snapshot
  *   - quickPoll completion detection (ref :62-73) → obsolete: a foreachBatch
  *     action's return IS completion
  *
  * Every directory a sink writes is committed through
  * [[graft.sources.SnapshotStore]] (a tmp directory and one atomic rename),
  * so a kill mid-batch leaves the previous state readable and a replay of
  * the batch finds either nothing or the complete directory.
  *
  * Plus the event-time layer the reference lacks: watermark + windowed
  * aggregation with late-data handling.
  */
object StreamingDaemon {

  /** The streaming source: schema-pinned parquet file stream, one file per
    * trigger (the reference's one-region-per-round invariant).
    */
  def source(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** The schema `spark.read.parquet(dir)` infers. For a flat `dir` it is
    * read on the driver from the footer of one data file with Spark's own
    * conversion (the row metadata Spark writes, else the parquet types),
    * all fields nullable as a file source reads them: inference by a read
    * runs a Spark job over the footers; this runs none. A `dir` with
    * subdirectories (a partitioned layout, `k=v/…`) is inferred by that
    * read, partition columns included. A flat `dir` without a data file
    * throws, naming it.
    */
  private[graft] def inputSchema(spark: SparkSession, dir: String): StructType = {
    val entries = Option(SnapshotStore.local(dir).toFile.listFiles()).toSeq.flatten
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    if (entries.exists(_.isDirectory)) spark.read.parquet(dir).schema
    else {
      val file = entries.sortBy(_.getName).headOption.getOrElse(
        throw new IllegalArgumentException(s"$dir holds no parquet file to take the stream's schema from"))
      val path = new org.apache.hadoop.fs.Path(file.toURI)
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(path, GraftRows.hadoopConf(spark)), ParquetMetadataConverter.NO_FILTER)
      ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
        new ParquetToSparkSchemaConverter(GraftRows.sqlConf(spark))).toNullable
    }
  }

  /** Admission gate — the reference's HH:mm:ss *string-compare* window
    * (QHBaseCompact.java:48-60) applied to event time. Processing-time
    * semantics in the reference; here usable on either clock.
    */
  def admissionGate(df: DataFrame, start: String, end: String): DataFrame =
    df.filter(date_format(col("ts"), "HH:mm:ss").between(start, end))

  /** Ingest drift histogram — the STREAMING arm of the batch q_drift_psi
    * gate: the same 10 clamped equi-width n_chars bins with the even/odd
    * doc_id side split, maintained incrementally across micro-batches
    * (complete-mode grouped counts; ≤10 groups, so the state is metadata-
    * scale no matter the corpus). A monitoring daemon reads the current
    * histogram each trigger and applies the PSI arithmetic (integer
    * µ-unit terms, as in the batch query) over the ≤10-row result —
    * detecting a shifted crawl WHILE it streams in, instead of after the
    * batch lands. StreamingSpec pins the incremental histogram equal to
    * the batch aggregation of the same files.
    */
  def driftHistogram(docs: DataFrame): DataFrame =
    docs.select(
        least(lit(9L), expr("n_chars div 64")).cast("long").as("bin"),
        when(col("doc_id") % 2 === 0, lit("a")).otherwise(lit("b")).as("side"))
      .groupBy(col("bin"))
      .agg(
        sum(when(col("side") === "a", 1L).otherwise(0L)).as("ca"),
        sum(when(col("side") === "b", 1L).otherwise(0L)).as("cb"))

  /** Event-time windowed aggregation with watermark (coverage the reference
    * lacks, SURVEY.md §2.10): 10-minute tumbling counts per event_type,
    * tolerating 1 hour of lateness.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  /** One exactly-once MERGE application of micro-batch `batchId`: one Spark
    * job (a few for a first batch of several shards) that merges the batch
    * into the snapshot LATEST names and writes the next, `snap-<batchId>`.
    * Returns false when the batch was already applied (the replay
    * fast-path).
    *
    * The merge ([[MergeStore.merge]]): every snapshot is P key-sorted,
    * range-disjoint shard files plus a `_bounds` manifest of each shard's
    * sampled keys (the first of them its bound), written into the tmp
    * directory before the commit moves it. Only the batch is partitioned
    * by the bounds and sorted by key; shard i of the prior is read as one
    * partition, zipped with batch slice i, and the two sorted streams
    * merge with last write wins by `orderCols` (a batch's older version
    * loses to the stored one, and duplicates inside the batch resolve the
    * same way) into one file per shard. The prior is never shuffled. The
    * first batch chooses P (from its plan's size estimate); when P > 1 it
    * is a major compaction ([[MergeStore.create]]), whose bounds Spark's
    * range partitioner samples from the batch's deduplicated keys. After
    * that, a shard whose file has outgrown `spark.sql.files.maxPartitionBytes`
    * splits at its sampled keys in the same job, its file read once per
    * piece. LATEST may also name a directory [[Compactor.compact]]
    * committed. A LATEST snapshot without `_bounds` throws, naming the
    * store, and is never merged as if sorted.
    *
    * Exactly-once from an at-least-once engine, two layers:
    *  1. an applied-batch LEDGER — marker file per batchId, committed AFTER
    *     the snapshot pointer swap — so a clean replay of batch N is skipped
    *     without touching data;
    *  2. a SNAPSHOT COMMIT for the torn window (crash after `snap-N` is
    *     committed, before the marker): `snap-N` is committed through
    *     [[SnapshotStore.commit]], which reuses a committed directory
    *     instead of writing. That is correct because a replay of batch N
    *     merges the same prior snapshot (N−1, or N once the pointer swap
    *     has landed; the keyed LWW upsert converges on it) with the same
    *     batch, so its content is what `snap-N` already holds, and it never
    *     overwrites a directory that is being read.
    *
    * LATEST is swapped with [[SnapshotStore.point]] after the commit:
    * readers never observe a half-written store, and the prior snapshot
    * stays valid for in-flight reads. A write that fails leaves no `snap-N`
    * and LATEST and the ledger untouched. Old snapshots are kept: nothing
    * deletes them yet (retention is ROADMAP item 1).
    */
  private[graft] def applyMergeBatch(
      spark: SparkSession, storeDir: String,
      keys: Seq[String], orderCols: Seq[String],
      batch: DataFrame, batchId: Long): Boolean = {
    val store = SnapshotStore.local(storeDir)
    val marker = store.resolve(s"_applied/batch-$batchId")
    if (Files.exists(marker)) return false
    val prior = SnapshotStore.pointed(store.resolve("LATEST")).map(store.resolve)
    val snap = s"snap-$batchId"
    SnapshotStore.commit(store.resolve(snap))(
      MergeStore.merge(spark, storeDir, prior, keys, orderCols, batch, _))
    SnapshotStore.point(store.resolve("LATEST"), snap)
    Files.createDirectories(marker.getParent)
    Files.write(marker, batchId.toString.getBytes("UTF-8"))
    true
  }

  /** The idempotent foreachBatch MERGE sink: every micro-batch UPSERTS into
    * a single keyed store (last write wins by `orderCols`), and replays
    * are no-ops via [[applyMergeBatch]]'s ledger and snapshot commit. This
    * is the stream → serving-table bridge: the store is always one
    * consistent LWW snapshot of everything ingested so far, held as
    * key-sorted range shards of about `spark.sql.files.maxPartitionBytes`
    * each (a shard that outgrows it splits), and each micro-batch is one
    * Spark job. The stream's schema comes from one input file's footer
    * ([[inputSchema]]), so starting the stream over a flat input
    * directory runs no Spark job.
    */
  def mergeSink(
      spark: SparkSession,
      inDir: String,
      storeDir: String,
      checkpointDir: String,
      keys: Seq[String],
      orderCols: Seq[String],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    Files.createDirectories(SnapshotStore.local(storeDir))
    source(spark, inDir, inputSchema(spark, inDir))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMergeBatch(spark, storeDir, keys, orderCols, batch, batchId)
        ()
      }
      .start()
  }

  /** Dedup on the BUSINESS keys alone within the watermark window — the
    * same key re-emitted with a different event time is still a duplicate:
    * only the first arrival per key passes until the watermark ages the
    * key's state out. The crawl-ingest semantics (a re-fetched page has a new
    * timestamp but is the same document), with state still bounded by the
    * watermark horizon rather than growing with the stream.
    */
  def streamingDedupKeysOnly(events: DataFrame, keys: Seq[String]): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(keys)

  /** One side of the dynamic signature store: `dir/batch=N` parquet
    * committed per micro-batch, each holding the columns of `like`, the
    * frame a batch writes there. The root is read with that schema plus
    * the `batch` partition column, so no Spark job infers it from the
    * footers; before the first commit the result is `like` with no rows.
    * `excludeBatch` drops the CURRENT batch's own
    * directory so an at-least-once replay of batch N is gated exactly as its
    * first attempt was — never against its own earlier output. Partition
    * pruning keeps the exclusion a metadata operation, not a scan. A
    * `batch=` directory exists only once committed, and an in-flight or
    * killed `.tmp-*` one is hidden from Spark's file index.
    */
  private[graft] def readSigStore(
      spark: SparkSession, dir: String, like: DataFrame, excludeBatch: Long): DataFrame = {
    val root = SnapshotStore.local(dir)
    val hasBatch = Files.isDirectory(root) && {
      val it = Files.list(root)
      try it.anyMatch(_.getFileName.toString.startsWith("batch=")) finally it.close()
    }
    if (!hasBatch) like.limit(0)
    else spark.read.schema(like.schema.add("batch", LongType)).parquet(dir)
      .filter(col("batch") =!= excludeBatch)
      .select(like.columns.toSeq.map(col): _*)
  }

  /** Sign-LSH band keys over an embedding column — the batch q_dedup_embed
    * banding (8 bands × 8 sign bits) as a gate-side projection: one row per
    * (doc, band) with `ekey = band:bucket` and the embedding carried for
    * the exact-cosine confirmation. Deterministic, no RNG to persist.
    */
  def embedBandKeys(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("embedding"),
        posexplode(graft.functions.VectorFns.signBands(col("embedding"))))
      .select(col("doc_id"), col("embedding"),
        concat_ws(":", col("pos"), col("col")).as("ekey"))

  /** Streaming INGEST dedup — the LLM-crawl ingestion gate, the streaming
    * form of q_dedup_incremental: documents arrive as a file stream; each
    * micro-batch is (a) exact-deduped batch-locally on content hash
    * (deterministic keeper = min doc_id) and (b) anti-joined against the
    * PERSISTED corpus MinHash signature store PLUS the band keys and exact
    * hashes of every document ACCEPTED by prior batches — so a near-dup
    * arriving one batch after its original is rejected, not just near-dups
    * of the pre-existing corpus. After the write, the batch folds its own
    * accepted signatures back into the store (the exact-hash side also
    * covers docs too short to shingle, which produce no band keys at all).
    *
    * Per-batch cost: the band-key pipeline runs on the micro-batch only;
    * the store side is a skey/hash-keyed join whose prior-batch read prunes
    * on the `batch` partition column. In production the store is compacted
    * periodically into the bucketed signature table q_dedup_incremental
    * reads (TextQueries.corpusSigTable), so the join stays Exchange-free on the
    * corpus side; the per-batch `batch=N` directories here are the
    * between-compactions delta. Each batch commits its data and signature
    * `batch=N` directories through [[SnapshotStore.commit]]; a replay
    * reuses every one already committed and writes only the missing ones,
    * which the `excludeBatch` gate makes identical to the first attempt's
    * (at-least-once foreachBatch → exactly-once directory contents).
    *
    * `corpusEmbSigs` (optional): the corpus-side EMBEDDING sign-LSH index
    * (ekey, embedding) — when supplied, the gate also catches SEMANTIC
    * near-dups (novel text, same meaning): each batch doc's band keys probe
    * the corpus index, the `ekeys/batch=N` store of previously-accepted
    * embeddings, AND the rest of its own micro-batch (higher doc_id loses,
    * the exact-dedup min-keeper rule); a candidate is rejected only when
    * the exact cosine confirms (≥ `semanticCos`) — band collision alone is
    * a candidate signal, not a verdict, exactly the batch
    * q_dedup_embed/q_dedup_semantic two-phase discipline. Accepted
    * embeddings fold back into the store per batch like the text
    * signatures. (The TEXT near-dup arm stays store-only within a batch —
    * exact hash handles intra-batch text dups; the semantic arm covers the
    * mirror-page case exact hashing misses.) Both semantic legs keep the
    * cap policy of every LSH candidate path: a batch band value above
    * [[graft.operators.TextQueries.BucketCap]] stars to its minimum
    * doc_id ([[graft.operators.TextQueries.cappedPairs]]), and a stored
    * one is probed at its minimum embedding only
    * ([[graft.operators.TextQueries.cappedStore]]) — no hot bucket is
    * dropped, and neither leg goes quadratic on it. Everything the batch
    * materializes is released when it ends, so nothing accumulates over
    * a long-running stream.
    */
  def ingestDedupLoop(
      spark: SparkSession,
      inDir: String,
      corpusSigs: DataFrame,
      outDir: String,
      checkpointDir: String,
      sigStoreDir: String,
      corpusEmbSigs: Option[DataFrame] = None,
      semanticCos: Double = 0.95,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    source(spark, inDir, inputSchema(spark, inDir))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val exact = batch
          .withColumn("content_hash", sha2(col("text"), 256))
          .groupBy(col("content_hash"))
          .agg(min_by(
            struct(batch.columns.map(col) :+ col("content_hash"): _*),
            col("doc_id")).as("k"))
          .select(col("k.*"))
          .persist()
        val sigs = graft.operators.TextQueries.bandKeysOf(exact).persist()
        val bsigs = corpusEmbSigs.map(_ => embedBandKeys(exact).persist())
        try {
          val priorSkeys = readSigStore(spark, s"$sigStoreDir/skeys", sigs.select(col("skey")), batchId)
          val priorHashes = readSigStore(spark, s"$sigStoreDir/hashes",
            exact.select(col("content_hash")), batchId)
          val nearDup = sigs
            .join(corpusSigs.select(col("skey")).union(priorSkeys), Seq("skey"), "left_semi")
            .select(col("doc_id"))
          val exactDup = exact
            .join(priorHashes, Seq("content_hash"), "left_semi")
            .select(col("doc_id"))
          val semDup = (corpusEmbSigs, bsigs) match {
            case (Some(corpusEmb), Some(bs)) =>
              import graft.operators.TextQueries.{cappedPairs, cappedStore}
              // The ekeys store has no id column: a hot stored band value
              // is represented by its minimum embedding.
              val stored = cappedStore(corpusEmb.select(col("ekey"), col("embedding"))
                  .union(readSigStore(spark, s"$sigStoreDir/ekeys",
                    bs.select(col("ekey"), col("embedding")), batchId)),
                  Seq("ekey"), "embedding")
                .withColumnRenamed("embedding", "stored_emb")
              // Dedup (batch doc, stored embedding) candidates ACROSS bands
              // before the cosine — up to 8 band collisions per pair must
              // pay the exact-cosine confirm once.
              val vsStored = bs.join(stored, "ekey")
                .groupBy(col("doc_id"), col("stored_emb"))
                .agg(first(col("embedding")).as("embedding"))
                .filter(graft.functions.VectorFns.cosine(
                  col("embedding"), col("stored_emb")) >= semanticCos)
                .select(col("doc_id"))
              // INTRA-batch semantic pairs: two novel-text mirror docs in
              // the same micro-batch collide on a band, confirm by cosine,
              // and the HIGHER doc_id loses — the same deterministic
              // min-keeper rule as the exact-hash dedup above. Without
              // this, a crawl batch full of mirror pages would pass the
              // gate untouched and pollute the ekeys store. A mirror-flood
              // batch saturates all 8 bands: cappedPairs stars each
              // over-cap band to its minimum doc_id, so the flood neither
              // goes quadratic on itself nor passes. Pairs are decided on
              // thin (ekey, doc_id) rows and deduped across bands; the
              // embeddings attach once per endpoint, so each pair pays the
              // exact cosine ONCE.
              val emb = exact.select(col("doc_id"), col("embedding"))
              val vsBatch = cappedPairs(bs.select(col("ekey"), col("doc_id")), Seq("ekey"),
                  col("doc_id"), Nil)((a, b) => struct(a.as("doc_a"), b.as("doc_b")))
                .distinct()
                .join(emb.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("embedding", "ea"), "doc_a")
                .join(emb.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("embedding", "eb"), "doc_b")
                .filter(graft.functions.VectorFns.cosine(
                  col("ea"), col("eb")) >= semanticCos)
                .select(col("doc_b").as("doc_id"))
              vsStored.union(vsBatch)
            case _ => spark.range(0).select(col("id").as("doc_id"))
          }
          val accepted = exact
            .join(nearDup.union(exactDup).union(semDup).distinct(),
              Seq("doc_id"), "left_anti")
            .persist()
          def commitBatch(dir: String)(df: DataFrame): Unit =
            SnapshotStore.commit(SnapshotStore.local(s"$dir/batch=$batchId"))(df.write.parquet(_))
          try {
            commitBatch(outDir)(accepted.drop("content_hash"))
            commitBatch(s"$sigStoreDir/skeys")(
              sigs.join(accepted.select(col("doc_id")), "doc_id").select(col("skey")))
            commitBatch(s"$sigStoreDir/hashes")(accepted.select(col("content_hash")))
            bsigs.foreach { bs =>
              commitBatch(s"$sigStoreDir/ekeys")(
                bs.join(accepted.select(col("doc_id")), "doc_id").select(col("ekey"), col("embedding")))
            }
          } finally accepted.unpersist() // a failed write must not pin the cache across retries
        } finally {
          bsigs.foreach(_.unpersist())
          sigs.unpersist()
          exact.unpersist()
        }
        ()
      }
      .start()
  }

  /** Stream-stream INTERVAL join (attribution): each purchase joins every
    * click by the SAME user in the 30 minutes before it — the click-to-
    * conversion attribution query, and the §2.10 surface the daemon lacked
    * (all prior joins were stream⋈static). Both sides carry a 1-hour
    * watermark and the join predicate bounds event time on BOTH ends, so
    * Spark can size the state store: click state is evicted once older than
    * watermark + the 30-minute range — O(recent window), never O(stream).
    * Without the time bound the state store grows forever; that shape is
    * the streaming analog of an uncapped shuffle and is deliberately
    * impossible here.
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
        col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val p = purchases.select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    p.join(c,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("interval 30 minutes"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
        unix_micros(col("p_ts")).as("p_ts_us"), unix_micros(col("c_ts")).as("c_ts_us"),
        col("value"))
  }

  // ---- custom state: streaming LWW via mapGroupsWithState ----

  case class EventIn(event_id: Long, ts_us: Long, user_id: Long, event_type: String, value: Double)

  /** Per-(user,event_type) state: the current newest version + a version
    * counter — the per-cell state HBase keeps implicitly and the reference's
    * daemon recomputes by re-listing files each round.
    */
  case class LwwState(eventId: Long, tsUs: Long, value: Double, versionsSeen: Long)

  case class LwwUpdate(user_id: Long, event_type: String, last_event_id: Long,
      ts_us: Long, last_value: Double, versions_seen: Long)

  /** One key's micro-batch folded into its stored state: the newest version
    * by (ts, event_id) — the same deterministic order as batch LWW — among
    * the batch rows and the previous newest, with the version counter
    * advanced by the batch size.
    */
  private def foldLww(batchIt: Iterator[EventIn], prev: Option[LwwState]): LwwState = {
    val batch = batchIt.toSeq // per-key micro-batch; bounded
    val candidates = batch.map(e => LwwState(e.event_id, e.ts_us, e.value, 0L)) ++ prev
    val newest = candidates.maxBy(s => (s.tsUs, s.eventId))
    newest.copy(versionsSeen = prev.map(_.versionsSeen).getOrElse(0L) + batch.size)
  }

  /** Streaming LWW with explicit keyed state: each micro-batch folds its new
    * versions into the stored newest-version per key and emits the updated
    * row. Equivalent to re-running batch LWW over all data ever seen, but the
    * state store holds exactly one row per key — O(keys), not O(history),
    * which is the point at 100 TB of versioned cells.
    */
  def statefulLww(events: Dataset[EventIn]): Dataset[LwwUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState[LwwState, LwwUpdate](GroupStateTimeout.NoTimeout) {
        case ((uid, etype), batchIt, state: GroupState[LwwState]) =>
          val next = foldLww(batchIt, state.getOption)
          state.update(next)
          LwwUpdate(uid, etype, next.eventId, next.tsUs, next.value, next.versionsSeen)
      }
  }

  /** Output-mode helper for [[statefulLww]] sinks. */
  val statefulLwwOutputMode: OutputMode = OutputMode.Update()

  /** Change-only stream via flatMapGroupsWithState: emit 0 or 1 rows per key
    * per micro-batch — only when the newest version actually changed. This is
    * the streaming form of the reference's quickPoll "largest file name
    * differs" test (QHBaseCompact.java:171-184): downstream consumers see
    * deltas, not heartbeats.
    */
  def changeStream(events: Dataset[EventIn]): Dataset[LwwUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[LwwState, LwwUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case ((uid, etype), batchIt, state: GroupState[LwwState]) =>
          val prev = state.getOption
          val next = foldLww(batchIt, prev)
          state.update(next)
          val changed = !prev.exists(p => p.eventId == next.eventId && p.tsUs == next.tsUs)
          if (changed)
            Iterator.single(LwwUpdate(uid, etype, next.eventId, next.tsUs, next.value, next.versionsSeen))
          else Iterator.empty
      }
  }

  // ---- custom state with EVENT-TIME TIMEOUT: gap-closed sessions ----

  /** Open-session state: bounds + counters, O(1) per live user. */
  case class SessState(startUs: Long, endUs: Long, n: Long, purchases: Long)

  case class SessionClosed(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long, n_purchases: Long, closed_by: String)

  /** Gap-closed sessions via flatMapGroupsWithState + EventTimeTimeout —
    * the streaming twin of the batch 30-minute gap rule (q_sessionize).
    * Two close paths, both exercised by StreamingSpec:
    *  - "gap": a new event lands more than `gapUs` after the open session's
    *    end — the old session closes in the data callback and a fresh one
    *    opens from that event;
    *  - "timeout": the watermark passes end + gap with no new data — the
    *    state store fires the timeout callback, the session is emitted and
    *    the state REMOVED (this is what bounds state to live users; without
    *    event-time timeout an idle user's state lives forever).
    * State is O(live users) regardless of history length; emitted rows are
    * final (Append mode) because a closed session can never reopen — the
    * watermark guarantees no event at or before its end is still in flight.
    */
  def sessionCloseStream(events: Dataset[EventIn], gapUs: Long): Dataset[SessionClosed] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "10 minutes")
      .as[EventIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionClosed](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, batchIt, state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionClosed(uid, s.startUs, s.endUs, s.n, s.purchases, "timeout"))
          } else {
            // fold the micro-batch in event order (bounded per key+batch)
            val batch = batchIt.toSeq.sortBy(e => (e.ts_us, e.event_id))
            val closed = Seq.newBuilder[SessionClosed]
            var open = state.getOption
            batch.foreach { e =>
              open match {
                case Some(s) if e.ts_us - s.endUs > gapUs =>
                  closed += SessionClosed(uid, s.startUs, s.endUs, s.n, s.purchases, "gap")
                  open = Some(SessState(e.ts_us, e.ts_us, 1L,
                    if (e.event_type == "purchase") 1L else 0L))
                case Some(s) =>
                  open = Some(SessState(s.startUs, math.max(s.endUs, e.ts_us), s.n + 1L,
                    s.purchases + (if (e.event_type == "purchase") 1L else 0L)))
                case None =>
                  open = Some(SessState(e.ts_us, e.ts_us, 1L,
                    if (e.event_type == "purchase") 1L else 0L))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.endUs + gapUs) / 1000L)
            }
            closed.result().iterator
          }
      }
  }
}
