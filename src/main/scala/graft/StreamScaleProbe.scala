package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.streaming.StreamingDaemon

/** Dev ROW-SCALE soak for the streaming pipelines (not part of the library
  * surface) — the streaming sibling of [[ScaleProbe]]: correctness and
  * fault tolerance of the daemon are proven elsewhere (StreamingSpec,
  * [[KillProbe]]); what was never measured is how wall time and —
  * the real 100 TB claim — STATE-STORE SIZE behave as the stream grows K×.
  * Three pipelines, three different state postures, each soaked at staged
  * K with per-K wall time and the state metric that must stay flat:
  *
  *  - `statefulLww` (mapGroupsWithState, NoTimeout): state is one row per
  *    (user_id, event_type) key FOREVER — O(keys), not O(history). Events
  *    amplified K× with fresh event ids but the SAME key set, staged into a
  *    fixed number of micro-batch files (batches get K× fatter, batch count
  *    constant). Pass = wall at-or-below-linear in K and
  *    `stateOperators.numRowsTotal` EQUAL to the key count at every K.
  *
  *  - `streamingDedupKeysOnly` (dropDuplicatesWithinWatermark): state is
  *    bounded by the WATERMARK HORIZON, not the stream length. Replica r
  *    of the event stream is shifted r × (span + 2 h) into the future and
  *    staged as its own file in time order, so the stream gets K× LONGER
  *    (same density) and the 1-hour watermark ages each batch's keys out
  *    before the next: max `numRowsTotal` across the run must stay ≈ one
  *    batch's keys (flat in K) while total input grows K× — the posture
  *    claim `KillProbe`'s streaming phases cite, measured. Dedup key is
  *    `event_id` (unique per event): if eviction did NOT happen, state
  *    would grow to the whole stream and the flatness assert fails loudly.
  *
  *  - `ingestDedupLoop` (crawl-ingest gate, persisted signature store):
  *    state is the parquet signature store — O(ACCEPTED docs), not
  *    O(seen). K staged re-crawls of the same fresh corpus with fresh doc
  *    ids: batch 0 admits the truth set and every later batch must be
  *    rejected entirely — truth replicas via the persisted hashes store
  *    (exact arm), corpus-dup replicas via the corpus band keys. Re-crawls
  *    are EXACT duplicates because that arm is deterministic and strict
  *    `accepted == truth` is its contract; the banded-LSH near-dup arm is
  *    PROBABILISTIC recall by design (a tail-token near-dup re-crawl at
  *    sf0.1/K=10 leaked 19 of 3 366 replicas ≈ 0.6% — the expected
  *    1-(1-j^r)^b miss tail, quantified properly by the q_dedup_lsh_sweep
  *    / minhash_est harnesses), so the soak REPORTS the near-dup leak of
  *    one extra crawl instead of asserting on it. Pass = accepted == truth
  *    at every K and store ROWS exactly O(accepted) at every K (hashes ==
  *    accepted count, skeys K-invariant — both asserted; bytes and wall are
  *    REPORTED, not asserted: bytes carry per-batch parquet dir overhead
  *    that grows with batch count, and wall on this shared host throws
  *    3-10× contention windows that would flake a hard linearity bound).
  *
  * Usage: runMain graft.StreamScaleProbe [sfDir] [K1,K2,...]
  * (defaults /root/testdata/sf0.1 and 10,40 — the facts-soak grid).
  */
object StreamScaleProbe {

  /** Max state rows / memory seen across a query's progress events. */
  final class StateWatcher extends StreamingQueryListener {
    @volatile var maxRows = 0L
    @volatile var maxMem = 0L
    def reset(): Unit = { maxRows = 0L; maxMem = 0L }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val ops = e.progress.stateOperators
      if (ops != null && ops.nonEmpty) {
        maxRows = math.max(maxRows, ops.map(_.numRowsTotal).sum)
        maxMem = math.max(maxMem, ops.map(_.memoryUsedBytes).sum)
      }
    }
  }

  /** StreamingQueryListener events are delivered asynchronously: the last
    * batch's progress may still be in flight when awaitTermination returns,
    * and asserting on a not-yet-updated watcher would flake the probe. Poll
    * until the watcher holds still for 1 s (10 s cap) — and REQUIRE that it
    * did: a silent return on listener-bus lag would let the hard state
    * asserts below fire on a stale max (a false probe failure), so an
    * unsettled watcher fails with the rerun message instead, mirroring
    * quiescentSnapshot (ADVICE r16).
    */
  private def settle(w: StateWatcher): Unit = {
    var last = (w.maxRows, w.maxMem)
    var stable = 0
    var waited = 0
    while (stable < 10 && waited < 100) {
      Thread.sleep(100); waited += 1
      val cur = (w.maxRows, w.maxMem)
      if (cur == last) stable += 1 else { stable = 0; last = cur }
    }
    require(stable >= 10,
      "streaming state watcher never settled within 10s — rerun the probe")
  }

  /** foreachBatch is at-least-once: a retried micro-batch must OVERWRITE its
    * earlier count, not add to it, or an emitted-total equality assert flakes
    * on retry — so counts key on batchId. Concurrent because foreachBatch
    * runs on the stream's thread while main sums after awaitTermination
    * (the old plain `var emitted` was also a cross-thread data race;
    * ADVICE r16).
    */
  private final class BatchCounts {
    private val m = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()
    def record(batchId: Long, rows: Long): Unit = m.put(batchId, rows)
    def total: Long = { var s = 0L; m.forEach((_, v) => s += v); s }
  }

  private def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(path))
  }

  private def tmp(tag: String) = ProbeKill.tempDir(tag)

  /** Write `df` as `files` mtime-ordered single-part parquet files so the
    * file stream (maxFilesPerTrigger=1) replays them as `files` deterministic
    * micro-batches; `part` assigns rows to files.
    */
  private def stageFiles(df: DataFrame, part: org.apache.spark.sql.Column,
      files: Int, dir: String): Unit =
    for (i <- 0 until files) {
      df.filter(part === i).coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100) // distinct mtimes pin the batch order
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val ks = args.lift(1).map(_.split(",").toSeq.map(_.toInt)).getOrElse(Seq(10, 40))
    val spark = Sessions.tuned("local[32]", "32")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val watcher = new StateWatcher
    spark.streams.addListener(watcher)

    val evNorm = Tables.events(spark, sfDir).select(
      col("event_id"), unix_micros(col("ts")).as("ts_us"),
      col("user_id"), col("event_type"), col("value")).persist()
    val nKeys = evNorm.select(col("user_id"), col("event_type")).distinct().count()
    val nEvents = evNorm.count()
    val spanUs = evNorm.agg(max(col("ts_us")) - min(col("ts_us"))).head().getLong(0)
    val maxEventId = evNorm.agg(max(col("event_id"))).head().getLong(0)
    val idShift = math.max(1000000000L, maxEventId + 1L) // fresh ids, no collisions
    println(s"[stream-soak] base: $nEvents events, $nKeys LWW keys, span ${spanUs / 3600000000L} h ($sfDir)")

    // ---- 1) statefulLww: O(keys) state under K× fatter batches ----------
    println("[stream-soak] -- statefulLww (mapGroupsWithState; state must stay == key count) --")
    for (k <- ks) {
      val reps = spark.range(k).select(col("id").as("rep"))
      // same keys, fresh ids, ts shifted by rep µs (distinct versions)
      val amp = evNorm.crossJoin(reps).select(
        (col("event_id") + col("rep") * lit(idShift)).as("event_id"),
        (col("ts_us") + col("rep")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      val evDir = tmp("sss_lww_in")
      stageFiles(amp, pmod(col("event_id"), lit(6)), 6, evDir)
      watcher.reset()
      val counts = new BatchCounts
      val t0 = System.nanoTime()
      val q = spark.readStream
        .schema("event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(evDir)
        .as[StreamingDaemon.EventIn]
        .transform(StreamingDaemon.statefulLww)
        .writeStream
        .option("checkpointLocation", tmp("sss_lww_ckp"))
        .outputMode(StreamingDaemon.statefulLwwOutputMode)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamingDaemon.LwwUpdate], batchId: Long) =>
          counts.record(batchId, b.count()); ()
        }
        .start()
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      settle(watcher)
      require(watcher.maxRows == nKeys,
        s"statefulLww state is not O(keys): numRowsTotal=${watcher.maxRows} != $nKeys keys at K=$k")
      println(f"[stream-soak] lww      K=$k%-3d ${k * nEvents}%9d events  $sec%7.1f s  stateRows=${watcher.maxRows}  stateMem=${watcher.maxMem / 1024}%d KiB  updates=${counts.total}")
    }

    // ---- 2) watermark dedup: O(horizon) state under a K× LONGER stream --
    println("[stream-soak] -- dropDuplicatesWithinWatermark on event_id (state must stay ≈ one batch) --")
    for (k <- ks) {
      val reps = spark.range(k).select(col("id").as("rep"))
      // replica r = the whole stream re-emitted r × (span + 2 h) later:
      // K× LONGER stream at the same density; every event_id fresh so an
      // eviction failure would grow state to the full K × nEvents.
      val amp = evNorm.crossJoin(reps).select(
        (col("event_id") + col("rep") * lit(idShift)).as("event_id"),
        timestamp_micros(col("ts_us") + col("rep") * lit(spanUs + 7200000000L)).as("ts"),
        col("user_id"))
      val evDir = tmp("sss_wm_in")
      stageFiles(amp, (col("event_id") / lit(idShift)).cast("long"), k, evDir)
      watcher.reset()
      val counts = new BatchCounts
      val t0 = System.nanoTime()
      val q = spark.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(evDir)
        .transform(df => StreamingDaemon.streamingDedupKeysOnly(df, Seq("event_id")))
        .writeStream
        .option("checkpointLocation", tmp("sss_wm_ckp"))
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, batchId: Long) => counts.record(batchId, b.count()); () }
        .start()
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      settle(watcher)
      // flat = bounded by ~one replica's ids (+ the in-flight batch), never
      // the K× total; 2.5× headroom absorbs watermark-lag boundary effects
      require(watcher.maxRows <= (nEvents * 2.5).toLong,
        s"watermark dedup state grew with the stream: numRowsTotal=${watcher.maxRows} vs one-batch bound ${nEvents} at K=$k")
      val emitted = counts.total
      require(emitted == k * nEvents, s"dedup dropped unique ids: $emitted != ${k * nEvents}")
      println(f"[stream-soak] wm-dedup K=$k%-3d ${k * nEvents}%9d events  $sec%7.1f s  maxStateRows=${watcher.maxRows} (one-batch bound $nEvents)  stateMem=${watcher.maxMem / 1024}%d KiB")
    }

    // ---- 3) ingestDedupLoop: O(accepted) store under K staged re-crawls -
    println("[stream-soak] -- ingestDedupLoop (signature store must stay O(accepted)) --")
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val fresh = docs.filter(col("doc_id") % 10 === 7).persist()
    val nFresh = fresh.count()
    val corpusSigs = graft.operators.TextQueries.bandKeysOf(corpus)
      .withColumnRenamed("doc_id", "corpus_doc").persist()
    corpusSigs.count()
    // Replica doc-id shift derived from the data like every other amplified
    // id (a fixed shift collides with genuine ids once the corpus outgrows
    // it, and the accepted/leak classification below keys on id ranges)
    val docShift = math.max(10000000L,
      docs.agg(max(col("doc_id"))).head().getLong(0) + 1L)
    // truth: what ONE crawl of the fresh set admits against the corpus
    val truthOut = tmp("sss_ing_truth_out")
    StreamingDaemon.ingestDedupLoop(spark, {
      val d = tmp("sss_ing_truth_in")
      fresh.coalesce(1).write.mode("append").parquet(d); d
    }, corpusSigs, truthOut, tmp("sss_ing_truth_ckp"), tmp("sss_ing_truth_sig"))
      .awaitTermination()
    val truthAccepted = spark.read.parquet(s"$truthOut/batch=*")
      .select("doc_id").as[Long].collect().toSet
    println(s"[stream-soak] ingest truth: ${truthAccepted.size} of $nFresh fresh docs accepted")
    var skeysRowsRef = -1L // K-invariant skeys row count, pinned at the first K
    for (k <- ks) {
      val inDir = tmp("sss_ing_in")
      // crawl f: exact re-crawl of the whole fresh set with fresh doc ids —
      // truth replicas must be rejected by the persisted hashes store,
      // corpus-dup replicas by the corpus band keys, both deterministic
      for (f <- 0 until k) {
        fresh.select(
          (col("doc_id") + lit(f.toLong) * lit(docShift)).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars"))
          .coalesce(1).write.mode("append").parquet(inDir)
        Thread.sleep(1100)
      }
      val outDir = tmp("sss_ing_out")
      val sigDir = tmp("sss_ing_sig")
      val t0 = System.nanoTime()
      StreamingDaemon.ingestDedupLoop(spark, inDir, corpusSigs, outDir,
        tmp("sss_ing_ckp"), sigDir).awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val kept = spark.read.parquet(s"$outDir/batch=*").select("doc_id")
        .as[Long].collect().toSet
      require(kept.map(_ % docShift) == truthAccepted && kept.forall(_ < docShift),
        s"re-crawl replicas leaked past the store gate at K=$k: ${kept.size} accepted vs truth ${truthAccepted.size}")
      // O(accepted), asserted in ROWS (deterministic; BYTES are reported but
      // not asserted — per-batch parquet dir overhead grows with batch
      // count): the hashes store must hold exactly the accepted hashes and
      // the skeys store exactly the accepted docs' band keys, at EVERY K —
      // a regression that folds rejected docs' signatures in fails here.
      val hashRows = spark.read.parquet(s"$sigDir/hashes").count()
      require(hashRows == truthAccepted.size,
        s"hashes store is not O(accepted) at K=$k: $hashRows rows != ${truthAccepted.size} accepted")
      val skeysRows = spark.read.parquet(s"$sigDir/skeys").count()
      if (skeysRowsRef < 0) skeysRowsRef = skeysRows
      require(skeysRows == skeysRowsRef,
        s"skeys store grew with K (not O(accepted)): $skeysRows rows at K=$k vs $skeysRowsRef at K=${ks.head}")
      val storeKiB = dirBytes(sigDir) / 1024
      println(f"[stream-soak] ingest   K=$k%-3d ${k * nFresh}%9d docs    $sec%7.1f s  accepted=${kept.size} (==truth)  storeRows=$hashRows+$skeysRows  storeKiB=$storeKiB")
    }
    // Informational near-dup recall line (NOT asserted — banded LSH recall
    // is probabilistic by design; see scaladoc): one tail-token near-dup
    // re-crawl probed against a store holding the truth signatures.
    {
      val inDir = tmp("sss_ing_nd_in")
      fresh.coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(1100)
      fresh.select((col("doc_id") + lit(docShift)).as("doc_id"),
        concat(col("text"), lit(" repx")).as("text"),
        col("lang"), col("source"), col("n_chars"))
        .coalesce(1).write.mode("append").parquet(inDir)
      val outDir = tmp("sss_ing_nd_out")
      StreamingDaemon.ingestDedupLoop(spark, inDir, corpusSigs, outDir,
        tmp("sss_ing_nd_ckp"), tmp("sss_ing_nd_sig")).awaitTermination()
      val leaked = spark.read.parquet(s"$outDir/batch=*").select("doc_id")
        .as[Long].collect().count(_ >= docShift)
      println(f"[stream-soak] near-dup re-crawl leak (informational, LSH recall tail): $leaked of ${truthAccepted.size} replicas (${100.0 * leaked / truthAccepted.size}%.1f%%)")
    }
    println("[stream-soak] PASS: all three streaming pipelines hold their state posture at every K")
    spark.stop()
  }
}
