package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.SnapshotStore
import graft.streaming.StreamingDaemon

/** Multi-JVM validation of the STREAMING daemon's fault tolerance — the
  * sibling of [[ClusterProbe]] (which proves the batch reliable-checkpoint
  * lifecycle): StreamingSpec proves the restart-from-checkpoint semantics
  * on `local[4]`, where executor death cannot happen; this probe runs the
  * same two stateful pipelines on `local-cluster[2,2,1024]` (real
  * standalone scheduler, two separate executor JVM processes) and SIGKILLs
  * an executor while a micro-batch is executing:
  *
  *  - `ingestDedupLoop` (the crawl-ingest dedup gate, persisted signature
  *    store): a kill mid-batch must be absorbed by task/stage retry — the
  *    accepted set at the end equals the no-kill truth, and a
  *    query RESTART from the same checkpointLocation afterwards still
  *    rejects a near-dup of a pre-kill admission (the persisted store +
  *    file-source checkpoint survived both the executor death and the
  *    process boundary);
  *  - `statefulLww` (mapGroupsWithState, HDFSBackedStateStore under
  *    checkpointLocation): a kill mid-batch must not lose or double-count
  *    keyed state — the final per-key (newest version, versions_seen
  *    counter) equals batch truth, and a restarted query continues the
  *    SAME state (the counter keeps counting, never resets), which is the
  *    O(keys)-state claim the 100 TB posture rests on.
  *
  * The kill is DETERMINISTIC since round 16 ([[ProbeKill.TaskStartKiller]]):
  * it fires on the midpoint task start of the killed run (sized from the
  * phase's own dry run) and targets the executor that task launched on, so
  * it provably lands with work in flight — the fixed-delay thread it
  * replaces landed between micro-batches in ~half of runs. Kill evidence
  * stays listener-based: the pass only counts if at least one task actually
  * ended non-Success during the killed run (baseline quiescent-snapshotted
  * so an earlier phase's churn stragglers can't satisfy it), and the probe
  * still says "rerun" instead of recording a vacuous pass.
  *
  * Not part of `sbt test` (one SparkContext per JVM): run per round via
  * `SPARK_SCALA_VERSION=2.13 sbt "runMain graft.StreamClusterProbe"`
  * (~3-5 min at sf0.001). Results recorded in BASELINE.md
  * ("Current numbers").
  */
object StreamClusterProbe {

  /** Batch LWW truth over a (event_id, ts_us, user_id, event_type, value)
    * frame: per key the newest version by (ts_us, event_id) plus the total
    * version count — exactly what [[StreamingDaemon.statefulLww]]'s final
    * per-key update must equal regardless of micro-batch slicing.
    */
  private def lwwTruth(ev: DataFrame): Map[(Long, String), (Long, Long, Double, Long)] =
    ev.groupBy(col("user_id"), col("event_type"))
      .agg(
        max_by(struct(col("event_id"), col("ts_us"), col("value")),
          struct(col("ts_us"), col("event_id"))).as("w"),
        count(lit(1)).as("n"))
      .select(col("user_id"), col("event_type"),
        col("w.event_id"), col("w.ts_us"), col("w.value"), col("n"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap

  /** Final streamed LWW state: the update row from the LATEST batch per key
    * (`outDir/batch=N` written by the foreachBatch sink; partition pruning
    * makes the read a metadata walk + last-batch scan shape).
    */
  private def lwwFinal(s: SparkSession, outDir: String): Map[(Long, String), (Long, Long, Double, Long)] =
    s.read.parquet(outDir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max_by(struct(col("last_event_id"), col("ts_us"), col("last_value"),
        col("versions_seen")), col("batch")).as("w"))
      .select(col("user_id"), col("event_type"),
        col("w.last_event_id"), col("w.ts_us"), col("w.last_value"), col("w.versions_seen"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))).toMap

  private def acceptedSet(s: SparkSession, outDir: String): Set[Long] =
    s.read.parquet(s"$outDir/batch=*").select("doc_id")
      .collect().map(_.getLong(0)).toSet

  /** Run [[StreamingDaemon.statefulLww]] over the staged event files as an
    * AvailableNow file stream, one file per trigger, batch-dir sink.
    */
  private def runLww(s: SparkSession, evDir: String, outDir: String, ckpDir: String): Unit = {
    import s.implicits._
    val ds = s.readStream
      .schema("event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(evDir)
      .as[StreamingDaemon.EventIn]
    StreamingDaemon.statefulLww(ds)
      .writeStream
      .option("checkpointLocation", ckpDir)
      .outputMode(StreamingDaemon.statefulLwwOutputMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[StreamingDaemon.LwwUpdate], batchId: Long) =>
          SnapshotStore.commit(SnapshotStore.local(s"$outDir/batch=$batchId"))(batch.write.parquet(_))
          ()
      }
      .start()
      .awaitTermination()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    def tmp(tag: String) = ProbeKill.tempDir(tag)
    val inDir = tmp("scp_docs_in")
    val evDir = tmp("scp_ev_in")

    // ---- Stage inputs + compute truth on a plain local session ----------
    val sLocal = Sessions.tuned("local[4]", "4")
    sLocal.sparkContext.setLogLevel("WARN")
    val docs = Tables.documents(sLocal, sfDir)
    // corpus = pre-existing signature store; fresh = the streamed crawl
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val fresh = docs.filter(col("doc_id") % 10 === 7)
    // three micro-batch files; distinct mtimes pin the file-source order so
    // the truth run and both cluster runs see identical batch slicing
    for (i <- 0 until 3) {
      fresh.filter(col("doc_id") % 3 === i).coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(1100)
    }
    // four event micro-batch files, ts pre-normalized to epoch micros
    val evNorm = Tables.events(sLocal, sfDir).select(
      col("event_id"), unix_micros(col("ts")).as("ts_us"),
      col("user_id"), col("event_type"), col("value"))
    for (i <- 0 until 4) {
      evNorm.filter(col("event_id") % 4 === i).coalesce(1).write.mode("append").parquet(evDir)
      Thread.sleep(1100)
    }
    // Truth #1: the accepted set of a clean single-process run over the SAME
    // staged files (fresh checkpoint). NOT localCheckpoint'ed corpus sigs:
    // on the cluster the lineage must stay recomputable through an executor
    // death, so both sides use the plain recomputable DataFrame.
    val corpusSigsLocal = graft.operators.TextQueries.bandKeysOf(corpus)
      .withColumnRenamed("doc_id", "corpus_doc")
    val truthOut = tmp("scp_t_out")
    StreamingDaemon.ingestDedupLoop(
      sLocal, inDir, corpusSigsLocal, truthOut, tmp("scp_t_ckp"), tmp("scp_t_sig"))
      .awaitTermination()
    val truthAccepted = acceptedSet(sLocal, truthOut)
    // Truth #2: batch LWW over all staged events
    val truthLww = lwwTruth(sLocal.read.parquet(evDir))
    println(s"[stream-probe] truth: ${truthAccepted.size} accepted docs, ${truthLww.size} LWW keys")
    sLocal.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()

    // ---- Multi-JVM cluster session --------------------------------------
    val s = Sessions.localCluster()
    s.sparkContext.setLogLevel("WARN")
    // Kill + evidence machinery (ProbeKill scaladoc): the killer fires on an
    // armed TASK-START count — sized from each phase's own dry run — and
    // SIGKILLs the executor that task just launched on, so the kill provably
    // lands with work in flight (the fixed-delay thread it replaces landed
    // between micro-batches in ~half of runs and forced a rerun); the failed
    // counter's baseline is quiescent-snapshotted so churn stragglers from an
    // earlier phase can never satisfy a later phase's evidence check.
    val failedTasks = new ProbeKill.FailedTaskCounter
    val killer = new ProbeKill.TaskStartKiller(s.sparkContext.applicationId)
    s.sparkContext.addSparkListener(failedTasks)
    s.sparkContext.addSparkListener(killer)
    val appId = s.sparkContext.applicationId
    var waited = 0
    while (s.sparkContext.statusTracker.getExecutorInfos.length < 3 && waited < 120) {
      Thread.sleep(1000); waited += 1
    }
    require(s.sparkContext.statusTracker.getExecutorInfos.length >= 3, // driver + 2
      "local-cluster executors failed to register within 120s")
    def awaitRelaunch(): Unit = ProbeKill.awaitExecutors(appId)

    val corpusC = Tables.documents(s, sfDir).filter(col("doc_id") % 10 =!= 7)
    val corpusSigsC = graft.operators.TextQueries.bandKeysOf(corpusC)
      .withColumnRenamed("doc_id", "corpus_doc")

    // ---- Phase 1: ingestDedupLoop dry run (cluster, no kill) ------------
    val outA = tmp("scp_a_out")
    val t0 = System.nanoTime()
    // settledStarts on both ends: async TaskStart delivery must not
    // undercount the window the kill midpoint is computed from
    val startsBeforeDry = killer.settledStarts()
    StreamingDaemon.ingestDedupLoop(
      s, inDir, corpusSigsC, outA, tmp("scp_a_ckp"), tmp("scp_a_sig"))
      .awaitTermination()
    val drySec = (System.nanoTime() - t0) / 1e9
    val dryTasks = killer.settledStarts() - startsBeforeDry
    require(acceptedSet(s, outA) == truthAccepted,
      "clean cluster ingest run diverges from single-process truth")
    println(f"[stream-probe] PASS(1/4): clean multi-JVM ingest run equals truth (${drySec}%.1f s, $dryTasks task starts)")

    // ---- Phase 2: ingestDedupLoop with executor SIGKILL mid-batch -------
    val outB = tmp("scp_b_out")
    val ckpB = tmp("scp_b_ckp")
    val sigB = tmp("scp_b_sig")
    val failedBefore = failedTasks.quiescentSnapshot(s)
    // Kill at the midpoint task start of an identical run: provably mid-work.
    killer.arm(math.max(1, (dryTasks / 2).toInt))
    StreamingDaemon.ingestDedupLoop(s, inDir, corpusSigsC, outB, ckpB, sigB)
      .awaitTermination()
    killer.disarm()
    failedTasks.requireInterrupted(failedBefore,
      s"kill interrupted no task (dry ${drySec}s / $dryTasks starts, fired=${killer.fired})")
    require(acceptedSet(s, outB) == truthAccepted,
      "killed ingest run diverges from truth: executor death corrupted the gate")
    println("[stream-probe] PASS(2/4): ingest gate absorbed an executor SIGKILL mid-batch (accepted set equals truth)")
    awaitRelaunch()

    // ---- Phase 3: restart the SAME checkpoint after the kill ------------
    // While the daemon is "down": a near-dup clone of a pre-kill admission
    // and a genuinely novel doc land as a new file. The restarted query
    // must reject the clone via the PERSISTED signature store (state that
    // survived both the kill and the process boundary) and admit the novel
    // doc. Mirrors StreamingSpec's restart scenario, now under the
    // multi-JVM scheduler with a dirty (post-kill) checkpoint.
    val keeper = Tables.documents(s, sfDir).filter(col("doc_id") === truthAccepted.min)
    val novelText = (1 to 60).map(i => s"scp${i}probe").mkString(" ")
    keeper.withColumn("doc_id", col("doc_id") + 2000000L)
      .union(keeper
        .withColumn("doc_id", col("doc_id") + 3000000L)
        .withColumn("text", lit(novelText)))
      .coalesce(1).write.mode("append").parquet(inDir)
    // Re-processing cannot be detected from the accepted SET alone (a replay
    // would self-dedup against its own persisted hashes and converge to the
    // same set) — pin the committed batch dirs byte-for-byte instead, the
    // StreamingSpec fileSig discipline.
    def batchSigs(dir: String): Map[String, (Long, Long)] =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .flatMap(b => Option(b.listFiles()).getOrElse(Array.empty).filter(_.isFile)
          .map(f => s"${b.getName}/${f.getName}" -> ((f.length, f.lastModified))))
        .toMap
    val preRestartSigs = batchSigs(outB)
    StreamingDaemon.ingestDedupLoop(s, inDir, corpusSigsC, outB, ckpB, sigB)
      .awaitTermination()
    require(batchSigs(outB).view.filterKeys(preRestartSigs.contains).toMap == preRestartSigs,
      "restart REWROTE a committed pre-restart batch dir (checkpoint ignored)")
    val kept = acceptedSet(s, outB)
    require(kept.filter(_ < 2000000L) == truthAccepted,
      "restart lost a pre-restart batch")
    require(!kept.exists(id => id >= 2000000L && id < 3000000L),
      "near-dup of a pre-kill admission re-admitted after restart — store state lost")
    require(kept.exists(_ >= 3000000L), "novel post-restart doc wrongly rejected")
    println("[stream-probe] PASS(3/4): restart from the post-kill checkpoint kept the dedup state (clone rejected, novel admitted)")

    // ---- Phase 4: statefulLww — kill mid-batch, then restart ------------
    val outL1 = tmp("scp_l1_out")
    val tL = System.nanoTime()
    val startsBeforeLww = killer.settledStarts()
    runLww(s, evDir, outL1, tmp("scp_l1_ckp"))
    val dryLww = (System.nanoTime() - tL) / 1e9
    val lwwTasks = killer.settledStarts() - startsBeforeLww
    require(lwwFinal(s, outL1) == truthLww,
      "clean cluster statefulLww run diverges from batch truth")
    val outL2 = tmp("scp_l2_out")
    val ckpL2 = tmp("scp_l2_ckp")
    val failedBeforeL = failedTasks.quiescentSnapshot(s)
    killer.arm(math.max(1, (lwwTasks / 2).toInt))
    runLww(s, evDir, outL2, ckpL2)
    killer.disarm()
    failedTasks.requireInterrupted(failedBeforeL,
      s"LWW kill interrupted no task (dry ${dryLww}s / $lwwTasks starts, fired=${killer.fired})")
    require(lwwFinal(s, outL2) == truthLww,
      "killed statefulLww run diverges from batch truth: keyed state lost or double-counted")
    awaitRelaunch()
    // restart leg: one more file with NEWER versions for a key subset and
    // fresh event ids; the restarted query must CONTINUE the state-store
    // counters (versions_seen keeps counting across kill + restart), and
    // the newest-version fields must update
    val maxId = s.read.parquet(evDir).agg(max(col("event_id"))).head().getLong(0)
    s.read.parquet(evDir)
      .filter(col("user_id") % 5 === 0)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("ts_us")).as("ts_us"), first(col("value")).as("value"))
      .withColumn("event_id", monotonically_increasing_id() + maxId + 1L)
      .withColumn("ts_us", col("ts_us") + 864000000000L) // +10 days
      .withColumn("value", col("value") + 1000.0)
      .select("event_id", "ts_us", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(evDir)
    runLww(s, evDir, outL2, ckpL2)
    val truthLww2 = lwwTruth(s.read.parquet(evDir))
    require(lwwFinal(s, outL2) == truthLww2,
      "restarted statefulLww diverges from batch truth over old+new events — state did not persist across restart")
    require(truthLww2.exists { case (k, v) => truthLww.get(k).exists(_._4 + 1 == v._4) },
      "restart leg produced no continued version counter — probe input defect")
    println("[stream-probe] PASS(4/4): statefulLww state survived executor SIGKILL and query restart (counters continued, versions correct)")
    println("[stream-probe] PASS: all four streaming lifecycle phases green on local-cluster[2,2,1024]")
    s.stop()
  }
}
