package graft

import org.apache.spark.sql.SparkSession

/** Multi-JVM validation of `spark.graft.checkpoint.mode=reliable` — the
  * cluster posture the round-12 switch exists for, which `local[n]` can
  * never exercise (one JVM = nothing to kill).
  *
  * Runs the two memoized pipelines the switch guards — the
  * `q_dedup_components` banding chain and the vector IVF memo path —
  * on `local-cluster[2,2,1024]` (real standalone scheduler, 2 separate
  * executor JVMs), pins everything to a fault-tolerant checkpoint dir,
  * then SIGKILLs one executor JVM and re-consumes the pinned artifacts:
  *
  *  - reliable mode must survive the kill (checkpoint FILES are readable
  *    by any surviving/replacement executor) with results equal to the
  *    pre-kill run and to plain local mode;
  *  - a pin whose WRITE is interrupted (executor SIGKILLed mid-cold-run
  *    over a fresh fixture copy) must retry to the correct result — never
  *    serve a torn artifact;
  *  - a fixture fingerprint ROTATION must evict the superseded
  *    generation's reliable checkpoint dirs (the Memo artifact's release)
  *    under the multi-JVM scheduler, with the new pin's results correct —
  *    the cluster form of MemoSpec's in-process eviction scenarios.
  *
  * Not part of `sbt test` (one SparkContext per JVM; the suites share a
  * `local[4]` session): run manually / per round via
  * `SPARK_SCALA_VERSION=2.13 sbt "runMain graft.ClusterProbe"` — takes
  * ~2-4 min at sf0.001. The env var matters: the standalone Worker builds
  * the executor command through the launcher library, whose Scala-version
  * probe otherwise dies with "Cannot find any build directories" when
  * SPARK_HOME is a bare dist without launcher/target. Results are
  * recorded in BASELINE.md ("Current numbers").
  */
object ClusterProbe {
  private def labels(s: SparkSession, sfDir: String): Map[Long, Long] =
    SparkEntry.queries("q_dedup_components")(s, sfDir)
      .selectExpr("doc_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val ckpDir = ProbeKill.tempDir("graft_cluster_ckp")

    // Phase 1: local-mode truth (own context; stopped before the cluster one)
    val sLocal = Sessions.tuned("local[4]", "4")
    sLocal.sparkContext.setLogLevel("WARN")
    val truth = labels(sLocal, sfDir)
    println(s"[cluster-probe] local[4] truth: ${truth.size} labeled docs")
    sLocal.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()

    // Phase 2: real multi-JVM scheduler ([[Sessions.localCluster]]).
    val s = Sessions.localCluster(Map("spark.graft.checkpoint.mode" -> "reliable"))
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(ckpDir)
    // Kill + evidence machinery (ProbeKill scaladoc): mid-run-kill evidence
    // is LISTENER-based — a kill only counts as having interrupted the run
    // if some task actually ended in failure / resubmission because of it —
    // with the baseline quiescent-snapshotted so stragglers from earlier
    // churn can't satisfy a later check; the phase-3 kill itself is
    // task-start-triggered (deterministically mid-work) instead of the
    // fixed-delay thread that landed after the last task in ~half of runs.
    val failedTasks = new ProbeKill.FailedTaskCounter
    val appId = s.sparkContext.applicationId
    val killer = new ProbeKill.TaskStartKiller(appId)
    s.sparkContext.addSparkListener(failedTasks)
    s.sparkContext.addSparkListener(killer)
    def executorPids(): Seq[Long] = ProbeKill.executorPids(appId)
    // wait for both executor JVMs to register with the driver
    var waited = 0
    while (s.sparkContext.statusTracker.getExecutorInfos.length < 3 && waited < 120) {
      Thread.sleep(1000); waited += 1
    }
    require(s.sparkContext.statusTracker.getExecutorInfos.length >= 3, // driver + 2
      "local-cluster executors failed to register within 120s")
    println(s"[cluster-probe] cluster up: ${executorPids().size} executor JVMs after ${waited}s")

    // Pin both pipelines in reliable mode on the cluster. The task window is
    // read via settledStarts() on both ends (TaskStart delivery is async; an
    // undercounted window would arm the phase-3 kill far before the quarter
    // point).
    val t2Start = System.nanoTime()
    val startsBeforeCold = killer.settledStarts()
    val got1 = labels(s, sfDir)
    val coldRunSec = (System.nanoTime() - t2Start) / 1e9
    val coldTasks = killer.settledStarts() - startsBeforeCold
    require(got1 == truth, s"cluster reliable run diverges from local truth (${got1.size} vs ${truth.size})")
    val ivf1 = SparkEntry.queries("q_simsearch_ivf")(s, sfDir).collect().toSeq
    require(ivf1.nonEmpty, "vector memo pipeline returned no rows on the cluster")
    println(s"[cluster-probe] pre-kill: components=${got1.size} labels OK, ivf=${ivf1.size} rows OK")

    // SIGKILL one executor JVM
    val pids = executorPids()
    require(pids.nonEmpty, "no executor JVM visible to pgrep")
    val victim = pids.head
    println(s"[cluster-probe] killing executor pid=$victim (of ${pids.size})")
    ProcessHandle.of(victim).ifPresent(h => h.destroyForcibly())
    Thread.sleep(3000)
    require(executorPids().size < pids.size || !ProcessHandle.of(victim).isPresent,
      "kill did not take")

    // Re-consume the SAME memoized pinned artifacts (same context, same
    // fingerprints -> the memo serves the reliable-checkpointed DataFrames;
    // their partitions must be readable despite the dead executor)
    val got2 = labels(s, sfDir)
    require(got2 == truth, s"post-kill reliable consume diverges (${got2.size} vs ${truth.size})")
    val ivf2 = SparkEntry.queries("q_simsearch_ivf")(s, sfDir).collect().toSeq
    require(ivf2.map(_.toString).sorted == ivf1.map(_.toString).sorted,
      "post-kill vector memo consume diverges")
    println(s"[cluster-probe] post-kill: components + ivf both equal pre-kill results")
    println("[cluster-probe] PASS(1/3): reliable pins survive executor JVM death on local-cluster[2,2,1024]")

    // wait for the standalone Worker to relaunch the killed executor so the
    // next phases start from a full 2-executor cluster again
    ProbeKill.awaitExecutors(appId)
    println(s"[cluster-probe] executor relaunched")

    // ---- Phase 3: kill an executor MID-PIN --------------------------------
    // The sharper claim than consume-after-kill: a reliable pin() whose
    // write is interrupted by executor death either completes via task/stage
    // retry or fails loudly — it never serves a torn artifact. A COPY of the
    // fixture gets a fresh path+fingerprint, so every memo misses and the
    // whole pin chain re-runs cold; the killer fires on the task start a
    // quarter of the way into the task-start count measured in phase 2's
    // cold run and SIGKILLs the executor that task launched on.
    val dirA = ProbeKill.tempDir("graft_probe_rotate")
    for (t <- Seq("documents", "embeddings"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/$t.parquet"),
        java.nio.file.Paths.get(s"$dirA/$t.parquet"))
    def rddDirs(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory)
          (if (f.getName.startsWith("rdd-")) 1 else 0) +
            Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
        else 0
      walk(new java.io.File(ckpDir))
    }
    val c0 = rddDirs() // checkpoint dirs before any dirA work (sfDir families)
    val failedBefore = failedTasks.quiescentSnapshot(s)
    killer.arm(math.max(1, (coldTasks / 4).toInt))
    val got3 = labels(s, dirA)
    killer.disarm()
    // The kill must have interrupted actual work: at least one task of the
    // cold run must have ended non-Success (ExecutorLost / resubmitted).
    // A kill that never fired proves nothing — rerun rather than record a
    // vacuous pass.
    failedTasks.requireInterrupted(failedBefore,
      s"mid-pin kill interrupted no task (cold run ${coldRunSec}s / $coldTasks starts, fired=${killer.fired})")
    require(got3 == truth,
      s"mid-pin-kill run diverges from truth (${got3.size} vs ${truth.size}): a retried pin served a torn artifact")
    println("[cluster-probe] PASS(2/3): pin interrupted by executor SIGKILL retried to the correct result (no torn artifact)")

    ProbeKill.awaitExecutors(appId)

    // ---- Phase 4: fingerprint rotation evicts superseded reliable pins ----
    // MemoSpec proves artifact eviction in-process; this is the same claim
    // under the multi-JVM scheduler: rewrite the fixture (new fingerprint),
    // re-run, and the superseded generation's cached-family checkpoint dirs
    // must be deleted while the new pin's results are correct. Per-run
    // intermediate pins ride the GC + ContextCleaner backstop, hence the
    // settle loop; without eviction the cached families alone would add a
    // full second generation of dirs.
    val c1 = rddDirs() // after the phase-3 cold run over dirA
    val gen1 = c1 - c0 // one full generation of dirA pins (families + intermediates)
    require(gen1 > 0, s"phase-3 run left no reliable checkpoint dirs to rotate ($c0 -> $c1)")
    val rows = Seq(
      (1L, "entirely unrelated prose about spark physical plans"),
      (2L, "rotated snapshot duplicate text shared by two docs"),
      (3L, "rotated snapshot duplicate text shared by two docs"))
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      rows.map { case (id, t) =>
        org.apache.spark.sql.Row(id, t, "en", "probe", t.length.toLong)
      }.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dirA/documents.parquet")
    // No mtime nudging needed: after the overwrite the path is a Spark-written
    // DIRECTORY, and the dir:<hash> fingerprint digests the recursive file
    // listing (fresh task-UUID part names every write) — rotation detection
    // cannot miss a same-tick rewrite.
    val got4 = labels(s, dirA)
    require(got4 == Map(2L -> 2L, 3L -> 2L),
      s"post-rotation labels wrong: $got4 (stale pin served?)")
    // Without eviction the rotated run would stack a SECOND full generation
    // on top of gen1; with it, the superseded cached-family dirs are deleted
    // synchronously during the re-run and per-run intermediates settle via
    // the GC backstop.
    var settled = rddDirs()
    var tries = 0
    while (settled >= c1 + gen1 && tries < 30) {
      System.gc(); Thread.sleep(500); settled = rddDirs(); tries += 1
    }
    require(settled < c1 + gen1,
      s"superseded checkpoint dirs not evicted on rotation: before=$c1 (gen size $gen1), after settle=$settled")
    println(s"[cluster-probe] PASS(3/3): rotation evicted superseded reliable pins (gen1=$gen1 dirs; $c1 -> $settled after re-run + settle)")
    println("[cluster-probe] PASS: all three reliable-mode lifecycle phases green on local-cluster[2,2,1024]")
    s.stop()
  }
}
