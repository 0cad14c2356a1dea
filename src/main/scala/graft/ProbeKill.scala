package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd,
  SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

/** Kill/evidence machinery for the multi-JVM kill probe ([[KillProbe]]) —
  * NOT part of the library surface.
  *
  * Round-15 ruling: both probes used a fixed-delay SIGKILL thread, so in
  * roughly half of runs the kill landed between micro-batches / after the
  * last task and the probe had to say "rerun" (honest, but ~2× the
  * multi-minute probe cost per round). The deterministic replacement is
  * task-start-triggered: a [[TaskStartKiller]] listener arms on a task-start
  * COUNT measured from the phase's own dry run, and when the Nth task start
  * arrives it SIGKILLs the executor THAT VERY TASK just launched on — the
  * kill provably lands with work in flight on the killed JVM, so the
  * listener-verified failed-task evidence follows instead of being left to
  * timing luck.
  *
  * [[FailedTaskCounter]] is the evidence side, with the round-15 ADVICE fix:
  * the counter is session-wide and SparkListener events are delivered
  * asynchronously, so a snapshot taken right before a killed phase could be
  * retro-bumped by stragglers from an EARLIER phase's kill or relaunch churn
  * — falsely satisfying the later phase's kill-evidence check.
  * `quiescentSnapshot` runs a marker job (pushing queued events through the
  * FIFO bus) and then requires the counter to hold still before trusting the
  * baseline.
  */
object ProbeKill {

  /** A fresh directory under the system temp dir for a probe's inputs,
    * outputs or checkpoints, deleted with its contents when the probe's JVM
    * exits, pass or fail.
    */
  def tempDir(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir.toString
  }

  /** Executor-JVM pids of this application, keyed by Spark executor id.
    * pgrep reads /proc directly (ProcessHandle.descendants proved
    * unreliable for Worker-spawned processes); matching on the appId keeps
    * the probe from ever touching an unrelated Spark app's executors, and
    * the `--executor-id` argument the standalone Worker passes lets the
    * killer target the executor a specific task is running on.
    */
  def executorPidsById(appId: String): Map[String, Long] = {
    val p = new ProcessBuilder(
      "pgrep", "-af", s"CoarseGrainedExecutorBackend.*$appId").start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    p.waitFor()
    parsePgrep(out)
  }

  /** Parse `pgrep -af` output ("PID full-command-line" per line) into
    * executorId -> pid. Lines without a leading numeric pid or without the
    * `--executor-id <id>` argument pair are skipped (a kill must never be
    * aimed by a malformed parse). Factored out of [[executorPidsById]] so
    * the probe's aiming logic is unit-testable without forking pgrep.
    */
  private[graft] def parsePgrep(out: String): Map[String, Long] =
    out.linesIterator.flatMap { line =>
      val toks = line.trim.split("\\s+")
      val idIdx = toks.indexOf("--executor-id")
      for {
        pid <- toks.headOption.flatMap(t => scala.util.Try(t.toLong).toOption)
        if idIdx >= 0 && idIdx + 1 < toks.length
      } yield toks(idIdx + 1) -> pid
    }.toMap

  def executorPids(appId: String): Seq[Long] =
    executorPidsById(appId).values.toSeq

  /** Polls `done` once a second for up to `seconds`, then requires it:
    * every wait of the probe is bounded and names what did not arrive.
    */
  private def waitFor(seconds: Int, failure: => String)(done: => Boolean): Unit = {
    var w = 0
    while (!done && w < seconds) {
      Thread.sleep(1000); w += 1
    }
    require(done, failure)
  }

  /** Block until the standalone Worker has relaunched enough executor JVMs
    * (it respawns a killed one within seconds; 120 s is a generous bound).
    */
  def awaitExecutors(appId: String, atLeast: Int = 2): Unit =
    waitFor(120, s"Worker did not (re)launch $atLeast executor JVMs within 120s")(
      executorPids(appId).size >= atLeast)

  /** Block until both executors of [[Sessions.localCluster]] have
    * registered with the driver of `s` (its status tracker also lists the
    * driver itself).
    */
  def awaitRegistered(s: SparkSession): Unit = {
    def registered = s.sparkContext.statusTracker.getExecutorInfos.length - 1
    waitFor(120, s"app ${s.sparkContext.applicationId}: only $registered of 2 " +
      "local-cluster executors registered within 120s")(registered >= 2)
  }

  /** SIGKILL one executor JVM of `appId` and wait until pgrep no longer
    * lists it (a killed JVM's cmdline is gone even while it is still a
    * zombie). Returns its pid.
    */
  def killExecutor(appId: String): Long = {
    val pids = executorPids(appId)
    require(pids.nonEmpty, "no executor JVM visible to pgrep")
    val victim = pids.head
    ProcessHandle.of(victim).ifPresent(h => h.destroyForcibly())
    waitFor(30, s"kill did not take: executor pid=$victim still listed 30 s after SIGKILL")(
      !executorPids(appId).contains(victim))
    victim
  }

  /** Every file under `dir`, keyed by its path relative to `dir`, with its
    * (length, mtime): a rewritten file changes its value and an added file
    * is a new key. `.tmp-*` entries and everything under them are skipped:
    * they are writes in flight or abandoned, never committed content. A
    * directory or file deleted during the walk is left out, not an error,
    * since the checkpoint cleaner deletes while the probe counts.
    */
  def dirSignature(dir: String): Map[String, (Long, Long)] = {
    def walk(d: java.io.File, rel: String): Seq[(String, (Long, Long))] =
      Option(d.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith(".tmp-")).flatMap { f =>
        if (f.isDirectory) walk(f, s"$rel${f.getName}/")
        else Seq(s"$rel${f.getName}" -> ((f.length, f.lastModified)))
      }
    walk(new java.io.File(dir), "").toMap
  }

  /** Task-start-triggered executor killer. `lifetimeStarts` always counts
    * (the probes size their kill point from a dry run's task-start total);
    * `arm(n)` schedules a SIGKILL of the executor the n-th subsequent task
    * starts on. Disarm after the phase completes — an armed threshold the
    * run never reached must not fire into a later phase.
    */
  final class TaskStartKiller(appId: String) extends SparkListener {
    val lifetimeStarts = new AtomicLong(0L)
    private val sinceArm = new AtomicInteger(0)
    @volatile private var threshold = Int.MaxValue
    @volatile private var armed = false
    private val firedFlag = new AtomicBoolean(false)
    private val killToken = new AtomicBoolean(false)
    @volatile private var killerThread: Thread = null

    def arm(afterTaskStarts: Int): Unit = {
      require(afterTaskStarts >= 1, s"arm($afterTaskStarts): need >= 1")
      sinceArm.set(0)
      threshold = afterTaskStarts
      firedFlag.set(false)
      killerThread = null
      // The kill permit lives for the whole armed window (set HERE, not at
      // fire time — a fire-time set could land after disarm() already
      // looked, reopening the race the token exists to close).
      killToken.set(true)
      armed = true
    }

    /** Exactly-once kill permit: true only for the FIRST consumer per armed
      * window. The spawned kill thread consumes it immediately before the
      * SIGKILL; [[disarm]] consumes it to revoke. Whichever wins the CAS
      * wins the window, so a post-disarm kill is impossible rather than
      * unlikely (the round-16 `armed` re-check left a millisecond window).
      */
    private[graft] def consumeKillToken(): Boolean =
      killToken.compareAndSet(true, false)

    def disarm(): Unit = {
      armed = false
      consumeKillToken()
      // If the kill thread won the token first, wait (bounded) for its
      // SIGKILL to actually land before the caller proceeds to the next —
      // supposedly clean — phase (restores the fixed-delay killer's
      // join semantics for the spawned thread).
      val t = killerThread
      if (t != null) t.join(5000)
    }

    def fired: Boolean = firedFlag.get

    /** `lifetimeStarts` after the listener bus has gone quiet: TaskStart
      * delivery is asynchronous, so a bare read right after a job returns
      * can undercount the run's task window — and an undercounted dry-run
      * window would arm the next kill far before the midpoint, degrading
      * the deterministic placement this class exists for. Poll until the
      * counter holds still for 500 ms (10 s cap — by then the bus backlog
      * of a finished run has long drained).
      */
    def settledStarts(): Long = {
      var last = lifetimeStarts.get()
      var stable = 0
      var waited = 0
      while (stable < 5 && waited < 100) {
        Thread.sleep(100); waited += 1
        val cur = lifetimeStarts.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      last
    }

    override def onTaskStart(ts: SparkListenerTaskStart): Unit = {
      lifetimeStarts.incrementAndGet()
      if (armed && !firedFlag.get) {
        val n = sinceArm.incrementAndGet()
        if (n >= threshold && firedFlag.compareAndSet(false, true)) {
          val exec = ts.taskInfo.executorId
          // The kill runs off the listener thread (pgrep forks a process);
          // the bus must keep draining while the killer works.
          val t = new Thread(() => {
            // Target the executor the triggering task launched on — that
            // JVM provably has work in flight. On a lookup miss (executor
            // already dead / pgrep raced the relaunch) SKIP the kill: a
            // fallback to an arbitrary executor could hit an idle JVM,
            // reintroducing the timing luck this class removes — better to
            // let requireInterrupted demand an honest rerun.
            executorPidsById(appId).get(exec) match {
              case Some(pid) =>
                if (consumeKillToken()) {
                  println(s"[probe-kill] SIGKILL executor id=$exec pid=$pid on armed task-start #$n")
                  ProcessHandle.of(pid).ifPresent(_.destroyForcibly())
                } else println(s"[probe-kill] kill cancelled by disarm before firing (task-start #$n)")
              case None =>
                println(s"[probe-kill] pid lookup missed for executor id=$exec — skipping kill; the evidence check will demand a rerun if nothing was interrupted")
            }
          })
          killerThread = t
          t.setDaemon(true)
          t.start()
        }
      }
    }
  }

  /** Session-wide non-Success task counter with a quiescent baseline
    * snapshot (see object scaladoc for why a bare read is not a baseline).
    * It keeps the stage of every failed task, so a phase can name the work
    * its kill interrupted.
    */
  final class FailedTaskCounter extends SparkListener {
    // the stage id of each non-Success task end, in delivery order
    private val failedStages = new java.util.concurrent.CopyOnWriteArrayList[Integer]()
    private val stageSites = new java.util.concurrent.ConcurrentHashMap[Integer, String]()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      // A stream's jobs carry the call site of its start, so the RDDs
      // (newest first) say which of a batch's stages it is.
      val rdds = info.rddInfos.sortBy(-_.id).map(_.name.linesIterator.take(1).mkString.take(40)).distinct.take(4)
      val graftFrames = info.details.linesIterator.map(_.trim).filter(_.startsWith("graft.")).take(3)
      stageSites.put(info.stageId, s"stage ${info.stageId} '${info.name}' " +
        s"[${rdds.mkString(", ")}] (${graftFrames.mkString(" < ")})")
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (te.reason != org.apache.spark.Success) failedStages.add(te.stageId)
    def get: Int = failedStages.size

    /** The stages of the tasks that failed after `baseline` failures, each
      * with its name, RDDs and the graft frames of its call site.
      */
    def interruptedStages(baseline: Int): Seq[String] =
      failedStages.asScala.toSeq.drop(baseline).distinct
        .map(id => Option(stageSites.get(id)).getOrElse(s"stage $id"))

    /** Baseline for a kill-evidence check: run a marker job so every event
      * already posted to the FIFO listener bus is processed before it, then
      * require the counter to hold still for `stableMs` — stragglers from a
      * previous phase's kill/relaunch churn surface here instead of
      * retro-satisfying the NEXT phase's evidence.
      */
    def quiescentSnapshot(s: SparkSession, stableMs: Long = 1500): Int = {
      s.sparkContext.parallelize(1 to 8, 8).count()
      var last = get
      var stableFor = 0L
      var totalMs = 0L
      // Bounded like every other probe wait: failures that keep trickling
      // past a minute mean the cluster never settled — fail loudly with the
      // probe's rerun message instead of hanging the multi-minute run.
      while (stableFor < stableMs && totalMs < 60000L) {
        Thread.sleep(100)
        totalMs += 100
        val cur = get
        if (cur == last) stableFor += 100 else { last = cur; stableFor = 0 }
      }
      require(stableFor >= stableMs,
        "failed-task counter never quiesced within 60s — rerun the probe")
      last
    }

    /** Kill-evidence check: at least one task ended non-Success after
      * `baseline`. Polls (listener delivery is async) rather than reading
      * once — a queued TaskEnd must not flunk a genuine interrupt.
      */
    def requireInterrupted(baseline: Int, what: String): Unit =
      waitFor(10, s"$what — rerun the probe")(get > baseline)
  }
}
