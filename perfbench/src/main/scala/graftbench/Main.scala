package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.graftbench.Bus
import graft.Sessions

/** A benchmark workload: `generate` builds the inputs, `warmUp` makes one
  * untimed pass over them, `pass` runs one timed pass and records its
  * operations in the run's [[Ctx]].
  */
trait Workload {
  /** The operation kind whose latencies `op_gmean_s` reports. */
  def opKind: String
  def generate(rep: Int): Unit
  def warmUp(): Unit
  def pass(i: Int, tr: Tracer): Unit
  def detail: Map[String, Any]
  /** Workload-specific per-layer metrics over the traced passes. */
  def layers(passes: Seq[Int]): Map[String, Double] = Map.empty
}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`,
  * run from the root of a checkout. Prints one JSON result line last.
  */
object Main {
  val Cores = 4
  val Workloads = Seq("inventory", "compaction")
  /** How many times a run generates its inputs; `setup_s` takes the median. */
  val SetupReps = 3
  /** Timed passes a run makes at least, whatever `--seconds` says. */
  val MinPasses = 3
  /** Traced passes a traced run makes at least, after its untraced ones. */
  val TracedMinPasses = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val root = Paths.get("").toAbsolutePath
    val work = root.resolve(".bench_work").resolve(workload)
    Files2.deleteTree(work)
    Files.createDirectories(work)
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)
    System.setProperty("spark.sql.streaming.numRecentProgressUpdates", "100000")

    val t0 = System.nanoTime()
    val spark = Sessions.tuned(s"local[$Cores]", Cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, seed, root, work)
    def make(name: String): Workload = name match {
      case "inventory"  => new Inventory(ctx)
      case "compaction" => new CompactionWorkload(ctx)
      case other        => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (workload == "train") {
      // Loads the classes every workload uses, for the class-data sharing
      // archive run.py builds: set-up and warm-up of each, no output.
      Workloads.foreach { w => val wl = make(w); wl.generate(1); wl.warmUp() }
      Runtime.getRuntime.halt(if (ctx.failed == 0) 0 else 1)
    }
    val wl = make(workload)

    def timeS(body: => Unit): Double = {
      val s = System.nanoTime()
      body
      (System.nanoTime() - s) / 1e9
    }
    // Set-up is what a fresh session pays before its first timed pass:
    // session start, input generation (median of SetupReps, the last one's
    // inputs are used) and one warm-up pass, which builds the memoized
    // artifacts and carries the JIT and code-generation warm-up.
    val generateS = (1 to SetupReps).map(rep => timeS(wl.generate(rep)))
    val warmUpS = timeS(wl.warmUp())
    val setupS = sessionS + Stats.median(generateS) + warmUpS

    // Timed passes run with tracing off. A traced run makes the untraced
    // passes of a plain run and then traced ones, so its overhead is
    // measured in the same JVM against equally warm passes.
    val off = new Tracer(false)
    val passS = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
    val passCpuS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val steal0 = stealS()
    def runPasses(budget: Double, tr: Tracer, minPasses: Int): Unit = {
      val start = System.nanoTime()
      var n = 0
      while (n < minPasses || (System.nanoTime() - start) / 1e9 < budget) {
        val i = passS.size
        val s = System.nanoTime()
        val c = cpuS()
        tr("pass")(wl.pass(i, tr))
        passS += ((i, (System.nanoTime() - s) / 1e9, tr.on))
        passCpuS += cpuS() - c
        n += 1
      }
    }
    val on = new Tracer(true)
    var layers: Layers = null
    runPasses(seconds, off, MinPasses)
    val passStealS = stealS() - steal0
    ctx.runChecks()
    if (trace) {
      layers = Layers.attach(spark.sparkContext)
      runPasses(seconds / 2, on, TracedMinPasses)
      Bus.drain(spark.sparkContext)
    }
    val rssMb = peakRssMb()

    val untraced = passS.filterNot(_._3)
    val untracedPass = Stats.median(untraced.map(_._2).toSeq)
    val untracedIds = untraced.map(_._1).toSet
    val opRuns = ctx.ops.filter(o => o.kind == wl.opKind && untracedIds(o.pass)).toSeq
    val samples = opRuns.map(_.latency)
    // The operations differ by up to 4x in latency, so the median of all
    // samples falls between two of them and jumps from run to run; the
    // geometric mean of each operation's median weighs every one alike.
    val opMedians = opRuns.groupBy(_.name).values.map(os => Stats.median(os.map(_.latency))).toSeq
    val tail = Stats.tailLevel(samples.size)
    val endToEnd = Map(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (untracedPass, "s"),
      "op_gmean_s" -> (Stats.geomean(opMedians), "s"),
      "peak_rss_mb" -> (rssMb, "MB"))
    val detail = Map[String, Any](
      "workload" -> workload,
      "seed" -> seed,
      "trace" -> trace,
      "cores" -> Cores,
      "session_s" -> sessionS,
      "generate_s" -> generateS,
      "warm_up_s" -> warmUpS,
      "check_s" -> ctx.checkS,
      "passes_s" -> passS.map(_._2),
      "passes_cpu_s" -> passCpuS,
      "passes_host_steal_s" -> passStealS,
      "op_kind" -> wl.opKind,
      "op_samples" -> samples.size,
      "op_p50_s" -> Stats.median(samples),
      "op_p90_s" -> Stats.percentile(samples, 0.9),
      "op_tail_level" -> tail,
      "op_tail_s" -> tail.map(Stats.percentile(samples, _)),
      "failed_frac" -> ctx.failed.toDouble / math.max(ctx.attempted, 1),
      "failures" -> ctx.failures,
      "op_medians_s" -> ctx.ops.filter(_.ok).groupBy(o => s"${o.kind}:${o.name}")
        .map { case (k, os) => k -> Stats.median(os.map(_.seconds).toSeq) }) ++ wl.detail
    val metrics: Map[String, (Double, String)] =
      if (!trace) endToEnd
      else {
        val tracedPasses = passS.filter(_._3).map(_._1).toSeq
        val traced = Stats.median(passS.filter(_._3).map(_._2).toSeq)
        val perLayer = LayerMetrics.compute(on.spans, layers) ++
          wl.layers(tracedPasses).map { case (k, v) => k -> (v, LayerMetrics.unitOf(k)) } ++ Map(
            "trace.pass_s" -> (traced, "s"),
            "trace.overhead_s" -> (traced - untracedPass, "s"))
        TraceFile.write(root, workload, seed, on.spans, layers, perLayer)
        perLayer
      }

    val outDir = Files.createDirectories(root.resolve(".bench_out"))
    val detailJson = Json.render(detail ++ Map("end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))
    Files.writeString(outDir.resolve(s"detail-$workload-seed$seed-trace${if (trace) 1 else 0}.json"), detailJson + "\n")
    println(detailJson)
    println(Json.render(Map(
      "correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
    System.out.flush()
    // The result is out; run.py removes the working directory. Halting
    // skips a second or more of Spark shutdown per run.
    Runtime.getRuntime.halt(0)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the JVM has used, all threads. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** CPU seconds the host has taken from this machine's vCPUs (`steal` in
    * `/proc/stat`), all vCPUs together.
    */
  def stealS(): Double = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toDouble / 100 else Double.NaN
  }

  /** The JVM's peak resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024
  }
}
