package graftbench

import java.nio.file.{Files, Path}

/** Per-layer metrics from a traced run, each a mean per traced pass. */
object LayerMetrics {

  /** Every per-layer metric with its unit. A workload reports each one; a
    * layer it never reaches reads 0.
    */
  val Units: Seq[(String, String)] = Seq(
    "operators.construct_s" -> "s",
    "operators.construct_jobs" -> "count",
    "plans.plan_s" -> "s",
    "scheduler.jobs" -> "count",
    "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count",
    "scheduler.job_busy_s" -> "s",
    "scheduler.driver_gap_s" -> "s",
    "scheduler.sched_delay_s" -> "s",
    "executor.run_s" -> "s",
    "executor.cpu_s" -> "s",
    "executor.gc_s" -> "s",
    "executor.input_bytes" -> "bytes",
    "executor.shuffle_write_bytes" -> "bytes",
    "executor.shuffle_read_bytes" -> "bytes",
    "executor.spill_bytes" -> "bytes",
    "executor.stage_skew" -> "ratio",
    "memo.pin_jobs" -> "count",
    "memo.pin_s" -> "s",
    "components.jobs" -> "count",
    "components.s" -> "s",
    "compactor.bytes_written" -> "bytes",
    "compactor.files_written" -> "count",
    "compactor.files_vs_plan" -> "ratio",
    "merge.add_batch_s" -> "s",
    "merge.trigger_overhead_s" -> "s",
    "merge.read_bytes_per_batch" -> "bytes",
    "merge.bytes_written_per_batch" -> "bytes",
    "trace.pass_s" -> "s",
    "trace.overhead_s" -> "s")

  def unitOf(name: String): String =
    Units.find(_._1 == name).map(_._2).getOrElse(sys.error(s"no unit for per-layer metric $name"))

  val PinFrame = "graft.sources.Memo$.pin"
  val ComponentsFrame = "graft.operators.Components$.labels"

  /** Jobs that started inside a traced pass, each with the innermost span
    * around its start.
    */
  def placed(spans: Seq[Span], layers: Layers): Seq[(JobRec, Span)] = {
    val passes = spans.filter(_.name == "pass")
    layers.jobs.filter(j => passes.exists(_.covers(j.start))).map { j =>
      j -> spans.filter(_.covers(j.start)).maxBy(_.start)
    }
  }

  def ancestors(spans: Seq[Span], s: Span): Seq[Span] = {
    val byId = spans.map(x => x.id -> x).toMap
    Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent))).takeWhile(_.isDefined).map(_.get).toSeq
  }

  def compute(spans: Seq[Span], layers: Layers): Map[String, (Double, String)] = {
    val passes = spans.filter(_.name == "pass")
    val p = math.max(passes.size, 1).toDouble
    val jobs = placed(spans, layers)
    val stages = jobs.flatMap(_._1.stages).distinct.flatMap(layers.stage)
    def sum(f: StageAgg => Double): Double = stages.map(f).sum
    def spanS(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
    val busy = passes.map(ps => Layers.unionSeconds(jobs.map(_._1).map(j => (j.start, j.end)), ps.start, ps.end)).sum
    def siteJobs(frame: String) = jobs.map(_._1).filter(_.site.contains(frame))
    val construct = jobs.count { case (_, s) => ancestors(spans, s).exists(_.name == "construct") }
    val skews = stages.filter(_.tasks >= 2).map { a =>
      val sorted = a.taskRunMs.sorted
      sorted.last.toDouble / math.max(Stats.median(sorted.map(_.toDouble).toSeq), 1.0)
    }
    val v = Map[String, Double](
      "operators.construct_s" -> spanS("construct") / p,
      "operators.construct_jobs" -> construct / p,
      "plans.plan_s" -> spanS("plan") / p,
      "scheduler.jobs" -> jobs.size / p,
      "scheduler.stages" -> stages.size / p,
      "scheduler.tasks" -> sum(_.tasks) / p,
      "scheduler.job_busy_s" -> busy / p,
      "scheduler.driver_gap_s" -> (passes.map(_.seconds).sum - busy) / p,
      "scheduler.sched_delay_s" -> sum(_.schedDelayMs) / 1000 / p,
      "executor.run_s" -> sum(_.runMs) / 1000 / p,
      "executor.cpu_s" -> sum(_.cpuNs) / 1e9 / p,
      "executor.gc_s" -> sum(_.gcMs) / 1000 / p,
      "executor.input_bytes" -> sum(_.inputBytes) / p,
      "executor.shuffle_write_bytes" -> sum(_.shuffleWrite) / p,
      "executor.shuffle_read_bytes" -> sum(_.shuffleRead) / p,
      "executor.spill_bytes" -> sum(_.spill) / p,
      "executor.stage_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)),
      "memo.pin_jobs" -> siteJobs(PinFrame).size / p,
      "memo.pin_s" -> siteJobs(PinFrame).map(j => (j.end - j.start) / 1000).sum / p,
      "components.jobs" -> siteJobs(ComponentsFrame).size / p,
      "components.s" -> siteJobs(ComponentsFrame).map(j => (j.end - j.start) / 1000).sum / p)
    Units.collect { case (k, u) if !k.startsWith("trace.") => k -> (v.getOrElse(k, 0.0), u) }.toMap
  }
}

/** Writes the traced run's spans, jobs and self time per layer. */
object TraceFile {
  def write(root: Path, workload: String, seed: Long, spans: Seq[Span], layers: Layers,
      perLayer: Map[String, (Double, String)]): Unit = {
    val jobs = LayerMetrics.placed(spans, layers).map { case (j, s) =>
      Map("job" -> j.id, "span" -> s.id, "start_ms" -> j.start, "end_ms" -> j.end,
        "stages" -> j.stages,
        "tasks" -> j.stages.flatMap(layers.stage).map(_.tasks).sum,
        "pin" -> j.site.contains(LayerMetrics.PinFrame),
        "components" -> j.site.contains(LayerMetrics.ComponentsFrame))
    }
    val json = Json.render(Map(
      "workload" -> workload,
      "seed" -> seed,
      "self_s" -> Layers.selfSeconds(spans),
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.start, "end_ms" -> s.end)),
      "jobs" -> jobs))
    val dir = Files.createDirectories(root.resolve(".bench_out"))
    Files.writeString(dir.resolve(s"trace-$workload-seed$seed.json"), json + "\n")
  }
}
