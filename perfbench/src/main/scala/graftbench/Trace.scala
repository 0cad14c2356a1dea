package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch milliseconds, the clock Spark's
  * listener events use, so jobs can be placed inside spans.
  */
final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000
  def covers(t: Double): Boolean = start <= t && t <= end
}

/** In-memory span recorder. Off, it only runs the body, so timed runs pay
  * nothing for it.
  */
final class Tracer(val on: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Double)] = Nil
  private var nextId = 1
  private val baseNanos = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  def now: Double = baseMs + (System.nanoTime() - baseNanos) / 1e6

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(0)
      stack = (id, name, now) :: stack
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        done += Span(id, name, parent, start, now)
      }
    }

  /** Records a span measured elsewhere (a streaming trigger) under the
    * innermost open span.
    */
  def record(name: String, start: Double, end: Double): Unit =
    if (on) {
      done += Span(nextId, name, stack.headOption.map(_._1).getOrElse(0), start, end)
      nextId += 1
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}

/** Per-task totals of one stage. */
final class StageAgg {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var schedDelayMs = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(id: Int, start: Double, end: Double, stages: Seq[Int], site: String)

/** Collects jobs, stages and task metrics from the listener bus. */
final class Layers extends SparkListener {
  private val starts = mutable.Map.empty[Int, (Double, Seq[Int], String)]
  private val ended = mutable.ArrayBuffer.empty[JobRec]
  private val stageAgg = mutable.Map.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    starts(e.jobId) = (e.time.toDouble, e.stageIds, e.stageInfos.map(_.details).mkString("\n"))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { case (t, stages, site) =>
      ended += JobRec(e.jobId, t, e.time.toDouble, stages, site)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
      val i = e.taskInfo
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.schedDelayMs += math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
      a.taskRunMs += m.executorRunTime
    }
  }

  def jobs: Seq[JobRec] = synchronized(ended.toSeq.sortBy(_.id))
  def stage(id: Int): Option[StageAgg] = synchronized(stageAgg.get(id))
}

object Layers {
  def attach(sc: SparkContext): Layers = {
    val l = new Layers
    sc.addSparkListener(l)
    l
  }

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionSeconds(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    for ((s0, e0) <- intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
           .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (curS.isNaN || s0 > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s0; curE = e0
      } else curE = math.max(curE, e0)
    }
    if (!curS.isNaN) total += curE - curS
    total / 1000
  }

  /** Self time per span name: each span's duration minus the part of it
    * its child spans cover.
    */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        s.seconds - unionSeconds(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)), s.start, s.end)
      }.sum
    }
  }
}
