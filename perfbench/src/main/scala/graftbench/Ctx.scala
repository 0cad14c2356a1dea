package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One timed operation of a pass. A failed operation keeps its sample, as
  * slower than any successful one, so failures never shorten the tail.
  */
final case class Op(kind: String, name: String, seconds: Double, ok: Boolean, pass: Int) {
  def latency: Double = if (ok) seconds else Double.PositiveInfinity
}

/** State shared by a run: the session, the seed, the working directory,
  * and the accounting of every operation attempted.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val root: Path, val work: Path) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Seconds spent in output checks, which run outside the timed passes. */
  var checkS = 0.0
  /** Output checks waiting for the end of the timed passes, in order. */
  private val pending = mutable.ArrayBuffer.empty[() => Unit]

  /** Runs one operation: counts it, and counts it failed when it throws or
    * its result does not pass `check` (which runs untimed).
    */
  def attempt[T](what: String)(body: => T)(check: T => Option[String] = (_: T) => None): Option[T] = {
    attempted += 1
    val r =
      try Right(body)
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val problem = r match {
      case Left(err) => Some(err)
      case Right(v) =>
        try check(v)
        catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    }
    problem.foreach(countFailure(what, _))
    r.toOption.filter(_ => problem.isEmpty)
  }

  private def countFailure(what: String, problem: String): Unit = {
    failed += 1
    failures += s"$what: $problem"
    System.err.println(s"[perfbench] FAILED $what: $problem")
  }

  /** Times `body` as operation `name` of pass `pass`. `check` runs later,
    * untimed, in [[runChecks]]; a problem it finds marks the operation
    * failed.
    */
  def timed[T](kind: String, name: String, pass: Int)(body: => T)(check: T => Option[String] = (_: T) => None): Option[T] = {
    val what = s"$kind $name (pass $pass)"
    var t = 0.0
    val r = attempt(what) {
      val t0 = System.nanoTime()
      try body
      finally t = (System.nanoTime() - t0) / 1e9
    }()
    ops += Op(kind, name, t, r.isDefined, pass)
    val idx = ops.size - 1
    r.foreach { v =>
      afterPasses {
        val problem =
          try check(v)
          catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
        problem.foreach { p =>
          ops(idx) = ops(idx).copy(ok = false)
          countFailure(what, p)
        }
      }
    }
    r
  }

  /** Queues `body` to run after the timed passes, so that output checks
    * (their Spark jobs, JIT compilation and garbage) stay out of them.
    */
  def afterPasses(body: => Unit): Unit = pending += (() => body)

  /** Runs the queued checks, in the order they were queued. */
  def runChecks(): Unit = {
    val t0 = System.nanoTime()
    pending.foreach(_())
    pending.clear()
    checkS += (System.nanoTime() - t0) / 1e9
  }

  /** Records an operation timed elsewhere; `ok = false` counts it failed. */
  def record(kind: String, name: String, seconds: Double, ok: Boolean, pass: Int, whyFailed: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += whyFailed }
    ops += Op(kind, name, seconds, ok, pass)
  }
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Bytes of every regular file under `p`. */
  def size(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  /** Parquet data files directly under `p`, sorted by name. */
  def parquetFiles(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
    finally s.close()
  }
}
