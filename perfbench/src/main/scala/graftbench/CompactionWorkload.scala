package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.operators.{Compaction, Compactor}
import graft.streaming.StreamingDaemon

/** The `compaction` workload: a major compaction of a seeded versioned
  * store with `Compactor.compact`, then a series of micro-batch upserts
  * through `StreamingDaemon.mergeSink`, one update file per trigger.
  */
final class CompactionWorkload(ctx: Ctx) extends Workload {
  import CompactionWorkload._

  val opKind = "merge_batch"
  private val input = ctx.work.resolve("input")
  private val spark = ctx.spark

  private final case class PassBytes(inputRows: Long, inputBytes: Long, planned: Int,
      written: Long, files: Int, compactS: Double, snapshotBytes: Seq[Long], updateBytes: Long,
      batchReadBytes: Seq[Long], storeBytes: Long, latestBytes: Long)
  private val bytes = mutable.Map.empty[Int, PassBytes]
  private val batches = mutable.Map.empty[Int, Seq[StreamingQueryProgress]]

  def generate(rep: Int): Unit = {
    Files2.deleteTree(input)
    ctx.attempt("generate store")(Store.generate(Shape, ctx.seed, input))()
  }

  def warmUp(): Unit = runPass(-1, new Tracer(false), check = false)

  def pass(i: Int, tr: Tracer): Unit = runPass(i, tr, check = i == 0)

  private def runPass(i: Int, tr: Tracer, check: Boolean): Unit = {
    val storeDir = input.resolve("store")
    val inputBytes = Files2.size(storeDir)
    val planned = Compactor.planFileCount(inputBytes, TargetFileBytes)
    val out = ctx.work.resolve(s"compacted-$i")
    ctx.timed("compaction", "compact", i) {
      tr("compaction") {
        val storeDf = spark.read.parquet(storeDir.toString)
        Compactor.compact(storeDf, Store.Keys, Store.Order, planned, Some(out.toString), MaxRecordsPerFile)
        storeDf
      }
    } { storeDf =>
      if (!check) None
      else {
        val got = spark.read.parquet(out.toString)
        Checks.sameRows(got, Compaction.lastWriteWinsWindow(storeDf, Store.Keys, Store.Order), "compaction")
          .orElse(Checks.sortedDisjoint(Checks.fileRanges(got, Store.Keys)))
      }
    }
    val compactS = ctx.ops.last.seconds

    val merge = ctx.work.resolve(s"merge-$i")
    val updates = input.resolve("updates")
    val progress = tr("merge") {
      val q = StreamingDaemon.mergeSink(spark, updates.toString, merge.resolve("store").toString,
        merge.resolve("checkpoint").toString, Store.Keys, Store.Order)
      val finished =
        try q.awaitTermination(TimeUnit.MINUTES.toMillis(2))
        catch { case e: Throwable => ctx.failures += s"merge (pass $i): ${e.getMessage}".take(300); false }
      if (!finished) q.stop()
      q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
    }
    progress.foreach { p =>
      val d = p.durationMs.asScala
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      tr.record(if (p.batchId == 0) "merge.base" else "merge.batch", start, start + d("triggerExecution").toDouble)
    }
    // The first batch loads the compacted base; the rest are the upserts.
    // Every input file is one attempted operation; one never committed is
    // a failed one.
    val files = Files2.parquetFiles(updates)
    val done = progress.map(_.batchId).toSet
    for (b <- files.indices) {
      val p = progress.find(_.batchId == b)
      val kind = if (b == 0) "merge_base" else opKind
      val secs = p.map(_.durationMs.get("triggerExecution").toDouble / 1000).getOrElse(0.0)
      ctx.record(kind, s"batch-$b", secs, p.isDefined, i, s"$kind batch-$b (pass $i) not committed")
    }
    batches(i) = progress

    val storeRoot = merge.resolve("store")
    val snaps = progress.map(p => Files2.size(storeRoot.resolve(s"snap-${p.batchId}")))
    bytes(i) = PassBytes(
      inputRows = Shape.files.toLong * Shape.rowsPerFile,
      inputBytes = inputBytes, planned = planned,
      written = Files2.size(out), files = if (Files.exists(out)) Files2.parquetFiles(out).size else 0,
      compactS = compactS,
      snapshotBytes = snaps,
      updateBytes = files.drop(1).map(f => Files.size(f)).sum,
      // Upsert b reads the snapshot batch b - 1 committed and its own file.
      batchReadBytes = snaps.zip(files.drop(1)).map { case (prior, f) => prior + Files.size(f) },
      storeBytes = Files2.size(storeRoot),
      latestBytes = if (done.nonEmpty) Files2.size(latest(storeRoot)) else 0L)
    // A checked pass keeps its outputs until the checks have run.
    def cleanUp(): Unit = { Files2.deleteTree(out); Files2.deleteTree(merge) }
    if (!check) cleanUp()
    else ctx.afterPasses {
      if (done.size == files.size)
        ctx.attempt(s"merge result (pass $i)")(latest(merge.resolve("store"))) { snap =>
          val all = spark.read.parquet(storeDir.toString).unionByName(spark.read.parquet(updates.toString))
          Checks.sameRows(spark.read.parquet(snap.toString), Compaction.lastWriteWinsWindow(all, Store.Keys, Store.Order), "merge")
        }
      cleanUp()
    }
  }

  /** The snapshot the store's atomic `LATEST` pointer names. */
  private def latest(store: Path): Path =
    store.resolve(Files.readString(store.resolve("LATEST")).trim)

  private def timedBytes = bytes.filter(_._1 >= 0).values.toSeq

  def detail: Map[String, Any] = {
    val b = timedBytes
    def med(f: PassBytes => Double) = if (b.isEmpty) Double.NaN else Stats.median(b.map(f))
    Map(
      "shape" -> Shape.toString,
      "target_file_bytes" -> TargetFileBytes,
      "max_records_per_file" -> MaxRecordsPerFile,
      "input_rows" -> Shape.files.toLong * Shape.rowsPerFile,
      "input_bytes" -> b.headOption.map(_.inputBytes),
      "planned_files" -> b.headOption.map(_.planned),
      "files_written" -> b.headOption.map(_.files),
      "compact_rows_per_s" -> med(x => x.inputRows / x.compactS),
      "compact_write_amp" -> med(x => x.written.toDouble / x.inputBytes),
      "merge_write_amp" -> med(x => x.snapshotBytes.drop(1).sum.toDouble / x.updateBytes),
      "space_amp" -> med(x => x.storeBytes.toDouble / x.latestBytes),
      "merge_batches_per_pass" -> Shape.updates,
      "merge_store_bytes" -> med(_.storeBytes.toDouble),
      "latest_bytes" -> med(_.latestBytes.toDouble))
  }

  override def layers(passes: Seq[Int]): Map[String, Double] = {
    val b = passes.flatMap(bytes.get)
    val upserts = passes.flatMap(batches.get).flatten.filter(_.batchId > 0)
    def secs(p: StreamingQueryProgress, k: String) = p.durationMs.get(k).toDouble / 1000
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "compactor.bytes_written" -> mean(b.map(_.written.toDouble)),
      "compactor.files_written" -> mean(b.map(_.files.toDouble)),
      "compactor.files_vs_plan" -> mean(b.map(x => x.files.toDouble / x.planned)),
      "merge.add_batch_s" -> mean(upserts.map(secs(_, "addBatch"))),
      "merge.trigger_overhead_s" -> mean(upserts.map(p => secs(p, "triggerExecution") - secs(p, "addBatch"))),
      "merge.read_bytes_per_batch" -> mean(b.flatMap(_.batchReadBytes).map(_.toDouble)),
      "merge.bytes_written_per_batch" -> mean(b.flatMap(_.snapshotBytes.drop(1)).map(_.toDouble)))
  }
}

object CompactionWorkload {
  val Shape = StoreShape(files = 200, rowsPerFile = 500, users = 4000, zipf = 1.1,
    updates = 3, rowsPerUpdate = 200)
  val TargetFileBytes = 256L * 1024
  val MaxRecordsPerFile = 4000L
}
