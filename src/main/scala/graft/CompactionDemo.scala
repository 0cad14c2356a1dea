package graft

import org.apache.spark.sql.functions._
import graft.operators.{Compaction, Compactor}
import graft.sources.{CompactionConfig, CursorCheckpoint}
import graft.streaming.StreamingDaemon

/** Runnable analog of the reference's full daemon loop (SURVEY.md §3.2):
  * enumerate store files → size report → filter compactable → compact (LWW +
  * sorted runs) → verify the change → stream the same loop incrementally.
  * No oracle — this is the operational demo the driver's queries gate can't
  * express; correctness of each piece is covered by the specs and the
  * q_compact_lww oracle.
  */
object CompactionDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val work  = java.nio.file.Files.createTempDirectory("graft-demo").toString
    val spark = Sessions.tuned("local[8]", "8")
    spark.sparkContext.setLogLevel("WARN")

    // 0. Typed config + durable cursor (the reference's initPropery /
    // storeNewConfig dataflow, SURVEY.md §2.1 S3/S4).
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/config.properties"),
      ("tablename=events\nstarttime=00:00:00\nendtime=23:59:59\n" +
        "majorfilesize=530000000000\ndirectcompactsize=100000000000\n").getBytes("UTF-8"))
    val cfg = CompactionConfig.load(s"$work/config.properties").get
    val cursor = new CursorCheckpoint(s"$work/cursor")
    println(s"[demo] config table=${cfg.tableName} window=${cfg.startTime}-${cfg.endTime} cursor=${cursor.read()}")

    // 1. A "store" with many small files (the un-compacted state).
    val ev = Tables.events(spark, sfDir)
    ev.repartition(8).write.parquet(s"$work/store")
    val store = spark.read.parquet(s"$work/store")

    // 2. The report query (getTableDetails analog): files, rows, compactable?
    val files = store.select(input_file_name().as("f")).groupBy("f").count()
    val nFiles = files.count()
    println(s"[demo] store files=$nFiles rows=${store.count()}")

    // 3. Compact: LWW + range-sharded sorted runs.
    val nOut = Compactor.planFileCount(totalBytes = 8L * 1024 * 1024, targetFileBytes = 4L * 1024 * 1024)
    Compactor.compact(store, Seq("user_id", "event_type"), Seq("ts", "event_id"),
      numFiles = nOut, outDir = Some(s"$work/compacted"))
    val compacted = spark.read.parquet(s"$work/compacted")
    println(s"[demo] compacted files=${compacted.select(input_file_name()).distinct().count()} rows=${compacted.count()}")

    // 4. Change detection (quickPoll analog): compacted vs original argmax.
    val changed = compacted.count() != store.count()
    println(s"[demo] change detected=$changed (versions dropped: ${store.count() - compacted.count()})")

    // 5. The streaming loop over the same store, one file per trigger.
    val q = StreamingDaemon.compactionLoop(
      spark, s"$work/store", s"$work/stream-out", s"$work/ckp",
      Seq("user_id", "event_type"), Seq("ts", "event_id"))
    q.awaitTermination()
    val batches = new java.io.File(s"$work/stream-out").listFiles().count(_.getName.startsWith("batch="))
    println(s"[demo] streaming loop processed $batches micro-batches (1 file each)")

    // 5b. Advance the durable cursor once per processed store (the
    // reference's i++ + storeNewConfig, with atomic replace).
    val adv = cursor.advance(total = nFiles.toInt)
    println(s"[demo] cursor advanced to $adv/${nFiles} (durable at $work/cursor)")

    // 5c. Persistent co-located layout (bucketing ≙ pre-split regions): the
    // recurring user⋈compacted join without a runtime shuffle.
    graft.sources.BucketedTables.writeBucketed(compacted, "demo_compacted", "user_id", 4)
    val bucketedPlan = spark.table("demo_compacted")
      .groupBy("user_id").count().queryExecution.executedPlan.toString
    println(s"[demo] bucketed layout: agg-without-shuffle=${!bucketedPlan.contains("Exchange hashpartitioning")}")

    // 5d. Change-only stream (quickPoll analog): late/old versions emit
    // nothing, real changes emit one delta.
    {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.StreamingDaemon.EventIn
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[EventIn]
      val cq = StreamingDaemon.changeStream(in.toDS())
        .writeStream.format("memory").queryName("demo_changes").outputMode("append").start()
      in.addData(EventIn(1L, 100L, 7L, "click", 1.0))
      cq.processAllAvailable()
      in.addData(EventIn(2L, 50L, 7L, "click", 2.0)) // stale version
      cq.processAllAvailable()
      val emitted = spark.table("demo_changes").count()
      cq.stop()
      println(s"[demo] change stream: 2 versions in, $emitted delta(s) out (stale suppressed)")
    }

    // 6. Idempotence: compacting the compacted store is a no-op.
    val again = Compaction.lastWriteWins(compacted, Seq("user_id", "event_type"), Seq("ts", "event_id"))
    println(s"[demo] idempotent=${again.count() == compacted.count()}")
    println(s"[demo] OK work=$work")
    spark.stop()
  }
}
