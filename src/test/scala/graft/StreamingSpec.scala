package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Compaction
import graft.sources.SnapshotStore
import graft.streaming.StreamingDaemon

class StreamingSpec extends AnyFunSuite with SparkSpec {

  private def tmp(tag: String) = tempDir(tag).toString

  /** `n` versioned events over 40 users and 3 event types, one a minute. */
  private def syntheticEvents(n: Int): org.apache.spark.sql.DataFrame = spark.range(n).select(
    (col("id") % 40).as("user_id"),
    element_at(array(lit("click"), lit("view"), lit("buy")), (col("id") % 3 + 1).cast("int")).as("event_type"),
    timestamp_seconds(col("id") * 60).as("ts"), col("id").as("event_id"), (col("id") / 2.0).as("value"))

  /** Documents `ids` of 30 words each, no word shared between two of them. */
  private def syntheticDocs(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(ids.map(id => (id, (0 until 30).map(i => s"d${id}w$i").mkString(" "))))
      .toDF("doc_id", "text")

  test("mergeSink is exactly-once: upserts converge, batch replay is a no-op, torn replay converges") {
    val in    = tmp("merge-in")
    val store = tmp("merge-store")
    val ckp   = tmp("merge-ckp")
    val keys = Seq("user_id", "event_type"); val ord = Seq("ts", "event_id")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    ev.coalesce(1).write.mode("append").parquet(in)

    StreamingDaemon.mergeSink(spark, in, store, ckp, keys, ord).awaitTermination()

    // the store is ONE consistent LWW snapshot of everything ingested
    val want = Compaction.lastWriteWins(ev, keys, ord)
      .orderBy("user_id", "event_type").collect().toSeq
    def snapshot() = StreamingSpec.readMergeStore(spark, store, ev, keys)
      .orderBy("user_id", "event_type").collect().toSeq
    assert(snapshot() == want)
    val ptr = java.nio.file.Paths.get(s"$store/LATEST")
    val ptrAfterRun = new String(java.nio.file.Files.readAllBytes(ptr), "UTF-8")

    // CLEAN REPLAY (engine redelivers batch 0 after a crash before the
    // checkpoint commit): the applied-batch ledger short-circuits — no new
    // snapshot, pointer untouched.
    val applied = StreamingDaemon.applyMergeBatch(
      spark, store, keys, ord, spark.read.parquet(in), batchId = 0L)
    assert(!applied, "replayed batchId must be skipped by the ledger")
    assert(new String(java.nio.file.Files.readAllBytes(ptr), "UTF-8") == ptrAfterRun)
    assert(snapshot() == want)

    // TORN REPLAY (crash AFTER the pointer swap but BEFORE the marker):
    // simulate by deleting the marker — the replay finds snap-0 committed
    // and reuses it, so the content is identical.
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$store/_applied/batch-0"))
    assert(StreamingDaemon.applyMergeBatch(
      spark, store, keys, ord, spark.read.parquet(in), batchId = 0L))
    assert(snapshot() == want, "re-merging the same batch must be content-idempotent")

    // a LATER batch with newer versions UPSERTS: bump ts on a key subset
    val delta = ev.filter(col("user_id") % 5 === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 10 DAYS"))
      .withColumn("value", col("value") + 1000.0)
    assert(StreamingDaemon.applyMergeBatch(spark, store, keys, ord, delta, batchId = 1L))
    val merged = Compaction.lastWriteWins(ev.unionByName(delta), keys, ord)
      .orderBy("user_id", "event_type").collect().toSeq
    assert(snapshot() == merged)
    assert(snapshot() != want, "the delta must actually change some rows")
  }

  test("a merge batch carrying older versions of stored keys keeps the newer stored rows: last write wins by order, not arrival") {
    val store = tmp("mergelate-store")
    val keys = Seq("user_id", "event_type"); val ord = Seq("ts", "event_id")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val newer = ev.filter(col("user_id") % 5 === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 10 DAYS"))
      .withColumn("value", col("value") + 1000.0)
    // late versions of keys the store holds (some of them just updated by
    // `newer`), plus keys it has never seen
    val older = ev.filter(col("user_id") % 3 === 0)
      .withColumn("ts", col("ts") - expr("INTERVAL 10 DAYS"))
      .withColumn("value", col("value") - 1000.0)
      .unionByName(ev.filter(col("user_id") % 7 === 0).withColumn("user_id", -col("user_id") - 1))
    assert(StreamingDaemon.applyMergeBatch(spark, store, keys, ord, ev, batchId = 0L))
    assert(StreamingDaemon.applyMergeBatch(spark, store, keys, ord, newer, batchId = 1L))
    assert(StreamingDaemon.applyMergeBatch(spark, store, keys, ord, older, batchId = 2L))
    val got = StreamingSpec.readMergeStore(spark, store, ev, keys).orderBy("user_id", "event_type").collect().toSeq
    val want = Compaction.lastWriteWins(ev.unionByName(newer).unionByName(older), keys, ord)
      .orderBy("user_id", "event_type").collect().toSeq
    assert(got.size == want.size)
    assert(got == want)
  }

  test("a merge batch whose write fails leaves LATEST, the ledger and every snap-* entry unchanged, and a retry applies it") {
    val store = tmp("mergefail-store")
    val keys = Seq("user_id", "event_type"); val ord = Seq("ts", "event_id")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(StreamingDaemon.applyMergeBatch(spark, store, keys, ord, ev, batchId = 0L))
    def state() = {
      val root = new java.io.File(store)
      (root.list().toSet, Files.readString(root.toPath.resolve("LATEST")), root.toPath.resolve("_applied").toFile.list().toSet)
    }
    val before = state()
    assert(before == ((Set("LATEST", "_applied", "snap-0"), "snap-0", Set("batch-0"))))

    val delta = ev.filter(col("user_id") % 5 === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 10 DAYS"))
      .withColumn("value", col("value") + 1000.0)
    // The batch frame throws in the write's own stage, once the output
    // directory is set up: the repartition on the keys moves the failing
    // projection past the only exchange, which adaptive execution runs
    // before the write begins.
    val failing = delta.repartition(col("user_id"), col("event_type")).withColumn("value",
      when(col("user_id") >= 0, raise_error(lit("injected write failure"))).otherwise(col("value")))
    intercept[Exception](StreamingDaemon.applyMergeBatch(spark, store, keys, ord, failing, batchId = 1L))
    assert(state() == before, "a failed write must leave the store as it was")

    assert(StreamingDaemon.applyMergeBatch(spark, store, keys, ord, delta, batchId = 1L))
    assert(state() == ((Set("LATEST", "_applied", "snap-0", "snap-1"), "snap-1", Set("batch-0", "batch-1"))))
    assert(StreamingSpec.readMergeStore(spark, store, ev, keys).orderBy("user_id", "event_type").collect().toSeq ==
      Compaction.lastWriteWins(ev.unionByName(delta), keys, ord).orderBy("user_id", "event_type").collect().toSeq)
  }

  test("mergeSink restart-from-checkpoint: one snapshot per new file, committed snapshots untouched, a stale tmp dir ignored, a torn replay reuses its snapshot") {
    // The reference's crash-resumable-cursor semantics
    // (QHBaseCompact.java:102-115,133) end to end: the daemon dies between
    // polls (run 1 drains and stops); a new file lands AND a killed
    // writer's tmp directory for the next snapshot, holding wrong rows, is
    // left in the store; the restarted daemon must resume from
    // checkpointLocation, reprocess nothing it committed, and never read
    // the tmp directory.
    val in    = tmp("restart-in")
    val store = tmp("restart-store")
    val ckp   = tmp("restart-ckp")
    val keys = Seq("user_id", "event_type"); val ord = Seq("ts", "event_id")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val half1 = ev.filter(col("event_id") % 2 === 0)
    // the second file's versions are newer than any of the first's, so
    // upserting it yields the LWW of all input
    val half2 = ev.filter(col("event_id") % 2 === 1)
      .withColumn("ts", col("ts") + expr("INTERVAL 3650 DAYS"))
    def lww(df: org.apache.spark.sql.DataFrame) =
      Compaction.lastWriteWins(df, keys, ord).orderBy("user_id", "event_type").collect().toSeq
    def latest() = StreamingSpec.readMergeStore(spark, store, ev, keys)
      .orderBy("user_id", "event_type").collect().toSeq
    def snaps() = new java.io.File(store).list().filter(_.startsWith("snap-")).toSet
    def fileSig(dir: String): Map[String, (Long, Long)] =
      new java.io.File(dir).listFiles().filter(_.isFile)
        .map(f => f.getName -> ((f.length, f.lastModified))).toMap
    half1.coalesce(1).write.mode("append").parquet(in)

    StreamingDaemon.mergeSink(spark, in, store, ckp, keys, ord).awaitTermination()
    assert(snaps() == Set("snap-0"), "run 1 must commit batch 0")
    assert(latest() == lww(half1))
    val s0 = fileSig(s"$store/snap-0")

    // while the daemon is down: a new input file lands, and a killed
    // writer's tmp directory for snap-1 sits in the store
    half2.coalesce(1).write.mode("append").parquet(in)
    half2.limit(3).withColumn("value", lit(-999.0))
      .coalesce(1).write.parquet(s"$store/.tmp-snap-1-killed")

    StreamingDaemon.mergeSink(spark, in, store, ckp, keys, ord).awaitTermination()
    assert(snaps() == Set("snap-0", "snap-1"), "one snapshot per input file")
    assert(fileSig(s"$store/snap-0") == s0, "restart rewrote a committed snapshot")
    assert(spark.read.parquet(s"$store/snap-1").filter(col("value") === -999.0).count() == 0,
      "the stale tmp directory leaked into the committed snapshot")
    assert(latest() == lww(half1.unionByName(half2)))

    // a third restart with no new input: nothing new, nothing rewritten
    val all = Seq("", "/snap-0", "/snap-1", "/_applied").map(d => d -> fileSig(s"$store$d")).toMap
    StreamingDaemon.mergeSink(spark, in, store, ckp, keys, ord).awaitTermination()
    assert(snaps() == Set("snap-0", "snap-1"))
    assert(Seq("", "/snap-0", "/snap-1", "/_applied").map(d => d -> fileSig(s"$store$d")).toMap == all)

    // a crash after snap-1 committed but before its pointer swap, ledger
    // marker and checkpoint commit: the restart replays batch 1, which
    // merges the same prior snapshot with the same file, so it reuses the
    // committed snap-1 instead of writing a second copy
    val s1 = fileSig(s"$store/snap-1")
    Files.writeString(java.nio.file.Paths.get(s"$store/LATEST"), "snap-0")
    Seq(s"$store/_applied/batch-1", s"$ckp/commits/1", s"$ckp/commits/.1.crc")
      .foreach(f => Files.deleteIfExists(java.nio.file.Paths.get(f)))
    StreamingDaemon.mergeSink(spark, in, store, ckp, keys, ord).awaitTermination()
    assert(snaps() == Set("snap-0", "snap-1"), "the replay wrote a second snapshot of batch 1")
    assert(fileSig(s"$store/snap-1") == s1)
    assert(Files.readString(java.nio.file.Paths.get(s"$store/LATEST")) == "snap-1")
    assert(latest() == lww(half1.unionByName(half2)))
  }

  test("an upsert runs one Spark job, and so does the batch that creates the store") {
    val store = tmp("mergejobs-store")
    val keys = Seq("user_id", "event_type"); val ord = Seq("ts", "event_id")
    val ev = syntheticEvents(2000)
    val delta = ev.filter(col("user_id") % 5 === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 10 DAYS"))
      .withColumn("value", col("value") + 1000.0)
    val (_, first) = jobsRunBy(StreamingDaemon.applyMergeBatch(spark, store, keys, ord, ev, batchId = 0L))
    val (_, upsert) = jobsRunBy(StreamingDaemon.applyMergeBatch(spark, store, keys, ord, delta, batchId = 1L))
    assert((first, upsert) == ((1, 1)), "jobs of the first batch and of the upsert")
    assert(StreamingSpec.readMergeStore(spark, store, ev, keys).orderBy("user_id", "event_type").collect().toSeq ==
      Compaction.lastWriteWins(ev.unionByName(delta), keys, ord).orderBy("user_id", "event_type").collect().toSeq)
  }

  test("mergeSink runs one Spark job per micro-batch and none to start the stream") {
    val (in, store, ckp) = (tmp("mergesinkjobs-in"), tmp("mergesinkjobs-store"), tmp("mergesinkjobs-ckp"))
    val keys = Seq("user_id", "event_type"); val ord = Seq("ts", "event_id")
    val ev = syntheticEvents(2000)
    ev.coalesce(1).write.mode("append").parquet(in)
    for (days <- Seq(1, 2)) {
      Thread.sleep(1100) // distinct mtimes: one file per trigger, in order
      ev.filter(col("user_id") % 3 === days).withColumn("ts", col("ts") + expr(s"INTERVAL $days DAYS"))
        .coalesce(1).write.mode("append").parquet(in)
    }
    val (_, jobs) = jobsRunBy(StreamingDaemon.mergeSink(spark, in, store, ckp, keys, ord).awaitTermination())
    assert(jobs == 3, "three input files, three micro-batches")
    assert(StreamingSpec.readMergeStore(spark, store, ev, keys).orderBy("user_id", "event_type").collect().toSeq ==
      Compaction.lastWriteWins(spark.read.parquet(in), keys, ord).orderBy("user_id", "event_type").collect().toSeq)
  }

  test("a LATEST snapshot without _bounds is never merged: the upsert throws, naming the store") {
    val store = tmp("mergenobounds-store")
    val keys = Seq("user_id", "event_type"); val ord = Seq("ts", "event_id")
    val ev = syntheticEvents(2000)
    assert(StreamingDaemon.applyMergeBatch(spark, store, keys, ord, ev, batchId = 0L))
    Files.delete(java.nio.file.Paths.get(store, "snap-0", "_bounds"))
    val delta = ev.filter(col("user_id") % 5 === 0).withColumn("ts", col("ts") + expr("INTERVAL 10 DAYS"))
    val e = intercept[IllegalStateException](
      StreamingDaemon.applyMergeBatch(spark, store, keys, ord, delta, batchId = 1L))
    assert(e.getMessage.contains(store) && e.getMessage.contains("_bounds"), e.getMessage)
    assert(new java.io.File(store).list().toSet == Set("LATEST", "_applied", "snap-0"))
    assert(Files.readString(java.nio.file.Paths.get(store, "LATEST")) == "snap-0")
  }

  test("inputSchema is the schema spark.read.parquet infers, read from one footer with no Spark job") {
    val sparkDir = tmp("footer-spark")
    spark.sql("""SELECT 1L AS id, 'x' AS s, array(1.0f, 2.0f) AS emb, named_struct('a', 1, 'b', 'y') AS st,
        CAST(1.5 AS DECIMAL(10, 2)) AS d, DATE'2024-01-01' AS day, TIMESTAMP'2024-01-01 00:00:00' AS ts,
        map('k', 1.0D) AS m, CAST(NULL AS STRING) AS n""")
      .coalesce(1).write.mode("append").parquet(sparkDir)
    // written by parquet-mr, as the benchmark's generator writes its store
    val mrDir = tmp("footer-mr")
    val mrSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(MICROS,true));
        |  optional int32 day (DATE);
        |  required binary event_type (STRING);
        |  required double value;
        |  optional binary raw;
        |}""".stripMargin)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(java.nio.file.Paths.get(mrDir, "part-00000.parquet")))
      .withType(mrSchema).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(mrSchema).newGroup()
      .append("event_id", 1L).append("ts", 1704067200000000L).append("day", 19723)
      .append("event_type", "click").append("value", 2.5))
    finally w.close()
    for (dir <- Seq(sparkDir, mrDir)) {
      val (schema, jobs) = jobsRunBy(StreamingDaemon.inputSchema(spark, dir))
      assert(jobs == 0, dir)
      assert(schema == spark.read.parquet(dir).schema, dir)
    }
  }

  test("inputSchema of a partitioned input directory is the inferred one, partition columns included") {
    val dir = tmp("footer-partitioned")
    syntheticEvents(100).withColumn("day", col("user_id") % 2)
      .write.mode("append").partitionBy("day").parquet(dir)
    val schema = StreamingDaemon.inputSchema(spark, dir)
    assert(schema == spark.read.parquet(dir).schema && schema.fieldNames.contains("day"), schema)
    val empty = tmp("footer-empty")
    val e = intercept[IllegalArgumentException](StreamingDaemon.inputSchema(spark, empty))
    assert(e.getMessage.contains(empty), e.getMessage)
  }

  test("ingestDedupLoop infers no schema with a Spark job: not to start the stream, not to read its signature store") {
    val (in, out, ckp, sig) = (tmp("ijobs-in"), tmp("ijobs-out"), tmp("ijobs-ckp"), tmp("ijobs-sig"))
    val corpusSigs = graft.operators.TextQueries.bandKeysOf(syntheticDocs(1000L until 1040L))
      .withColumnRenamed("doc_id", "corpus_doc").localCheckpoint()
    for (i <- 0 until 3) {
      syntheticDocs(i * 20L until i * 20L + 20L).coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(1100)
    }
    // Jobs of the stream's own thread carry the call site of its start, so
    // only the start's inference shows up as a DataFrameReader job here.
    val (_, sites) = jobSitesRunBy(
      StreamingDaemon.ingestDedupLoop(spark, in, corpusSigs, out, ckp, sig).awaitTermination())
    info(s"${sites.size} Spark jobs over 3 micro-batches")
    assert(new java.io.File(out).list().count(_.startsWith("batch=")) == 3)
    assert(sites.nonEmpty && !sites.exists(_.contains("DataFrameReader")),
      sites.filter(_.contains("DataFrameReader")).mkString("\n---\n"))
    // what each batch reads: the committed `batch=N` directories of a store
    val like = spark.range(0).select(col("id").cast("string").as("skey"))
    val (prior, readJobs) = jobsRunBy(StreamingDaemon.readSigStore(spark, s"$sig/skeys", like, excludeBatch = 2L))
    assert(readJobs == 0)
    assert(prior.columns.toSeq == Seq("skey") && prior.count() > 0)
  }

  test("ingestDedupLoop restart-from-checkpoint: dedup state persists across the process death") {
    // The cross-batch gating test's scenario, but with the daemon KILLED and
    // RESTARTED between the two batches: batch 2's near-dup of a batch-1
    // admission must still be rejected, which proves the persisted signature
    // store + checkpoint (not in-memory state) carry the dedup across
    // restarts.
    val sf = "/root/testdata/sf0.001"
    val in  = tmp("ri-in")
    val out = tmp("ri-out")
    val ckp = tmp("ri-ckp")
    val sig = tmp("ri-sig")
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val fresh  = docs.filter(col("doc_id") % 10 === 7)
    val corpusSigs = graft.operators.TextQueries.bandKeysOf(corpus)
      .withColumnRenamed("doc_id", "corpus_doc").localCheckpoint()
    val expected1 = fresh
      .join(graft.operators.TextQueries.bandKeysOf(fresh)
          .join(corpusSigs, "skey").select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet

    fresh.coalesce(1).write.mode("append").parquet(in)
    StreamingDaemon.ingestDedupLoop(spark, in, corpusSigs, out, ckp, sig).awaitTermination()
    val kept1 = spark.read.parquet(s"$out/batch=*").select("doc_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(kept1 == expected1)

    // daemon down; batch 2 lands: an exact clone of an admitted batch-1 doc
    // plus a genuinely novel document
    val keeper = docs.filter(col("doc_id") === expected1.min)
    val novelText = (1 to 60).map(i => s"rst${i}blick").mkString(" ")
    keeper.withColumn("doc_id", col("doc_id") + 2000000L)
      .union(keeper
        .withColumn("doc_id", col("doc_id") + 3000000L)
        .withColumn("text", lit(novelText)))
      .coalesce(1).write.mode("append").parquet(in)

    StreamingDaemon.ingestDedupLoop(spark, in, corpusSigs, out, ckp, sig).awaitTermination()
    val kept = spark.read.parquet(s"$out/batch=*").select("doc_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    // batch 1's output is untouched and still exactly expected1
    assert(kept.filter(_ < 2000000L) == expected1)
    // the clone of a PRE-RESTART admission was rejected by the persisted store
    assert(!kept.exists(id => id >= 2000000L && id < 3000000L),
      "near-dup of a pre-restart admission was re-admitted — state lost across restart")
    // while the novel doc of the same post-restart batch was admitted
    assert(kept.exists(_ >= 3000000L), "novel post-restart doc wrongly rejected")
  }

  test("streamingDedupKeysOnly keeps one row per key across differing event times") {
    val in = tmp("dwk-in")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    ev.coalesce(1).write.mode("append").parquet(in)

    val q = StreamingDaemon
      .streamingDedupKeysOnly(
        StreamingDaemon.source(spark, in, spark.read.parquet(in).schema),
        Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dwk_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val out = spark.table("dwk_out")
    // the fixture has many (user, type) repeats at different ts; keys-only
    // dedup collapses each to a single survivor.
    // LOAD-BEARING: dropDuplicatesWithinWatermark only guarantees dedup of
    // re-arrivals within the watermark delay — the exact-count assert holds
    // because AvailableNow over ONE input file yields a single micro-batch,
    // so every repeat is seen before any state could age out. A fixture
    // spanning >1h of event time across SEVERAL batches would legitimately
    // re-emit keys; that is the documented API semantics, not a bug.
    assert(ev.select("user_id", "event_type").distinct().count() == out.count())
    assert(out.select("user_id", "event_type").distinct().count() == out.count())
    assert(out.count() < ev.count()) // it actually dropped same-key re-arrivals
  }

  test("attributionJoin (stream-stream interval join) matches the batch interval join") {
    val in  = tmp("attr-in")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    // two arrival files so the join spans micro-batches
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(in)
    ev.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(in)

    val stream = StreamingDaemon.source(spark, in, ev.schema)
    val joined = StreamingDaemon.attributionJoin(
      stream.filter(col("event_type") === "click"),
      stream.filter(col("event_type") === "purchase"))
    val q = joined.writeStream
      .format("memory").queryName("attr_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("attr_out")
      .select("purchase_id", "click_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = StreamingDaemon.attributionJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
      .select("purchase_id", "click_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)         // the fixture actually exercises the window
    assert(streamed == batch)      // stream-stream join = batch interval join
  }

  test("ingestDedupLoop drops in-batch exact dups and corpus near-dups, keeps the rest") {
    val sf = "/root/testdata/sf0.001"
    val in  = tmp("ingest-in")
    val out = tmp("ingest-out")
    val ckp = tmp("ingest-ckp")
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val fresh  = docs.filter(col("doc_id") % 10 === 7)
    // arriving snapshot: the fresh docs PLUS an exact copy of one of them
    // under a new id (must be exact-deduped inside the batch)
    val cloned = fresh.limit(1)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    fresh.union(cloned).coalesce(1).write.mode("append").parquet(in)

    val corpusSigs = graft.operators.TextQueries.bandKeysOf(corpus)
      .withColumnRenamed("doc_id", "corpus_doc").localCheckpoint()
    val q = StreamingDaemon.ingestDedupLoop(spark, in, corpusSigs, out, ckp, tmp("ingest-sig"))
    q.awaitTermination()

    val kept = spark.read.parquet(s"$out/batch=*").select("doc_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    // batch-mode expectation: fresh docs whose band keys miss the corpus store
    val expected = fresh
      .join(graft.operators.TextQueries.bandKeysOf(fresh)
          .join(corpusSigs, "skey").select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(kept == expected)
    // the exact clone lost to its lower-id original
    assert(!kept.exists(_ >= 1000000L))
    // and the gate kept a non-trivial survivor set
    assert(kept.nonEmpty)
  }

  test("ingestDedupLoop gates batch N+1 against batch N's accepted docs") {
    val sf = "/root/testdata/sf0.001"
    val in  = tmp("xingest-in")
    val out = tmp("xingest-out")
    val ckp = tmp("xingest-ckp")
    val sig = tmp("xingest-sig")
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val fresh  = docs.filter(col("doc_id") % 10 === 7)

    val corpusSigs = graft.operators.TextQueries.bandKeysOf(corpus)
      .withColumnRenamed("doc_id", "corpus_doc").localCheckpoint()
    // batch-mode expectation for batch 1 (the single-batch gate), computed
    // up front so batch 2's clone provably duplicates an ADMITTED doc —
    // the round-3 gap was exactly near-dups of prior-batch admissions.
    val expected1 = fresh
      .join(graft.operators.TextQueries.bandKeysOf(fresh)
          .join(corpusSigs, "skey").select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    val keeper = docs.filter(col("doc_id") === expected1.min)

    // batch 1: the fresh split. batch 2: an exact copy of that admitted doc
    // under a new id, plus a genuinely novel document.
    val novelText = (1 to 60).map(i => s"zqx${i}glorp").mkString(" ")
    val b2 = keeper.withColumn("doc_id", col("doc_id") + 2000000L)
      .union(keeper
        .withColumn("doc_id", col("doc_id") + 3000000L)
        .withColumn("text", lit(novelText)))
    def partFiles() = new java.io.File(in).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).toSet
    fresh.coalesce(1).write.mode("append").parquet(in)
    val files1 = partFiles()
    b2.coalesce(1).write.mode("append").parquet(in)
    val files2 = partFiles() -- files1
    // file source orders by mtime — force batch 1 strictly before batch 2
    val t0 = System.currentTimeMillis() - 60000
    files1.foreach(_.setLastModified(t0))
    files2.foreach(_.setLastModified(t0 + 30000))

    val q = StreamingDaemon.ingestDedupLoop(spark, in, corpusSigs, out, ckp, sig)
    q.awaitTermination()

    val kept = spark.read.parquet(s"$out/batch=*").select("doc_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    // the cross-batch clone lost to its batch-1 original...
    assert(!kept.exists(id => id >= 2000000L && id < 3000000L),
      s"cross-batch near-dup admitted: ${kept.filter(id => id >= 2000000L && id < 3000000L)}")
    // ...while the novel doc of the SAME later batch was admitted
    assert(kept.exists(_ >= 3000000L), "novel batch-2 doc was wrongly rejected")
    // and batch 1 behaves exactly like the single-batch gate
    assert(kept.filter(_ < 2000000L) == expected1)
  }

  test("ingestDedupLoop semantic gate rejects embedding near-dups, batch-equal") {
    val sf = "/root/testdata/sf0.001"
    val in  = tmp("semingest-in")
    val out = tmp("semingest-out")
    val ckp = tmp("semingest-ckp")
    val sig = tmp("semingest-sig")
    val docs = Tables.documents(spark, sf)
      .join(Tables.embeddings(spark, sf).select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 7).localCheckpoint()
    val fresh  = docs.filter(col("doc_id") % 10 === 7).localCheckpoint()

    val corpusSigs = graft.operators.TextQueries.bandKeysOf(corpus)
      .withColumnRenamed("doc_id", "corpus_doc").localCheckpoint()
    val corpusEmb = StreamingDaemon.embedBandKeys(corpus)
      .select(col("ekey"), col("embedding")).localCheckpoint()

    // batch-gate expectation for the plain fresh docs: text near-dups drop;
    // no fixture embedding pair reaches cos 0.99 (ceiling ~0.47), so the
    // semantic arm must not reject any of them
    val expected1 = fresh
      .join(graft.operators.TextQueries.bandKeysOf(fresh)
          .join(corpusSigs, "skey").select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet

    // batch 1: fresh docs + a SEMANTIC dup of a corpus doc — novel text
    // (passes the MinHash gate) but the corpus doc's exact embedding
    val novelText  = (1 to 60).map(i => s"qwz${i}fleem").mkString(" ")
    val novelText2 = (1 to 60).map(i => s"vrb${i}snork").mkString(" ")
    val corpusOne = corpus.orderBy(col("doc_id")).limit(1)
    val semDupOfCorpus = corpusOne
      .withColumn("doc_id", lit(5000000L))
      .withColumn("text", lit(novelText))
    // an INTRA-batch mirror pair: two docs in the same micro-batch with
    // distinct novel texts but identical embeddings (orthogonal to every
    // fixture embedding pattern) — lower doc_id must win, higher must lose
    val mirrorEmb = array((0 until 64).map(i =>
      lit(if (i % 4 < 2) 0.02f else -0.02f)): _*)
    val mirror1 = corpusOne.withColumn("doc_id", lit(8000000L))
      .withColumn("text", lit((1 to 60).map(i => s"mra${i}zilt").mkString(" ")))
      .withColumn("embedding", mirrorEmb)
    val mirror2 = corpusOne.withColumn("doc_id", lit(8000001L))
      .withColumn("text", lit((1 to 60).map(i => s"mrb${i}quop").mkString(" ")))
      .withColumn("embedding", mirrorEmb)
    fresh.unionByName(semDupOfCorpus).unionByName(mirror1).unionByName(mirror2)
      .coalesce(1).write.mode("append").parquet(in)
    // batch 2: a semantic dup of an ADMITTED batch-1 doc (tests the ekeys
    // store fold-back) + a genuinely novel doc (text AND embedding)
    val keeper = fresh.filter(col("doc_id") === expected1.min)
    val semDupOfAccepted = keeper
      .withColumn("doc_id", lit(6000000L))
      .withColumn("text", lit(novelText2))
    val novelDoc = keeper
      .withColumn("doc_id", lit(7000000L))
      .withColumn("text", lit((1 to 60).map(i => s"xlp${i}crumb").mkString(" ")))
      .withColumn("embedding",
        array((0 until 64).map(i => lit(if (i % 2 == 0) 0.01f else -0.01f)): _*))
    def partFiles() = new java.io.File(in).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).toSet
    val files1 = partFiles()
    semDupOfAccepted.unionByName(novelDoc).coalesce(1).write.mode("append").parquet(in)
    val files2 = partFiles() -- files1
    val t0 = System.currentTimeMillis() - 60000
    files1.foreach(_.setLastModified(t0))
    files2.foreach(_.setLastModified(t0 + 30000))

    val q = StreamingDaemon.ingestDedupLoop(spark, in, corpusSigs, out, ckp, sig,
      corpusEmbSigs = Some(corpusEmb), semanticCos = 0.99)
    q.awaitTermination()

    val kept = spark.read.parquet(s"$out/batch=*").select("doc_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    // the semantic dup of a CORPUS doc was rejected despite novel text
    assert(!kept.contains(5000000L), "corpus semantic near-dup admitted")
    // the semantic dup of an ADMITTED batch-1 doc was rejected (ekeys store)
    assert(!kept.contains(6000000L), "prior-batch semantic near-dup admitted")
    // the genuinely novel doc passed both gates
    assert(kept.contains(7000000L), "novel doc wrongly rejected")
    // intra-batch mirror pair: min-keeper admitted, its mirror rejected
    assert(kept.contains(8000000L), "intra-batch mirror keeper wrongly rejected")
    assert(!kept.contains(8000001L), "intra-batch semantic mirror admitted")
    // and the plain fresh docs behave exactly like the batch text gate —
    // the semantic arm rejected nothing below the cosine threshold
    assert(kept.filter(_ < 5000000L) == expected1)
  }

  /** A 64-dim float embedding: ±0.01 by `positive`, plus `bump` on the
    * first element.
    */
  private def embOf(positive: Int => Boolean, bump: Column = lit(0f)): Column =
    array((0 until 64).map(i =>
      (lit(if (positive(i)) 0.01f else -0.01f) + (if (i == 0) bump else lit(0f))).cast("float")): _*)

  /** Run the ingest gate, with a semantic arm over `corpusEmb`, on `batch`
    * as one micro-batch against the text corpus `corpus`; the doc_ids it
    * accepts. The gate must leave no RDD persisted behind it: whatever a
    * micro-batch materializes is released when the batch ends.
    */
  private def ingestOnce(tag: String, corpus: DataFrame, corpusEmb: DataFrame, batch: DataFrame): Set[Long] = {
    val (in, out) = (tmp(s"$tag-in"), tmp(s"$tag-out"))
    batch.coalesce(1).write.mode("append").parquet(in)
    val corpusSigs = graft.operators.TextQueries.bandKeysOf(corpus)
      .withColumnRenamed("doc_id", "corpus_doc").localCheckpoint()
    val emb = StreamingDaemon.embedBandKeys(corpusEmb).select(col("ekey"), col("embedding")).localCheckpoint()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    StreamingDaemon.ingestDedupLoop(spark, in, corpusSigs, out, tmp(s"$tag-ckp"), tmp(s"$tag-sig"),
      corpusEmbSigs = Some(emb)).awaitTermination()
    val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !persisted(id) }
    assert(left.isEmpty, s"the gate left persisted RDDs behind: ${left.values.mkString(", ")}")
    spark.read.parquet(s"$out/batch=*").select("doc_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
  }

  test("ingestDedupLoop accepts exactly one of a batch of BucketCap + 1 mirror docs") {
    // Distinct novel texts, one embedding: the batch's own band buckets
    // each hold BucketCap + 1 docs, and the corpus index shares none of them.
    val corpus = syntheticDocs(1000L until 1040L)
    val flood = syntheticDocs(0L to graft.operators.TextQueries.BucketCap.toLong)
      .withColumn("embedding", embOf(_ % 3 == 0))
    val kept = ingestOnce("flood", corpus, corpus.withColumn("embedding", embOf(_ % 2 == 0)), flood)
    assert(kept == Set(0L), s"${kept.size} mirrors accepted")
  }

  test("ingestDedupLoop rejects a doc equal to the representative of a stored band bucket of BucketCap + 1 entries") {
    // BucketCap + 1 corpus embeddings of one sign pattern fill every band
    // bucket of that pattern; they differ in the first element only, and
    // doc 1000's is the smallest, so its embedding represents the buckets.
    val corpus = syntheticDocs(1000L to 1000L + graft.operators.TextQueries.BucketCap)
    val stored = corpus.withColumn("embedding",
      embOf(_ % 3 == 0, ((col("doc_id") - 1000L) * 1e-4).cast("float")))
    val rep = embOf(_ % 3 == 0)
    // doc 0 carries the representative; doc 1 a pattern the store lacks
    val batch = syntheticDocs(Seq(0L, 1L))
      .withColumn("embedding", when(col("doc_id") === 0L, rep).otherwise(embOf(_ % 2 == 0)))
    assert(ingestOnce("hotstore", corpus, stored, batch) == Set(1L))
  }

  test("the semantic probe meets one stored row per hot ekey, even when its embeddings are identical") {
    // BucketCap + 1 corpus docs share one embedding (a mirror family) and
    // so fill every band bucket of its pattern; three docs of another
    // pattern fill small buckets that stay whole.
    val hot = syntheticDocs(1000L to 1000L + graft.operators.TextQueries.BucketCap)
      .withColumn("embedding", embOf(_ % 3 == 0))
    val few = syntheticDocs(2000L until 2003L).withColumn("embedding", embOf(_ % 2 == 0))
    val store = StreamingDaemon.embedBandKeys(hot.unionByName(few)).select(col("ekey"), col("embedding"))
    val perKey = graft.operators.TextQueries.cappedStore(store, Seq("ekey"), "embedding")
      .groupBy(col("ekey")).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perKey.size == 16, perKey)
    assert(perKey.values.toSeq.sorted == Seq.fill(8)(1L) ++ Seq.fill(8)(3L), perKey)
  }

  test("statefulLww folds new versions into O(keys) state across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDaemon.{EventIn, LwwUpdate}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[EventIn]
    val q = StreamingDaemon.statefulLww(input.toDS())
      .writeStream.format("memory").queryName("lww_updates")
      .outputMode(StreamingDaemon.statefulLwwOutputMode)
      .start()
    try {
      // batch 1: two versions for key (1, click) — newest is event 2
      input.addData(
        EventIn(1L, 100L, 1L, "click", 1.0),
        EventIn(2L, 200L, 1L, "click", 2.0))
      q.processAllAvailable()
      val b1 = spark.table("lww_updates").as[LwwUpdate].collect()
      assert(b1.toSeq == Seq(LwwUpdate(1L, "click", 2L, 200L, 2.0, 2L)))

      // batch 2: an OLDER version arrives late — state must not regress,
      // but the version counter advances
      input.addData(EventIn(3L, 150L, 1L, "click", 3.0))
      q.processAllAvailable()
      val b2 = spark.table("lww_updates").as[LwwUpdate].collect()
      assert(b2.last == LwwUpdate(1L, "click", 2L, 200L, 2.0, 3L))
    } finally q.stop()
  }

  test("sessionCloseStream: gap closes in the data callback, idle users close by event-time timeout, state removed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDaemon.{EventIn, SessionClosed}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val M = 60L * 1000000L // one minute in µs
    val gap = 30L * M
    val B = 1000 * M // base offset: a ts equal to the initial watermark (0) is dropped as late
    val input = MemoryStream[EventIn]
    val q = StreamingDaemon.sessionCloseStream(input.toDS(), gap)
      .writeStream.format("memory").queryName("sess_closed")
      .outputMode("append")
      .start()
    try {
      // batch 1: user 1 has a 2-event session; user 2 a 1-event session
      input.addData(
        EventIn(1L, B, 1L, "view", 0.0),
        EventIn(2L, B + 5 * M, 1L, "purchase", 1.0),
        EventIn(3L, B, 2L, "view", 0.0))
      q.processAllAvailable()
      assert(spark.table("sess_closed").count() == 0) // nothing closed yet

      // batch 2: user 1 returns 85 min after their session end — the open
      // session closes in the DATA callback ("gap") and a new one opens.
      // The same event advances the watermark to B+80m (90m − 10m delay),
      // past user 2's timeout (B+30m): processAllAvailable runs the
      // follow-up no-data micro-batch where user 2's TIMEOUT callback
      // fires and its state is removed.
      input.addData(EventIn(4L, B + 90 * M, 1L, "view", 0.0))
      q.processAllAvailable()
      val afterGap = spark.table("sess_closed").as[SessionClosed].collect().toSet
      assert(afterGap == Set(
        SessionClosed(1L, B, B + 5 * M, 2L, 1L, "gap"),
        SessionClosed(2L, B, B, 1L, 0L, "timeout")))

      // batch 3: an unrelated user far ahead pushes the watermark past
      // user 1's SECOND session's timeout (B+90m end + 30m gap = B+120m) —
      // it closes by timeout too, so no session is ever silently stuck.
      input.addData(EventIn(5L, B + 200 * M, 3L, "view", 0.0))
      q.processAllAvailable()
      val afterTimeout = spark.table("sess_closed").as[SessionClosed].collect().toSet
      assert(afterTimeout ==
        afterGap + SessionClosed(1L, B + 90 * M, B + 90 * M, 1L, 0L, "timeout"))

      // a re-appearing timed-out user starts FRESH — no resurrected state
      input.addData(EventIn(6L, B + 210 * M, 2L, "view", 0.0))
      q.processAllAvailable()
      val s4 = spark.table("sess_closed").as[SessionClosed].collect()
      assert(s4.count(_.user_id == 2L) == 1) // still only the timed-out close
    } finally q.stop()
  }

  test("changeStream emits only when the newest version changes (flatMapGroupsWithState)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingDaemon.{EventIn, LwwUpdate}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[EventIn]
    val q = StreamingDaemon.changeStream(input.toDS())
      .writeStream.format("memory").queryName("change_stream")
      .outputMode("append")
      .start()
    try {
      input.addData(EventIn(1L, 100L, 1L, "click", 1.0))
      q.processAllAvailable()
      input.addData(EventIn(2L, 50L, 1L, "click", 2.0)) // older — no change
      q.processAllAvailable()
      input.addData(EventIn(3L, 200L, 1L, "click", 3.0)) // newer — change
      q.processAllAvailable()
      val got = spark.table("change_stream").as[LwwUpdate].collect().toSeq
      assert(got.map(_.last_event_id) == Seq(1L, 3L)) // batch 2 emitted nothing
    } finally q.stop()
  }

  test("watermark drops late rows beyond the tolerance in streaming aggregation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = StreamingDaemon.windowedCounts(
      input.toDS().toDF("ts", "value").withColumn("event_type", org.apache.spark.sql.functions.lit("x")))
    val q = agg.writeStream.format("memory").queryName("late_agg").outputMode("update").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    try {
      input.addData((ts(0), 1.0))   // window 10:00
      q.processAllAvailable()
      input.addData((ts(30), 1.0))  // advances watermark to 09:30
      q.processAllAvailable()
      // 3 hours late (far beyond the 1h tolerance): must be dropped
      input.addData((java.sql.Timestamp.valueOf("2024-01-01 07:00:00"), 99.0))
      q.processAllAvailable()
      val rows = spark.table("late_agg")
        .select("window.start", "n").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toSet
      assert(!rows.exists(_._1.startsWith("2024-01-01 07:")), rows.toString)
    } finally q.stop()
  }

  test("late-data accounting: batch-2 rows older than the watermark are dropped, counts pinned vs batch truth") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    // Batch 1: 3 rows in window 10:00 + 2 in 10:30 → watermark advances to
    // max(10:35) − 1h = 09:35 for the NEXT batch.
    val batch1 = Seq(ts("10:05:00") -> 1.0, ts("10:06:00") -> 2.0,
      ts("10:07:00") -> 3.0, ts("10:35:00") -> 4.0, ts("10:36:00") -> 5.0)
    // Batch 2: 2 on-time rows (10:15 ≥ watermark) + 2 LATE rows at 08:00,
    // 95 minutes beyond the 1h tolerance → exactly these two must drop.
    val onTime2 = Seq(ts("10:15:00") -> 6.0, ts("10:16:00") -> 7.0)
    val late2 = Seq(ts("08:00:00") -> 98.0, ts("08:01:00") -> 99.0)

    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = StreamingDaemon.windowedCounts(
      input.toDS().toDF("ts", "value").withColumn("event_type", lit("x")))
    val q = agg.writeStream.format("memory").queryName("late_acct")
      .outputMode("update").start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(onTime2 ++ late2: _*)
      q.processAllAvailable()

      // final state per window = last update emitted (n grows monotonically)
      val streamed = spark.table("late_acct")
        .groupBy(col("window.start").as("w"))
        .agg(max(col("n")).as("n"))
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap

      // batch truth over ONLY the accepted rows — the stream must equal it...
      val acceptedTruth = StreamingDaemon.windowedCounts(
        (batch1 ++ onTime2).toDF("ts", "value").withColumn("event_type", lit("x")))
        .select(col("window.start").as("w"), col("n"))
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      assert(streamed == acceptedTruth, s"streamed=$streamed truth=$acceptedTruth")

      // ...and the accounting closes exactly: 9 in, 7 accepted, 2 dropped.
      val totalIn = (batch1 ++ onTime2 ++ late2).size
      val accepted = streamed.values.sum
      assert(accepted == 7L)
      assert(totalIn - accepted == late2.size, s"dropped=${totalIn - accepted}")
      // the late rows' own window never materialized
      assert(!streamed.keySet.exists(_.startsWith("2024-01-01 08:")), streamed.toString)
    } finally q.stop()
  }

  test("windowedCounts aggregates event-time windows with a watermark") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    // batch execution of the same expression tree validates the plan shape
    val agg = StreamingDaemon.windowedCounts(ev)
    assert(agg.columns.toSeq == Seq("window", "event_type", "n", "total"))
    assert(agg.count() > 0)
  }

  test("admission gate preserves the reference's string-compare semantics (overnight window admits nothing)") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(StreamingDaemon.admissionGate(ev, "23:00:00", "01:00:00").count() == 0)
    assert(StreamingDaemon.admissionGate(ev, "00:00:00", "23:59:59").count() == ev.count())
  }

  test("driftHistogram maintained across micro-batches equals the batch binning (q_drift_psi arm)") {
    val in = tmp("drift-in")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "n_chars")
    // two arrivals → two triggers (maxFilesPerTrigger=1): the complete-mode
    // histogram must fold batch 2 INTO batch 1's counts, not replace them
    docs.filter(col("doc_id") % 3 =!= 0).coalesce(1).write.mode("append").parquet(in)
    docs.filter(col("doc_id") % 3 === 0).coalesce(1).write.mode("append").parquet(in)

    val q = StreamingDaemon
      .driftHistogram(StreamingDaemon.source(spark, in, spark.read.parquet(in).schema))
      .writeStream.format("memory").queryName("drift_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("drift_out")
      .orderBy("bin").collect().toSeq
    val batch = StreamingDaemon.driftHistogram(docs)
      .orderBy("bin").collect().toSeq
    assert(streamed == batch)
    // side totals conserve the corpus — no row lost between triggers
    val total = spark.table("drift_out")
      .agg(sum(col("ca") + col("cb"))).head.getLong(0)
    assert(total == docs.count())
  }
}

object StreamingSpec {

  /** Current snapshot of a [[StreamingDaemon.mergeSink]] store: the
    * directory named by the LATEST pointer, or an empty frame before the
    * first commit. Both carry `schemaFrom`'s columns with `keys` first, the
    * order the merge writes; the snapshot is read with that schema, so no
    * Spark job infers it from the parquet footers.
    */
  def readMergeStore(spark: SparkSession, storeDir: String, schemaFrom: DataFrame, keys: Seq[String]): DataFrame = {
    val ordered = schemaFrom.select((keys ++ schemaFrom.columns.filterNot(keys.contains)).map(col): _*)
    SnapshotStore.pointed(SnapshotStore.local(storeDir).resolve("LATEST"))
      .fold(ordered.limit(0))(snap => spark.read.schema(ordered.schema).parquet(s"$storeDir/$snap"))
  }
}
