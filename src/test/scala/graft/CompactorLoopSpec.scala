package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Compaction, Compactor}
import graft.sources.CursorCheckpoint

/** End-to-end integration of the reference's daemon loop (SURVEY.md §3.2,
  * QHBaseCompact.java:133-194): enumerate stores → F1/F3 classify →
  * T2 round-robin cursor → S5 compact → C1 change-verify → S4 durable
  * checkpoint — run for two ticks against a real temp directory, with the
  * quickPoll semantics asserted both ways: compaction of a dirty store IS
  * detected as a change, and re-compacting an already-compacted store is
  * detected as NO change (the reference's skip path,
  * QHBaseCompact.java:171-184).
  */
class CompactorLoopSpec extends AnyFunSuite with SparkSpec {

  private val keys = Seq("user_id", "event_type")
  private val ord  = Seq("ts", "event_id")

  test("two ticks: classify → cursor → compact → change fires → checkpoint advances and wraps") {
    import spark.implicits._
    val work = tempDir("graft-loop").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")

    // Two "stores" (≙ regions), each deliberately fragmented into many
    // small files — the un-compacted state the daemon exists to fix.
    ev.filter(col("user_id") % 2 === 0).repartition(4).write.parquet(s"$work/store0")
    ev.filter(col("user_id") % 2 === 1).repartition(4).write.parquet(s"$work/store1")
    val stores = Vector(s"$work/store0", s"$work/store1")
    val cursor = new CursorCheckpoint(s"$work/cursor")
    assert(cursor.read() == 0) // fresh checkpoint starts at region 0

    /** One daemon tick. Returns (store compacted, change detected). */
    def tick(): (String, Boolean) = {
      val idx = cursor.read() // T2: durable round-robin position
      val dir = stores(idx)

      // F1/F3: enumerate REAL files + sizes, gate on compactability.
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (dir, f.getName, f.length())).toSeq
        .toDF("store", "file", "bytes")
      val compactable = Compaction.compactableStores(files, Seq(col("store")), col("bytes"))
      assert(compactable.count() == 1, "a 4-file store must classify as compactable")
      // size routing: parquet shards of sf0.001 events are all tiny → direct
      val classes = files
        .select(Compaction.classifyBySize(col("bytes"), 1L << 20, 1L << 30).as("cls"))
        .distinct().as[String].collect().toSeq
      assert(classes == Seq("direct"), s"expected all-direct, got $classes")

      // S5: compact (LWW + range-sharded sorted runs) to a fresh snapshot.
      val store = spark.read.parquet(dir)
      Compactor.compact(store, keys, ord, numFiles = 2, outDir = Some(s"$dir-compacted"))
      val compacted = spark.read.parquet(s"$dir-compacted")

      // C1: change detection — the compacted snapshot's newest-version set
      // vs the raw store's: any key whose surviving version differs, or any
      // dropped duplicate version, is a change.
      val changed =
        compacted.count() != store.count() ||
          Compaction.lastWriteWins(store, keys, ord)
            .except(compacted).limit(1).count() > 0

      // Sorted-run + single-snapshot invariants of the compacted output.
      assert(compacted.select(input_file_name()).distinct().count() <= 2)
      assert(compacted.count() == Compaction.lastWriteWins(store, keys, ord).count())

      // S4: advance the durable cursor with wrap-around.
      cursor.advance(stores.size)
      (dir, changed)
    }

    // Tick 1: store0 is dirty (multi-version keys) → change must fire.
    val (dir1, changed1) = tick()
    assert(dir1 == stores(0))
    assert(changed1, "compacting a dirty store must register as a change")
    // checkpoint is durable: a fresh handle on the same path sees the advance
    assert(new CursorCheckpoint(s"$work/cursor").read() == 1)

    // Tick 2: the cursor moved on to store1; afterwards it wraps to 0.
    val (dir2, changed2) = tick()
    assert(dir2 == stores(1))
    assert(changed2)
    assert(cursor.read() == 0, "round-robin cursor must wrap (QHBaseCompact.java:140-143)")

    // quickPoll negative arm: a store that is ALREADY one clean snapshot
    // re-compacts to itself — no change, the daemon skips it.
    val clean = spark.read.parquet(s"${stores(0)}-compacted")
    val again = Compactor.compact(clean, keys, ord, numFiles = 2)
    assert(again.count() == clean.count())
    assert(Compaction.lastWriteWins(clean, keys, ord).except(clean).limit(1).count() == 0,
      "re-compacting a compacted store must be a no-op (no change detected)")
  }
}
