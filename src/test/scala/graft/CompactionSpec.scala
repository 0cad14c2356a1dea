package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Compaction, Compactor}

import scala.util.Random

class CompactionSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def versions(rows: Seq[(Long, String, Long, Double)]) =
    rows.toDF("key", "family", "ts", "value")

  test("LWW keeps exactly the newest version per key") {
    val df = versions(Seq((1L, "f", 10L, 1.0), (1L, "f", 20L, 2.0), (2L, "f", 5L, 3.0)))
    val out = Compaction.lastWriteWins(df, Seq("key", "family"), Seq("ts"))
      .orderBy("key").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSeq ==
      Seq((1L, 20L, 2.0), (2L, 5L, 3.0)))
  }

  test("LWW tiebreak on the second order column is deterministic") {
    val df = versions(Seq((1L, "f", 10L, 1.0), (1L, "f", 10L, 9.0)))
    val out = Compaction.lastWriteWins(df, Seq("key"), Seq("ts", "value")).collect()
    assert(out.length == 1 && out.head.getDouble(3) == 9.0)
  }

  test("LWW on an empty frame is empty, not an error (reference AIOOBE bug not replicated)") {
    val df = versions(Seq.empty)
    assert(Compaction.lastWriteWins(df, Seq("key"), Seq("ts")).count() == 0)
  }

  test("property: agg and window LWW formulations agree on random data") {
    val rnd = new Random(42)
    for (_ <- 1 to 5) {
      val rows = Seq.fill(200)(
        (rnd.nextInt(10).toLong, s"f${rnd.nextInt(3)}", rnd.nextInt(50).toLong, rnd.nextInt(1000).toDouble))
      val df = versions(rows)
      val a = Compaction.lastWriteWins(df, Seq("key", "family"), Seq("ts", "value"))
        .orderBy("key", "family").collect().toSeq
      val w = Compaction.lastWriteWinsWindow(df, Seq("key", "family"), Seq("ts", "value"))
        .select("key", "family", "ts", "value")
        .orderBy("key", "family").collect().toSeq
      assert(a == w)
    }
  }

  test("property: compaction is idempotent") {
    val rnd = new Random(7)
    val df = versions(Seq.fill(300)(
      (rnd.nextInt(20).toLong, "f", rnd.nextInt(100).toLong, rnd.nextDouble())))
    val once = Compaction.lastWriteWins(df, Seq("key"), Seq("ts", "value"))
    val twice = Compaction.lastWriteWins(once, Seq("key"), Seq("ts", "value"))
    assert(once.orderBy("key").collect().toSeq == twice.orderBy("key").collect().toSeq)
  }

  test("compact() writes range-sharded key-sorted files (HFile invariant)") {
    val dir = tempDir("compact").resolve("out").toString
    val rnd = new Random(1)
    val df = versions(Seq.fill(500)(
      (rnd.nextInt(100).toLong, "f", rnd.nextInt(10).toLong, rnd.nextDouble())))
    Compactor.compact(df, Seq("key"), Seq("ts", "value"), numFiles = 4, outDir = Some(dir))
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4)
    // within each file keys are sorted; across files ranges don't overlap
    val perFile = files.toSeq.map { f =>
      spark.read.parquet(f.getPath).select("key").as[Long].collect().toSeq
    }
    perFile.foreach(ks => assert(ks == ks.sorted))
    val ranges = perFile.filter(_.nonEmpty).map(ks => (ks.min, ks.max)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi <= lo)
      case _ =>
    }
    // and it is the LWW result: one row per key
    val out = spark.read.parquet(dir)
    assert(out.count() == out.select("key").distinct().count())
  }

  test("compact() into an existing directory throws and leaves its files untouched") {
    val dir = tempDir("compact-existing").resolve("store")
    val old = versions(Seq((1L, "f", 10L, 1.0), (2L, "f", 20L, 2.0)))
    old.coalesce(1).write.parquet(dir.toString)
    def files() = dir.toFile.listFiles().map(f => f.getName -> ((f.length, f.lastModified))).toMap
    val before = files()
    val e = intercept[IllegalArgumentException](Compactor.compact(
      versions(Seq((3L, "f", 30L, 3.0))), Seq("key"), Seq("ts"), numFiles = 1, outDir = Some(dir.toString)))
    assert(e.getMessage.contains(dir.toString))
    assert(files() == before)
    assert(spark.read.parquet(dir.toString).orderBy("key").collect().toSeq == old.orderBy("key").collect().toSeq)
  }

  test("planFileCount mirrors the documented size-threshold intent") {
    assert(Compactor.planFileCount(0L, 100L) == 1)
    assert(Compactor.planFileCount(1000L, 100L) == 10)
    assert(Compactor.planFileCount(1001L, 100L) == 11)
  }

  test("classifyBySize routes direct/skip/scheduled") {
    val df = Seq(10L, 500L, 5000L).toDF("sz")
      .select(Compaction.classifyBySize(col("sz"), 100L, 1000L).as("c"))
    assert(df.as[String].collect().toSeq == Seq("direct", "scheduled", "skip"))
  }
}
