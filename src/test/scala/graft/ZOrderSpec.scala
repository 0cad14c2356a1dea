package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ZOrder

/** Z-order layout: bit-interleave correctness and the data-skipping claim
  * itself — a z-ordered layout prunes files on BOTH dimensions where a
  * single-key sort prunes on one.
  */
class ZOrderSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("zvalue interleaves bits (known Morton codes)") {
    // morton(a=0b11, b=0b00)=0b0101=5; morton(0b00,0b11)=0b1010=10;
    // morton(0b111,0b111)=0b111111=63;
    // morton(5=0b101, 3=0b011) = (b2 a2 b1 a1 b0 a0) = 0b011011 = 27.
    val got = Seq((3L, 0L), (0L, 3L), (7L, 7L), (5L, 3L))
      .toDF("a", "b")
      .select(ZOrder.zvalue(col("a"), col("b"), 3))
      .as[Long].collect().toSeq
    assert(got == Seq(5L, 10L, 63L, 27L))
  }

  test("z-order layout prunes files on both dimensions; x-sort only on one") {
    val dir = tempDir("graft_zorder").toString
    // 64x64 grid — every (x, y) point once, 16 files of 256 rows each.
    val grid = spark.range(64 * 64)
      .select((col("id") / 64).cast("long").as("x"), pmod(col("id"), lit(64)).as("y"))

    grid.repartitionByRange(16, col("x"), col("y"))
      .sortWithinPartitions(col("x"), col("y"))
      .write.mode("overwrite").parquet(s"$dir/by_x")
    ZOrder.writeZOrdered(grid, "x", "y", 6, 16, s"$dir/by_z")

    val rx = ZOrder.fileRanges(spark, s"$dir/by_x", "x", "y").cache()
    val rz = ZOrder.fileRanges(spark, s"$dir/by_z", "x", "y").cache()
    assert(rx.count() == 16 && rz.count() == 16)

    // Band query on the sort key x: both layouts prune hard. The x-sorted
    // bound allows one extra file: repartitionByRange picks boundaries by
    // reservoir sampling, so a boundary can drift off the exact band edge
    // and make a third file's [min,max] straddle the band.
    assert(ZOrder.candidateFiles(rx, 1, 8, 11) <= 3)
    assert(ZOrder.candidateFiles(rz, 1, 8, 11) <= 8)
    // Band query on the SECOND dimension y (4/64 of the domain): the x-sorted
    // layout reads every file — each spans all of y — the z layout a fraction.
    val xCand = ZOrder.candidateFiles(rx, 2, 8, 11)
    val zCand = ZOrder.candidateFiles(rz, 2, 8, 11)
    assert(xCand == 16, s"x-sorted layout should have no y pruning, got $xCand")
    assert(zCand <= 8, s"z layout should prune y bands, got $zCand")
  }
}
