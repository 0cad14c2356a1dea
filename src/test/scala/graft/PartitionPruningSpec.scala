package graft

import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotStore

/** Partition-layout pruning: a date-partitioned events copy must be read
  * with PartitionFilters at the scan — at 100 TB this is the difference
  * between scanning one day and scanning three years.
  */
class PartitionPruningSpec extends AnyFunSuite with SparkSpec {

  test("day-partitioned layout prunes at the scan") {
    val dir = tempDir("events-by-day").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)

    val q = spark.read.parquet(dir).filter(col("day") === "2024-01-05")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters: [isnotnull(day"), scan)
    assert(scan.contains("2024-01-05"), scan)
    assert(q.count() > 0)

    // pruning actually limits files read: one day's partition only
    val allDays = spark.read.parquet(dir).select("day").distinct().count()
    assert(allDays > 1) // layout really is multi-partition
    FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("q_scan_pruned reads the materialized layout with PartitionFilters at the scan") {
    val df = SparkEntry.queries("q_scan_pruned")(spark, "/root/testdata/sf0.001")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters"), scan)
    assert(scan.contains("2024-01-05"), scan)
    assert(df.count() > 0)
  }

  test("an in-place part-file rewrite under a Spark-written events directory rebuilds the layout") {
    import spark.implicits._
    // A directory's own length is constant and its mtime moves only when
    // entries are added or removed: a size + mtime stat of the directory
    // cannot see a part file rewritten in place under the same name.
    val sf = tempDir("events-inplace").toString
    val next = tempDir("events-next").toString
    val layouts = SnapshotStore.root(spark)
      .resolve(SnapshotStore.family("events_by_day", sf, "events")).toFile
    try {
      def events(rows: Seq[(Long, String)]) =
        rows.toDF("user_id", "t").select(col("user_id"), to_timestamp(col("t")).as("ts")).coalesce(1)
      events(Seq((1L, "2024-01-05 10:00:00"))).write.parquet(s"$sf/events.parquet")
      def layoutRows(): Set[(Long, String)] =
        spark.read.parquet(sources.PartitionedLayout.eventsByDay(spark, sf))
          .select(col("user_id"), col("day").cast("string")).as[(Long, String)].collect().toSet
      assert(layoutRows() == Set((1L, "2024-01-05")))

      // Same part-file names, new bytes (the checksum sidecars too), and the
      // directory's mtime put back.
      val src = new java.io.File(s"$sf/events.parquet")
      val srcMtime = src.lastModified
      events(Seq((2L, "2024-02-06 11:00:00"), (3L, "2024-02-07 12:00:00"), (4L, "2024-02-07 13:00:00")))
        .write.parquet(s"$next/events.parquet")
      def partFile(dir: String, crc: Boolean) =
        new java.io.File(dir).listFiles().find { f =>
          val n = f.getName
          n.startsWith(if (crc) ".part-" else "part-") && n.endsWith(if (crc) ".crc" else ".parquet")
        }.get
      for (crc <- Seq(false, true))
        Files.write(partFile(src.getPath, crc).toPath,
          Files.readAllBytes(partFile(s"$next/events.parquet", crc).toPath))
      src.setLastModified(srcMtime)

      assert(layoutRows() == Set((2L, "2024-02-06"), (3L, "2024-02-07"), (4L, "2024-02-07")),
        "the layout must be rebuilt from the rewritten part file")
      assert(layouts.list().toSeq.size == 1, "the rebuild retires the superseded layout")
    } finally Seq(new java.io.File(sf), new java.io.File(next), layouts).foreach(FileUtils.deleteDirectory)
  }
}
