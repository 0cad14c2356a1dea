package graftbench

import java.nio.file.Path

class ChecksSpec extends SparkSuite {
  import spark.implicits._

  /** Writes each group of (user_id, event_type) rows as one parquet file. */
  private def files(name: String, groups: Seq[(Long, String)]*): Path = {
    val dir = tmp.resolve(name)
    groups.zipWithIndex.foreach { case (g, i) =>
      g.toDF("user_id", "event_type").coalesce(1).write.parquet(dir.resolve(s"f$i").toString)
    }
    dir
  }

  private def check(dir: Path): Option[String] =
    Checks.sortedDisjoint(Checks.fileRanges(spark.read.parquet(s"$dir/*"), Seq("user_id", "event_type")))

  test("sorted files with disjoint key ranges pass") {
    val dir = files("good", Seq(1L -> "a", 1L -> "b", 2L -> "a"), Seq(2L -> "b", 3L -> "a"))
    assert(check(dir).isEmpty)
  }

  test("a file out of key order is rejected") {
    val dir = files("unsorted", Seq(1L -> "a", 2L -> "a", 1L -> "b"), Seq(5L -> "a"))
    assert(check(dir).exists(_.contains("out of key order")))
  }

  test("files whose key ranges overlap are rejected") {
    val dir = files("overlap", Seq(1L -> "a", 3L -> "a"), Seq(2L -> "z", 4L -> "a"))
    assert(check(dir).exists(_.contains("overlap")))
  }

  test("a key shared by two files is an overlap") {
    val dir = files("shared", Seq(1L -> "a", 2L -> "b"), Seq(2L -> "b", 3L -> "a"))
    assert(check(dir).exists(_.contains("overlap")))
  }
}
