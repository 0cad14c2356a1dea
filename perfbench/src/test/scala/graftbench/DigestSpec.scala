package graftbench

class DigestSpec extends SparkSuite {
  import spark.implicits._

  private val rows = Seq((1L, "a", 1.5), (2L, "b", -0.0), (3L, "c", Double.NaN), (3L, "c", Double.NaN))

  test("the digest ignores row order and partitioning") {
    val a = rows.toDF("id", "s", "x")
    val b = scala.util.Random.shuffle(rows).toDF("id", "s", "x").repartition(3)
    assert(Digest.of(a) == Digest.of(b))
  }

  test("the digest ignores column order") {
    val a = rows.toDF("id", "s", "x")
    assert(Digest.of(a) == Digest.of(a.select("x", "id", "s")))
  }

  test("the digest sees changed values, a dropped duplicate and renamed columns") {
    val a = rows.toDF("id", "s", "x")
    assert(Digest.of(a) != Digest.of(rows.updated(0, (1L, "a", 1.25)).toDF("id", "s", "x")))
    assert(Digest.of(a) != Digest.of(rows.take(3).toDF("id", "s", "x")))
    assert(Digest.of(a) != Digest.of(rows.toDF("id", "s", "y")))
    assert(Digest.of(a.limit(0)) == "0:0")
  }
}
