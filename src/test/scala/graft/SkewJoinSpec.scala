package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.JoinQueries

/** The skew-salted join's contract: the two-path (hot salted / cold plain)
  * split is row-identical to the plain join for ANY hot-key set, so hot-key
  * DETECTION may be approximate. Proven here with the exact detector
  * against the plain sort-merge join computed independently.
  */
class SkewJoinSpec extends AnyFunSuite with SparkSpec {
  private val d = "/root/testdata/sf0.001"

  private def plainJoin(s: org.apache.spark.sql.SparkSession) =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority"))

  test("exact hot-key detection (default): output row-identical to the plain join") {
    // Row identity holds for ANY hot set, so it alone cannot show the
    // salted path ran: the detector must find hot keys on this fixture.
    val hot = JoinQueries.skewHotKeys(spark, d).count()
    assert(hot > 0, s"exact detector found no hot keys — fixture drifted?")
    val got = JoinQueries.skewSaltedJoin(spark, d).collect().toSeq
    val want = plainJoin(spark).collect().toSeq
    assert(got == want)
  }

  test("production skew (one key = 30% of rows, AQE off): salted reducers are bounded, rows identical") {
    // The claim the operator exists to make: WITHOUT any AQE rescue, the
    // salted plan's largest reducer input is ~1/S of the hot key's rows,
    // where the plain shuffle join funnels all of them into ONE reducer.
    // AQE is disabled outright (its skew-join would split the plain join
    // too, and its partition coalescing would merge the small salted
    // reducers and wreck the measurement) — this pins OUR balance, not
    // Spark's.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle joins
    // production-shaped reducer count: at the suite's 4 shuffle partitions
    // the COLD branch alone is 70k/4 rows per reducer and no salting could
    // show; 32 reducers + 32 salts puts ~940 hot rows per (key,salt) combo
    s2.conf.set("spark.sql.shuffle.partitions", "32")
    import s2.implicits._
    val S = 32
    val hotKey = 7777L
    // 100k fact rows: 30k on one key, 70k spread over 7k keys (10 each)
    val fact = s2.range(0, 100000).select(
      when(col("id") < 30000, lit(hotKey)).otherwise(col("id") % 7000 + 10000).as("fk"),
      col("id").as("payload"))
    val dim = fact.select(col("fk").as("dk")).distinct()
      .withColumn("dpay", col("dk") * 2)
    val hotKeys = Seq(hotKey).toDF("hk")

    val plain = fact.join(dim, col("fk") === col("dk"))
    val salted = JoinQueries.saltedTwoPath(
      fact, dim, "fk", "dk", hotKeys, salt = hash(col("payload")), S = S)

    def maxPartitionRows(df: org.apache.spark.sql.DataFrame): Long =
      df.withColumn("pid", spark_partition_id())
        .groupBy("pid").count().agg(max("count")).head().getLong(0)

    val plainMax = maxPartitionRows(plain)
    val saltedMax = maxPartitionRows(salted)
    assert(plainMax >= 30000L,
      s"fixture must funnel the hot key into one reducer, got max=$plainMax")
    // bound: hot key's 30k rows / 8 salts ≈ 3750, + the cold share of that
    // reducer; 4× headroom still proves the ≥8× rebalance
    assert(saltedMax * 4 < plainMax,
      s"salted max reducer input $saltedMax not bounded vs plain $plainMax")
    // and the split is row-invisible
    val got = salted.orderBy("fk", "payload").collect().toSeq
    val want = plain.orderBy("fk", "payload").collect().toSeq
    assert(got == want)
  }
}
