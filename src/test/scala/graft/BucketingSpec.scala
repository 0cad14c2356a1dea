package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{BucketedTables, SnapshotStore}

/** The co-located-join claim, proven on the physical plan: bucketed+sorted
  * persistence of both join sides eliminates the shuffle AND the sort from
  * the recurring sort-merge join. A rewrite commits a new store version,
  * so a failed one leaves the previous table readable.
  */
class BucketingSpec extends AnyFunSuite with SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("bucketed fact-fact join runs with no exchange and no sort") {
    BucketedTables.writeBucketed(Tables.lineitem(spark, d), "li_bucketed", "l_orderkey", 8)
    BucketedTables.writeBucketed(Tables.orders(spark, d), "ord_bucketed", "o_orderkey", 8)

    val (l, r) = (spark.table("li_bucketed"), spark.table("ord_bucketed"))
    val joined = l.join(r, l("l_orderkey") === r("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString

    assert(plan.contains(PlanPins.SortMergeJoin) || plan.contains(PlanPins.BroadcastHashJoin), plan)
    if (plan.contains(PlanPins.SortMergeJoin)) {
      assert(!plan.contains("Exchange hashpartitioning"), plan) // buckets ARE the partitioning
    }
    // row-count equivalence with the shuffled join
    val li = Tables.lineitem(spark, d)
    val ord = Tables.orders(spark, d)
    val shuffled = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
    assert(joined.count() == shuffled.count())
  }

  test("a bucketed rewrite whose write fails leaves the previous table readable") {
    val table = "bucketing_spec_rewrite"
    try {
      BucketedTables.writeBucketed(spark.range(100).toDF("k"), table, "k", 4)
      val failing = spark.range(100).select(expr("if(id = 50, raise_error('injected'), id)").as("k"))
      intercept[Exception](BucketedTables.writeBucketed(failing, table, "k", 4))
      assert(spark.table(table).count() == 100)
      val versions = SnapshotStore.root(spark).resolve(table).toFile.list().toSeq
      assert(versions.size == 1 && !versions.head.startsWith("."), versions)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      FileUtils.deleteDirectory(SnapshotStore.root(spark).resolve(table).toFile)
    }
  }
}
