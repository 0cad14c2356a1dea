package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import graft.SparkEntry

/** The `inventory` workload: graft's declared queries over the committed
  * sf0.01 fixtures, one after another, in an order the seed sets.
  */
final class Inventory(ctx: Ctx) extends Workload {
  import Inventory._

  val opKind = "query"
  private val fixtures = ctx.root.resolve(FixtureDir)
  private val data = ctx.work.resolve("inventory")
  private val expected: Map[String, String] =
    Json.parseStringMap(Files.readString(ctx.root.resolve(DigestFile)))
  val order: Seq[String] = new scala.util.Random(ctx.seed).shuffle(Queries)
  require(Queries.forall(SparkEntry.queries.contains),
    s"unknown queries: ${Queries.filterNot(SparkEntry.queries.contains)}")
  require(Queries.forall(expected.contains),
    s"no stored digest for: ${Queries.filterNot(expected.contains)}")

  /** A fresh copy of the fixtures: new mtimes, so every memoized artifact is
    * built again.
    */
  def generate(rep: Int): Unit = {
    Files2.deleteTree(data)
    Files.createDirectories(data)
    Files2.parquetFiles(fixtures).foreach(f => Files.copy(f, data.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
  }

  private val warmUpS = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def warmUp(): Unit =
    for (q <- order) {
      val t0 = System.nanoTime()
      ctx.attempt(s"warm-up $q") {
        val df = SparkEntry.queries(q)(ctx.spark, data.toString)
        df.write.format("noop").mode("overwrite").save()
        df
      }()
      warmUpS(q) = (System.nanoTime() - t0) / 1e9
    }

  def pass(i: Int, tr: Tracer): Unit =
    for (q <- order)
      ctx.timed(opKind, q, i) {
        tr("query") {
          val df = tr("construct")(SparkEntry.queries(q)(ctx.spark, data.toString))
          tr("plan")(df.queryExecution.executedPlan)
          tr("execute")(df.write.format("noop").mode("overwrite").save())
          df
        }
      }(df => if (i == 0) verify(q, df) else None)

  private def verify(q: String, df: DataFrame): Option[String] = {
    val got = Digest.of(df)
    if (got == expected(q)) None else Some(s"digest $got, expected ${expected(q)}")
  }

  def detail: Map[String, Any] = Map("queries" -> Queries.size, "order" -> order, "warm_up_query_s" -> warmUpS.toMap)
}

object Inventory {
  val FixtureDir = "perfbench/fixtures/sf0.01"
  val DigestFile = "perfbench/inventory_digests.json"

  /** A contraction query (`q_dedup_components`: eager pins and one Spark
    * job per contraction round), a pinned vector query without contraction
    * (`q_simsearch_ivf`), and two plain single-plan queries
    * (`q_text_outliers`, `q_window_running`) that bypass both. All 169 fit
    * no run's time budget (a warm pass over all of them takes over a minute
    * on 4 cores); the digest file covers all of them, so the set can change
    * without new digests.
    */
  val Queries: Seq[String] = Seq(
    "q_dedup_components", "q_simsearch_ivf", "q_text_outliers", "q_window_running")
}
