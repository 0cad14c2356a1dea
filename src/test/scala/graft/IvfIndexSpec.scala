package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.VectorQueries

/** The IVF index is built once per embeddings snapshot: the cell assignment
  * is a memoized artifact, and every IVF query probes the pinned index
  * instead of re-running the assignment.
  */
class IvfIndexSpec extends AnyFunSuite with SparkSpec {
  private val d = "/root/testdata/sf0.001"
  private val ivfQueries =
    Seq("q_simsearch_ivf", "q_simsearch_ivf2", "q_simsearch_ivf_drift", "q_simsearch_ivfpq")

  /** Ids of the pinned RDDs `df` reads. */
  private def pinnedRdds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect { case r: LogicalRDD => r.rdd.id }.toSet

  test("a warm q_simsearch_ivf runs 2 Spark jobs") {
    def run(): Unit =
      SparkEntry.queries("q_simsearch_ivf")(spark, d).write.format("noop").mode("overwrite").save()
    run() // builds the centroids and the index
    val (_, jobs) = jobsRunBy(run())
    // The probe's broadcast and the top-5, both over the pinned index.
    // Re-running the assignment on both sides of the probe join took 5.
    assert(jobs == 2, s"q_simsearch_ivf ran $jobs jobs")
  }

  test("the four IVF queries read one index build per embeddings fingerprint") {
    val dir = tempDir("graft_ivf_index")
    val emb = dir.resolve("embeddings.parquet")
    // A fresh copy: its fingerprint misses every index other suites built.
    Files.copy(Paths.get(d, "embeddings.parquet"), emb)
    val liveBefore = VectorQueries.ivfAssigned.size
    def indexReadBy(): Int = {
      val index = VectorQueries.ivfAssigned(spark, dir.toString)
      val id = index.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
      ivfQueries.foreach { q =>
        val df = SparkEntry.queries(q)(spark, dir.toString)
        assert(pinnedRdds(df).contains(id), s"$q does not read the index")
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("max_by"), s"$q re-runs the assignment:\n$p")
        assert(df.count() > 0, q)
      }
      id
    }
    val first = indexReadBy()
    assert(indexReadBy() == first, "a second pass over the same snapshot rebuilt the index")
    assert(VectorQueries.ivfAssigned.size == liveBefore + 1)
    // A new snapshot of the same path: one new build, the old one released.
    assert(emb.toFile.setLastModified(emb.toFile.lastModified + 10000))
    val second = indexReadBy()
    assert(second != first, "a rotated snapshot was served the old index")
    assert(VectorQueries.ivfAssigned.size == liveBefore + 1)
  }
}
