package graft

import scala.concurrent.duration._
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Components

/** Pins the round-22 one-job-per-round contraction optimization:
  * [[Components.pinWithDigest]] rides the convergence digest on the
  * checkpoint job via Dataset.observe, and must return exactly what the
  * separate [[Components.edgeDigest]] job returned — including on empty
  * input (bit_xor over zero rows is null → 0L) — while the pinned rows stay
  * identical to the input. If a Spark upgrade ever stops delivering observed
  * metrics for the localCheckpoint action, this spec fails loudly instead of
  * the contraction loop mis-converging, and the loop itself waits a bounded
  * time before failing with the names of the missing metrics.
  */
class ObservedDigestSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("pinWithDigest digest equals edgeDigest and pin preserves rows") {
    val rnd = new scala.util.Random(22)
    for (trial <- 1 to 4) {
      val edges = Seq.fill(20 + rnd.nextInt(30))(
        (rnd.nextInt(40).toLong + 1, rnd.nextInt(40).toLong))
        .filter(e => e._1 > e._2).distinct
      val df = edges.toDF("u", "v")
      val (pinned, dig) = Components.pinWithDigest(df)
      assert(dig === Components.edgeDigest(df), s"trial $trial digest")
      assert(pinned.as[(Long, Long)].collect().sorted ===
        edges.sorted, s"trial $trial rows")
    }
  }

  test("empty input digests to (0, 0, 0) in both spellings") {
    val df = Seq.empty[(Long, Long)].toDF("u", "v")
    val (pinned, dig) = Components.pinWithDigest(df)
    assert(dig === ((0L, 0L, 0L)))
    assert(dig === Components.edgeDigest(df))
    assert(pinned.count() === 0L)
  }

  test("digest distinguishes the sets the old sum triple confused") {
    val a = Seq((3L, 1L), (4L, 2L)).toDF("u", "v")
    val b = Seq((4L, 1L), (3L, 2L)).toDF("u", "v")
    assert(Components.pinWithDigest(a)._2 !== Components.pinWithDigest(b)._2)
  }

  test("a digest that never arrives fails within the bound and names the metrics") {
    val bound = 500.millis
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](
      Components.awaitDigest(Observation(), bound))
    val waited = (System.nanoTime() - t0).nanos
    assert(waited >= bound && waited < bound * 20, s"waited $waited")
    for (m <- Seq("n, h1, h2", "contraction checkpoint"))
      assert(e.getMessage.contains(m), e.getMessage)
  }
}
