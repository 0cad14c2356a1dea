package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail rule picks the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailLevel(19).isEmpty)
    assert(Stats.tailLevel(20).contains(0.5))
    assert(Stats.tailLevel(39).contains(0.5))
    assert(Stats.tailLevel(40).contains(0.75))
    assert(Stats.tailLevel(99).contains(0.75))
    assert(Stats.tailLevel(100).contains(0.9))
    assert(Stats.tailLevel(199).contains(0.9))
    assert(Stats.tailLevel(200).contains(0.95))
    assert(Stats.tailLevel(1000).contains(0.99))
    assert(Stats.tailLevel(10000).contains(0.999))
  }

  test("the chosen percentile leaves exactly the samples the rule counts") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(xs.count(_ > Stats.percentile(xs, 0.9)) == Stats.beyond(100, 0.9))
    assert(Stats.median(xs) == 50.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("failed operations sort after every successful one") {
    val ops = (1 to 99).map(i => Op("q", s"q$i", i.toDouble, ok = true, 0)) :+ Op("q", "bad", 0.001, ok = false, 0)
    assert(Stats.percentile(ops.map(_.latency), 1.0).isPosInfinity)
    assert(Stats.percentile(ops.map(_.latency), 0.9) == 90.0)
    assert(Stats.geomean(Seq(1.0, 2.0, Double.PositiveInfinity)).isPosInfinity)
  }

  test("the geometric mean weighs every operation alike") {
    assert(math.abs(Stats.geomean(Seq(0.5, 2.0)) - 1.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(0.25, 0.5, 1.0, 2.0)) - math.sqrt(0.5)) < 1e-12)
  }
}
