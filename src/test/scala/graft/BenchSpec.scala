package graft

import org.scalatest.funsuite.AnyFunSuite

/** The host calibration [[Bench.calibrate]] that travels as `calib` in the
  * bench line, and the parse of the bench's rounds setting.
  */
class BenchSpec extends AnyFunSuite {

  test("calibrate() returns a positive, repeatable per-core time") {
    // Production reps (min-of-5, the Bench setting) on both sides: the
    // wider rep count plus the min make the comparison robust to one
    // scheduler stall. The bound is still deliberately loose (10x) — this
    // asserts "returns a time of the right order, twice", NOT instrument
    // precision; a wall-clock assertion tighter than this flaked risk on a
    // loaded or frequency-scaling CI host without any code defect.
    val a = Bench.calibrate()
    val b = Bench.calibrate()
    assert(a > 0 && b > 0)
    assert(math.max(a, b) / math.min(a, b) < 10.0, s"calib unstable: $a vs $b")
  }

  test("SPARK_GRAFT_BENCH_ROUNDS: unset means 3, a bad value names the variable and value") {
    assert(Bench.parseRounds(None) == 3)
    assert(Bench.parseRounds(Some("5")) == 5)
    for (bad <- Seq("three", "0", "-2", "")) {
      val e = intercept[IllegalArgumentException](Bench.parseRounds(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_ROUNDS") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }
}
