package graft

import org.scalatest.funsuite.AnyFunSuite

/** The host calibration [[Bench.calibrate]] that travels as `calib` in the
  * bench line.
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
}
