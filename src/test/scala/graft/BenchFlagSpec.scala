package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scaling-flag adjudicator is a pure function — covered here with
  * injected slow passes so the round-10 q1_agg contention artifact
  * (median poisoned by one noisy-neighbor pass) can never ship as a
  * flag again without a controlled confirmation.
  */
class BenchFlagSpec extends AnyFunSuite {

  // sf0.1 / sf0.01 on-disk byte ratio in this environment
  private val dataRatio = 9.34

  test("contention artifact: one slow pass cannot sustain a flag") {
    // the q1_agg shape: the first main-SF pass hit box contention
    // (4.55 s) but the controlled min is 0.57 s — ratio 0.57/0.20 =
    // 2.85, far under 2 x 9.34 -> withdrawn
    assert(!Bench.adjudicateFlag(
      mainTimes = Seq(4.55, 0.57, 0.61), smallTimes = Seq(0.20, 0.21, 0.22),
      dataRatio = dataRatio))
  }

  test("genuine superlinear growth keeps its flag") {
    // min 30 s vs 0.31 s -> ratio ~97 > 18.7: a real quadratic term
    assert(Bench.adjudicateFlag(
      mainTimes = Seq(31.0, 30.0, 30.5), smallTimes = Seq(0.31, 0.32, 0.31),
      dataRatio = dataRatio))
  }

  test("trivial runtimes never flag, whatever the ratio") {
    // overhead-dominated sub-0.3 s queries: ratio is meaningless
    assert(!Bench.adjudicateFlag(
      mainTimes = Seq(0.25, 0.24, 0.26), smallTimes = Seq(0.01, 0.01, 0.01),
      dataRatio = 1.0))
  }

  test("slow passes on the SMALL side cannot hide real growth") {
    // one contended small pass inflates the small median, but the min
    // keeps the true denominator: 30/0.31 still flags
    assert(Bench.adjudicateFlag(
      mainTimes = Seq(30.0, 30.2, 30.1), smallTimes = Seq(5.0, 0.31, 0.33),
      dataRatio = dataRatio))
  }

  test("degenerate zero small time never divides by zero") {
    assert(!Bench.adjudicateFlag(
      mainTimes = Seq(1.0), smallTimes = Seq(0.0), dataRatio = 1.0))
  }

  test("remeasured min: failed passes never count; all-fail yields no time") {
    // a failed pass's short elapsed time must not become the min
    assert(Bench.minOfSuccessful(Seq((9.0, true), (0.1, false), (7.5, true)))
      .contains(7.5))
    // every pass failed: no entry, not a -1.0 sentinel read as a time
    assert(Bench.minOfSuccessful(Seq((0.2, false), (0.3, false))).isEmpty)
  }
}
