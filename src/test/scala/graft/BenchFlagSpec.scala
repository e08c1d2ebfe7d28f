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

  test("timing outlier: a bimodal row whose median is the outlier is flagged") {
    // d11 at 32 cores (bench_full_c32_sf0.1.json): no spike past 2.5x
    // the median and a tight MAD, but min/median 0.14
    assert(Bench.isTimingOutlier(med = 17.004, disp = 0.033, max = 17.566, min = 2.418))
    // a tight row is left alone
    assert(!Bench.isTimingOutlier(med = 2.0, disp = 0.02, max = 2.2, min = 1.9))
    // the spike and swing rules still fire
    assert(Bench.isTimingOutlier(med = 2.0, disp = 0.02, max = 5.1, min = 1.9))
    assert(Bench.isTimingOutlier(med = 2.0, disp = 0.4, max = 2.9, min = 1.2))
  }

  test("total line: name lists that would pass 1900 chars become counts") {
    val head = "\"metric\":\"total\",\"value\":1.0"
    val tail = "\"n_queries\":185,\"queries_parts\":3"
    val short = Bench.totalLine(head, Seq("failed" -> Seq("q1"), "scaling_flags" -> Nil), tail)
    assert(short == "{" + head + ",\"failed\":[\"q1\"],\"scaling_flags\":[]," + tail + "}")
    val many = (1 to 185).map(i => f"q$i%03d_some_long_query_name")
    val long = Bench.totalLine(head,
      Seq("failed" -> many, "scaling_flags" -> many.take(2), "scaling_failed" -> Nil), tail)
    assert(long.length <= 1900, long.length)
    assert(long == "{" + head +
      ",\"n_failed\":185,\"n_scaling_flags\":2,\"n_scaling_failed\":0," + tail + "}")
  }

  test("remeasured min: failed passes never count; all-fail yields no time") {
    // a failed pass's short elapsed time must not become the min
    assert(Bench.minOfSuccessful(Seq((9.0, true), (0.1, false), (7.5, true)))
      .contains(7.5))
    // every pass failed: no entry, not a -1.0 sentinel read as a time
    assert(Bench.minOfSuccessful(Seq((0.2, false), (0.3, false))).isEmpty)
  }

  test("run order: name order over the list given; an unknown name fails first") {
    // bench_full's `order` is this list: the queries as they were timed
    val reg = Set("p4_monthly_refresh", "cp9_takedown_audit", "d11_incremental_dedup")
    assert(Bench.runOrder(reg, None) ==
      Seq("cp9_takedown_audit", "d11_incremental_dedup", "p4_monthly_refresh"))
    assert(Bench.runOrder(reg, Some("p4_monthly_refresh,cp9_takedown_audit")) ==
      Seq("cp9_takedown_audit", "p4_monthly_refresh"))
    val e = intercept[IllegalArgumentException](
      Bench.runOrder(reg, Some("p4_monthly_refresh,no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
  }
}
