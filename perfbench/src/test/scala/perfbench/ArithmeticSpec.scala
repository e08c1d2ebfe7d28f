package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ArithmeticSpec extends AnyFunSuite {

  test("tail percentile is the highest with ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    val t = Summary.tail(xs).toOption.get
    assert(t.pct == 75 && t.beyond == 10 && t.value == 30.0 && t.n == 40)
    // one more sample moves the percentile up, never past ten beyond
    val t41 = Summary.tail((1 to 41).map(_.toDouble)).toOption.get
    assert(t41.pct == 75 && t41.beyond >= 10)
    val t100 = Summary.tail((1 to 100).map(_.toDouble)).toOption.get
    assert(t100.pct == 90 && t100.beyond == 10 && t100.value == 90.0)
    // input order does not matter
    assert(Summary.tail(xs.reverse) == Summary.tail(xs))
  }

  test("tail percentile is refused with fewer than ten samples beyond the median") {
    assert(Summary.tail((1 to 19).map(_.toDouble)).isLeft)
    assert(Summary.tail(Nil).isLeft)
    val t20 = Summary.tail((1 to 20).map(_.toDouble)).toOption.get
    assert(t20.pct == 50 && t20.beyond == 10)
  }

  test("median and bimodality flag") {
    assert(Summary.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Summary.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    // the d11 pattern: a fast mode at a third of the median
    assert(Summary.bimodal(Seq(2.4, 17.0, 17.1, 16.9, 17.2)))
    assert(!Summary.bimodal(Seq(9.0, 10.0, 11.0)))
    assert(!Summary.bimodal(Nil))
  }

  test("failed_frac counts a throwing layer call and a failed check") {
    val l = new Ledger
    assert(l.call(1) == 1)
    intercept[IllegalStateException](l.call(throw new IllegalStateException("boom")))
    assert(l.check("holds")(true))
    assert(!l.check("breaks")(false))
    assert(!l.check("throws")(throw new RuntimeException("bad")))
    assert(l.attempted == 5)
    assert(l.failed == 3)
    assert(l.failedFrac == 3.0 / 5)
    assert(l.failedChecks.size == 2 && l.failedChecks.exists(_.startsWith("throws:")))
  }

  test("tracing overhead compares traced set-ups with the untraced one between them") {
    // cold, traced, untraced, traced: a linear drift cancels
    val (d, frac) = Summary.overhead(Seq(9.0, 2.2, 2.0, 2.0))
    assert(math.abs(d - 0.1) < 1e-12 && math.abs(frac - 0.05) < 1e-12)
    val (flat, _) = Summary.overhead(Seq(9.0, 3.0, 2.5, 2.0))
    assert(flat == 0.0)
    intercept[IllegalArgumentException](Summary.overhead(Seq(1.0, 2.0, 3.0)))
  }

  test("a failed call is never recorded as a time") {
    val l = new Ledger
    val rounds = Seq(1, 2, 3).map { i =>
      try Some(l.call(if (i == 2) throw new RuntimeException("x") else i.toDouble))
      catch { case _: RuntimeException => None }
    }
    assert(rounds == Seq(Some(1.0), None, Some(3.0)))
    assert(Summary.median(rounds.flatten) == 2.0)
  }

  private def span(id: Int, parent: Int, start: Double, end: Double, layer: String = "run") =
    Span(id, layer, s"op$id", parent, 0, start, end)

  test("union coverage merges overlapping and clips to the parent") {
    assert(Intervals.covered(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0)), 0, 10) == 4.0)
    assert(Intervals.covered(Seq((-5.0, 2.0), (8.0, 20.0)), 0, 10) == 4.0)
    assert(Intervals.covered(Nil, 0, 10) == 0.0)
    assert(Intervals.covered(Seq((0.0, 10.0), (2.0, 3.0)), 0, 10) == 10.0)
  }

  test("span self time subtracts nested and overlapping children once") {
    val spans = Seq(
      span(1, Span.NoParent, 0, 100),
      span(2, 1, 10, 40),
      span(3, 2, 15, 25),
      span(4, 1, 30, 60)) // overlaps span 2 by ten
    val self = Intervals.selfTimes(spans)
    assert(self(1) == 100 - 50) // children cover [10, 60]
    assert(self(2) == 30 - 10)
    assert(self(3) == 10)
    assert(self(4) == 30)
    // jobs of another layer inside span 4, overlapping each other
    val withJobs = Intervals.selfTimes(spans, Map(4 -> Seq((35.0, 45.0), (40.0, 50.0))))
    assert(withJobs(4) == 30 - 15)
    assert(withJobs(1) == self(1))
  }

  test("layer report moves foreign-layer work out of its span") {
    val spans = Seq(span(1, Span.NoParent, 0, 100, "run"))
    val own = new Acc; own.jobs = 1; own.taskMs = 400; own.jobIntervals += ((0.0, 20.0))
    val store = new Acc; store.jobs = 2; store.taskMs = 800
    store.jobIntervals ++= Seq((30.0, 50.0), (45.0, 70.0))
    val m = LayerReport.layers(spans, Map((1, "run") -> own, (1, "store") -> store), cores = 4)
    assert(m("run.calls") == 1 && m("store.calls") == 1)
    assert(m("store.self_s") == 0.040)
    assert(math.abs(m("run.self_s") - 0.060) < 1e-12)
    assert(m("store.jobs") == 2 && m("run.jobs") == 1)
    assert(m("store.util") == 0.8 / (0.040 * 4))
    assert(m("batch.calls") == 0 && m("batch.util") == 0)
  }

  test("call sites map to the innermost engine layer") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:10)",
      "graft.store.ParquetStore.$anonfun$mergeIn$1(Store.scala:300)",
      "graft.store.WriteLease$.withLease(Store.scala:80)",
      "graft.run.Harvester.harvestCombos(Farming.scala:45)",
      "perfbench.SweepHarvest.round(SweepHarvest.scala:90)").mkString("\n")
    assert(Layers.ofCallSite(site).contains("store"))
    assert(Layers.ofCallSite("graft.Materialize$.truncate(Materialize.scala:150)")
      .contains("materialize"))
    assert(Layers.ofCallSite("graft.spec.Axis.<init>(Specs.scala:20)").contains("expand"))
    assert(Layers.ofCallSite("graft.sources.Wet$.read(Wet.scala:1)\nperfbench.Main.run(Main.scala:1)")
      .isEmpty)
    assert(Layers.ofCallSite(null).isEmpty)
    // harvestCombos' own job is the missing-point query over the grid
    assert(Layers.ofCallSite(Seq(
      "graft.run.Harvester.harvestCombos(Farming.scala:40)",
      "perfbench.SweepHarvest.round(SweepHarvest.scala:50)").mkString("\n"))
      .contains("expand"))
    assert(Layers.ofCallSite("graft.run.Harvester.harvestCases(Farming.scala:51)")
      .contains("run"))
  }
}
