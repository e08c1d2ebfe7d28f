package perfbench

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ListenerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit =
    spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.warehouse.dir", s"${sys.props("java.io.tmpdir")}/warehouse")
      .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a job is attributed to the span that launched it") {
    val probe = new Probe(spark.sparkContext, new Ledger)
    val listener = new LayerListener(probe.layerOfSpan)
    spark.sparkContext.addSparkListener(listener)
    try {
      probe.tracing = true
      spark.range(100).selectExpr("sum(id)").collect() // outside any span
      val n = probe.call("reduce", "outer") {
        probe.call("stats", "inner")(spark.range(1000).count())
        spark.range(10).groupBy().count().collect().length
      }
      assert(n == 1)
      ListenerDrain(spark.sparkContext)
      val spans = probe.recorded.map(s => s.op -> s).toMap
      val accs = listener.snapshot
      val outer = spans("outer").id
      val inner = spans("inner").id
      assert(spans("inner").parent == outer)
      assert(accs.keySet.map(_._1) == Set(outer, inner))
      assert(accs((inner, "stats")).jobs >= 1)
      assert(accs((outer, "reduce")).jobs >= 1)
      assert(accs.values.forall(a => a.stages >= a.jobs && a.tasks > 0))
      // the local property is restored when a span closes
      assert(spark.sparkContext.getLocalProperty(Probe.SpanProp) == null)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("an engine call inside a span is attributed to the engine's layer") {
    val probe = new Probe(spark.sparkContext, new Ledger)
    val listener = new LayerListener(probe.layerOfSpan)
    spark.sparkContext.addSparkListener(listener)
    try {
      probe.tracing = true
      val dir = java.nio.file.Files.createTempDirectory("perfbench-spec").toString
      probe.call("run", "harvest") {
        val store = new graft.store.ParquetStore(spark, s"$dir/store", Seq("id"))
        store.mergeIn(spark.range(50).toDF("id"))
      }
      ListenerDrain(spark.sparkContext)
      val id = probe.recorded.head.id
      val accs = listener.snapshot
      assert(accs.get((id, "store")).exists(_.jobs >= 1))
      val m = LayerReport.layers(probe.recorded, accs, cores = 2)
      assert(m("store.calls") == 1 && m("run.calls") == 1)
      assert(m("store.self_s") > 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("without tracing a call is only counted") {
    val probe = new Probe(spark.sparkContext, new Ledger)
    assert(probe.call("run", "x")(spark.range(5).count()) == 5)
    val zero = 0
    intercept[ArithmeticException](probe.call("run", "y")(1 / zero))
    assert(probe.recorded.isEmpty)
    assert(probe.ledger.attempted == 2 && probe.ledger.failed == 1)
  }
}
