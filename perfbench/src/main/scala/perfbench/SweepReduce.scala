package perfbench

import graft.batch.Crop
import graft.expand.Grid
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, sum}

/** The bulk half of [[Sweep]], xyzpy's read and compute side: set-up
  * runs one large sweep through Crop (sow into batches, bulk grow,
  * reap); each round runs the reduction set over the reaped frame. */
final class SweepReduce(ctx: Ctx) extends Workload {
  import Inputs.Sweep._

  private val spark = ctx.spark
  private val m = new SweepModel(ctx)
  private val bulk = bulkAxes(ctx.seed)
  private var reaped: DataFrame = _
  private var first: Seq[Seq[Row]] = Nil
  private var roundsDiffer = 0
  private val cropS = scala.collection.mutable.ArrayBuffer.empty[Double]

  def generate(): Unit = () // the grid and failure points derive from the seed

  def setup(rep: Int): Unit = {
    val t0 = System.nanoTime()
    val crop = new Crop(spark, s"${ctx.work}/reduce/crop$rep", m.keys)
    ctx.call("batch", "Crop.sow")(
      crop.sow(Grid.expand(spark, m.combos(bulk)), numBatches = Some(batches)))
    ctx.call("materialize", "Materialize.releaseAll")(graft.Materialize.releaseAll())
    ctx.call("batch", "Crop.growMissingBulk")(crop.growMissingBulk(m.runner.fn))
    reaped = ctx.call("batch", "Crop.reap")(crop.reap())
    cropS += (System.nanoTime() - t0) / 1e9
  }

  /** Grid points through sow, grow and reap per second, over the
    * median of the set-ups' bulk sweeps. */
  def pointsPerS: Double = points(bulk) / Summary.median(cropS.toSeq)

  def round(i: Int): Long = {
    val res = m.reductions(reaped, bulk)
    if (first.isEmpty) first = res
    else if (!SweepModel.same(first, res)) roundsDiffer += 1
    points(bulk)
  }

  def check(): Unit = {
    val ledger = ctx.ledger
    val cols = (m.keys ++ m.outputs).map(col)
    val direct = ctx.call("run", "Runner.runCombos") {
      // a seeded evaluation order spreads the points over the cores
      val d = graft.Materialize.reuse(
        m.runner.runCombos(spark, m.combos(bulk), shuffleSeed = Some(ctx.seed)))
      d.count()
      d
    }
    // rows counted with sign by side: any key and output combination
    // left with a non-zero sum is in one frame more often than in the
    // other (both directions of exceptAll in one aggregation)
    val diff = reaped.select(cols :+ lit(1).as("side"): _*)
      .unionByName(direct.select(cols :+ lit(-1).as("side"): _*))
      .groupBy(cols: _*).agg(sum("side").as("n")).filter(col("n") =!= 0)
    ledger.check("reaped frame equals Runner.runCombos")(
      reaped.count() == points(bulk) && direct.count() == points(bulk) && diff.isEmpty)
    ledger.check("every round's reductions agree")(roundsDiffer == 0)
    if (first.nonEmpty) m.checkReductions(reaped, first)
    graft.Materialize.releaseAll()
  }

  override def extras(): Map[String, Double] = Map("run.error_frac" -> m.errorFrac(reaped))
}
