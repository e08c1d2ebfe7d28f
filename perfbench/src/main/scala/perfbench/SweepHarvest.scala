package perfbench

import graft.run.{Harvester, Sampler}
import graft.spec.CaseSpec
import graft.store.ParquetStore

import scala.collection.mutable

/** The campaign half of [[Sweep]], xyzpy's incremental campaign: many
  * small commits into a growing store. Set-up harvests the starting grid into a store partitioned by
  * `d`. Each round widens one axis, harvests the missing points
  * (`missingOnly`: the engine anti-joins the grid with the store),
  * merges seeded cases, appends seeded samples to a second store, and
  * reads a quantile band back. */
final class SweepHarvest(ctx: Ctx) extends Workload {
  import Inputs.Sweep._

  private val spark = ctx.spark
  private val m = new SweepModel(ctx)
  private val seed = ctx.seed
  private var store: ParquetStore = _
  private var axes = campaignAxes(seed)
  private val cases = mutable.LinkedHashSet.empty[Vector[Any]]
  private var samples = 0L
  private def samplesPath = s"${ctx.work}/harvest/samples"

  // traced-run counters
  private var requested = 0L
  private var skipped = 0L
  private val rewrite = mutable.ArrayBuffer.empty[Double]
  private var filesWritten = 0L

  def generate(): Unit = () // grids, cases, samples and failures derive from the seed

  def setup(rep: Int): Unit = {
    store = new ParquetStore(spark, s"${ctx.work}/harvest/store$rep", m.keys,
      partitionCols = Seq("d"))
    axes = campaignAxes(seed)
    ctx.call("run", "Harvester.harvestCombos")(new Harvester(m.runner, store)
      .harvestCombos(axes.map(a => a.name -> Some(a.values)), missingOnly = true))
    cases.clear()
  }

  def round(k: Int): Long = {
    val before = points(axes)
    axes = widen(seed, k, axes)
    val n = points(axes)
    // the store holds every point of the previous grid and cases whose
    // `a` lies off every grid (>= 4000), so the missing points are the
    // ones the widened axis value adds
    val missing = n - before
    val grid = m.combos(axes)
    val harvester = new Harvester(m.runner, store)
    measured(ctx.call("run", "Harvester.harvestCombos")(
      harvester.harvestCombos(axes.map(a => a.name -> Some(a.values)),
        missingOnly = true)))
    val cs = Inputs.Sweep.cases(seed, k, axes)
    measured(ctx.call("run", "Harvester.harvestCases")(
      harvester.harvestCases(CaseSpec(m.keys, cs))))
    cases ++= cs
    ctx.call("run", "Sampler.sample")(
      new Sampler(m.runner, new ParquetStore(spark, samplesPath, m.keys))
        .sample(grid, samplesPerRound, sampleSeed(seed, k)))
    samples += samplesPerRound
    ctx.call("reduce", "Reduce.quantileBand")(
      graft.reduce.Reduce.quantileBand(store.load(), Seq("d"), "x").collect())
    requested += n
    skipped += n - missing
    missing + cs.size + samplesPerRound
  }

  /** Files and bytes a store mutation wrote, read off the store
    * directory (traced runs only). */
  private def measured[T](body: => T): T =
    if (!ctx.tracing) body
    else {
      val before = Files.parquet(store.path)
      val r = body
      val after = Files.parquet(store.path)
      val fresh = after.filter { case (p, _) => !before.contains(p) }
      filesWritten += fresh.size
      val total = after.values.sum
      if (total > 0) rewrite += fresh.values.sum.toDouble / total
      r
    }

  def check(): Unit = {
    val ledger = ctx.ledger
    val cols = (m.keys ++ m.outputs).map(org.apache.spark.sql.functions.col)
    val stored = store.load().select(cols: _*).collect()
    val want = (m.pointsOf(axes) ++ cases).map(m.keyOf).toSet
    ledger.check("store has no duplicate keys")(
      stored.map(m.key).distinct.length == stored.length)
    ledger.check("store equals a one-shot evaluation of every requested point")(
      stored.length == want.size && stored.forall(r => want.contains(m.key(r)) && m.matches(r)))
    val sampled = spark.read.parquet(samplesPath).select(cols: _*).collect()
    ledger.check("samples are evaluated and appended")(
      sampled.length == samples && sampled.forall(m.matches))
  }

  override def extras(): Map[String, Double] = Map(
    "expand.skip_frac" -> (if (requested > 0) skipped.toDouble / requested else 0.0),
    "run.error_frac" -> m.errorFrac(store.load()),
    "store.files_written" -> filesWritten.toDouble,
    "store.rewrite_frac" -> (if (rewrite.nonEmpty) rewrite.sum / rewrite.size else 0.0))
}
