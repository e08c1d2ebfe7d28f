package graft.run

import graft.expand.Grid
import graft.spec._
import graft.store.{Merge, ParquetStore}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `Harvester` — a Runner bound to an on-disk store: run sweeps, merge
  * results in, skip already-harvested points (farming.py:413-766).
  *
  * The store is a parquet directory keyed by the axis columns.
  * `harvestCombos(missingOnly = true)` is the work-skipping path
  * (xyzpy's core incremental-compute feature, farming.py:758-766): one
  * insert-only commit ([[ParquetStore.insertMissing]]) anti-joins the
  * requested grid against the store keys under the write lease,
  * evaluates only the unvisited points and appends them; no stored
  * file is rewritten. Every other harvest is an upsert through
  * [[ParquetStore.mergeIn]], which rewrites the partitions it touches.
  */
final class Harvester(val runner: Runner, val store: ParquetStore) {

  def spark: SparkSession = store.spark

  /** Resolve an Ellipsis axis (M10, farming.py:752-756): `None` value
    * lists reuse the store's observed coordinates. */
  private def resolveAxes(combos: Seq[(String, Option[Seq[Any]])]): Seq[DataFrame] =
    combos.map {
      case (name, Some(vals)) => Grid.axisDF(spark, Axis(name, vals))
      case (name, None) =>
        require(store.exists, s"Ellipsis axis '$name' needs an existing store")
        store.coords(name).toDF(name)
    }

  /** Harvest a combo sweep and return the full store. With
    * `missingOnly`, only the points the store lacks are evaluated and
    * appended ([[ParquetStore.insertMissing]]); `mode` has no effect
    * there, since those keys are new. Otherwise every point is
    * evaluated and merged in under `mode`.
    */
  def harvestCombos(combos: Seq[(String, Option[Seq[Any]])],
                    missingOnly: Boolean = false,
                    mode: Merge.Mode = Merge.NoConflicts): DataFrame = {
    val grid = Grid.expandDFs(resolveAxes(combos))
    if (missingOnly) store.insertMissing(grid, runner.eval)
    else if (!grid.isEmpty) store.mergeIn(runner.eval(grid), mode)
    store.load()
  }

  /** Harvest explicit cases (farming.py:768-790). */
  def harvestCases(cases: CaseSpec,
                   mode: Merge.Mode = Merge.NoConflicts): DataFrame = {
    store.mergeIn(runner.eval(Grid.casesDF(spark, cases)), mode)
    store.load()
  }
}

/** `Sampler` — random parameter points appended to a tidy long table
  * (farming.py:860-1021): no alignment, no conflict rules, just rows.
  */
final class Sampler(val runner: Runner, val store: ParquetStore) {

  def spark: SparkSession = store.spark

  /** Draw `n` points uniformly from the combo grid, evaluate, append.
    * Per-axis weighted draws (xyzpy's `np.random.choice` with custom
    * samplers) are the `weights` hook. */
  def sample(combos: ComboSpec, n: Int, seed: Long = 42): DataFrame = {
    val grid = Grid.expand(spark, combos)
    val picked = Grid.sample(grid, n, seed)
    val out = runner.eval(picked)
    store.append(out)
    store.load()
  }
}

/** `@label`-style builders (farming.py:310-410): declare outputs once,
  * get a Runner / Harvester / Sampler bound to them. */
object Farming {
  def runner(outputs: (String, Column)*): Runner = Runner.ofColumns(outputs: _*)

  def harvester(spark: SparkSession, path: String, keys: Seq[String],
                outputs: (String, Column)*): Harvester =
    new Harvester(Runner.ofColumns(outputs: _*),
      new ParquetStore(spark, path, keys))

  def sampler(spark: SparkSession, path: String, keys: Seq[String],
              outputs: (String, Column)*): Sampler =
    new Sampler(Runner.ofColumns(outputs: _*),
      new ParquetStore(spark, path, keys))
}
