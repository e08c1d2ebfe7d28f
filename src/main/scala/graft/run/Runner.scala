package graft.run

import graft.spec._
import graft.expand.Grid
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Evaluation layer — the "compute" stage of a sweep (SURVEY §2.2).
  *
  * Reference semantics: combo_runner.py:77-150 (sequential + pool
  * dispatch), :293-297 (multi-output split), cropping.py:1449-1459
  * (error tolerance). xyzpy's entire user-function surface is one
  * black-box per-point function; here the preferred form is a set of
  * *named Column expressions* over the axis columns — whole-stage
  * codegen'd, no serialization boundary — with Scala-closure UDFs as
  * the genuinely-black-box fallback. Spark's task scheduler replaces
  * the reference's process pools / Ray executors (V2/V3): parallelism
  * is `repartition`, not an executor kwarg.
  */
object Eval {

  /** V1 (codegen form): append named output columns computed from the
    * axis columns. One row per grid point — the tidy long result.
    */
  def withOutputs(grid: DataFrame, outputs: Seq[(String, Column)]): DataFrame =
    outputs.foldLeft(grid) { case (df, (name, c)) => df.withColumn(name, c) }

  /** V4: a single struct-valued output (e.g. from a multi-output UDF)
    * split into its fields (reference `split`/unzip,
    * combo_runner.py:293-297).
    */
  def splitStruct(df: DataFrame, structCol: String): DataFrame = {
    val others = df.columns.filterNot(_ == structCol).map(col)
    df.select(others :+ col(structCol + ".*"): _*)
  }

  /** V6: error-tolerant evaluation — failures become (NULL, error)
    * rather than failing the job (grow(raise_errors=False),
    * cropping.py:1449-1459). `fn` is the black-box; the result struct
    * carries the value and the error message.
    */
  def tryEval2(df: DataFrame, a: String, b: String, out: String)
              (fn: (Long, Long) => Double): DataFrame = {
    val u = udf { (x: Long, y: Long) =>
      try TryResult(Option(fn(x, y)), None)
      catch { case e: Throwable => TryResult(None, Some(e.toString)) }
    }
    df.withColumn(out, u(col(a), col(b)))
  }
}

/** Nullable result-or-error pair for tolerant evaluation (V6). */
final case class TryResult(value: Option[Double], error: Option[String])

/** C7: `Runner` — binds an evaluation function + constants, exposes
  * run_combos/run_cases, keeps the last result (farming.py:33-307).
  * The evaluation function is `DataFrame => DataFrame`: it appends
  * output columns to the expanded grid (constants already attached as
  * lit columns, matching combo_runner.py:517-535's constants→coords).
  */
final class Runner(
    val fn: DataFrame => DataFrame,
    val constants: Constants = Constants()) {

  @volatile var lastDF: Option[DataFrame] = None

  private def attachConstants(grid: DataFrame): DataFrame =
    constants.recorded.foldLeft(grid) { case (df, (k, v)) =>
      df.withColumn(k, lit(v))
    }

  /** Evaluate `grid`: the recorded constants attached, then `fn` —
    * the one evaluation every run, harvest and sample goes through. */
  def eval(grid: DataFrame): DataFrame = fn(attachConstants(grid))

  def runCombos(spark: SparkSession, combos: ComboSpec,
                cases: Option[CaseSpec] = None,
                shuffleSeed: Option[Long] = None): DataFrame = {
    val grid0 = Grid.expand(spark, combos, cases)
    val grid = shuffleSeed.fold(grid0)(s => Grid.shuffled(grid0, s))
    val out = eval(grid)
    lastDF = Some(out)
    out
  }

  /** C6: explicit-point runs; the dense view over the effective grid
    * NULL-fills unvisited cells (case_runner.py:23-209).
    */
  def runCases(spark: SparkSession, cases: CaseSpec): DataFrame = {
    val out = eval(Grid.casesDF(spark, cases))
    lastDF = Some(out)
    out
  }
}

object Runner {
  /** C8 `label`-style builder: declare outputs as named Columns. */
  def ofColumns(outputs: (String, Column)*): Runner =
    new Runner(df => Eval.withOutputs(df, outputs))

  def ofColumns(constants: Constants, outputs: (String, Column)*): Runner =
    new Runner(df => Eval.withOutputs(df, outputs), constants)
}
