package perfbench

import graft.collect.Collect
import graft.reduce.Reduce
import graft.run.{Eval, Runner}
import graft.spec.{Axis, ComboSpec}
import graft.stats.{Stats, WelfordAgg}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** What both sweeps share: the evaluated function, its independent
  * re-computation, the reduction set and the reductions' checks. */
final class SweepModel(ctx: Ctx) {
  import Inputs.Sweep._

  val keys: Seq[String] = Seq("a", "b", "c", "d")
  val outputs: Seq[String] = Seq("x", "y", "t_val", "t_err")
  private val seed = ctx.seed
  private val permille = failPermille(seed)

  /** Codegen columns plus the tolerant black box, whose (value, error)
    * struct is split into two columns. */
  val runner: Runner = new Runner(df => {
    val (s, pm) = (seed, permille)
    Eval.tryEval2(Eval.withOutputs(df, Seq(
      "x" -> (sin(col("a") * 0.01) * col("c") + col("b") * 0.001),
      "y" -> (cos(col("b") * 0.02) + col("c") * col("c")))),
      "a", "b", "t")((a, b) => blackBox(s, pm)(a, b))
      .withColumn("t_val", col("t.value"))
      .withColumn("t_err", col("t.error"))
      .drop("t")
  })

  def combos(axes: Seq[Inputs.AxisVals]): ComboSpec =
    ComboSpec(axes.map(a => Axis(a.name, a.values)))

  /** Every point of a grid, as key tuples. */
  def pointsOf(axes: Seq[Inputs.AxisVals]): Vector[Vector[Any]] =
    axes.map(_.values).foldLeft(Vector(Vector.empty[Any])) {
      (acc, vs) => for (p <- acc; v <- vs) yield p :+ v
    }

  def key(row: Row): (Long, Long, Double, String) =
    (row.getAs[Long]("a"), row.getAs[Long]("b"), row.getAs[Double]("c"), row.getAs[String]("d"))

  def keyOf(p: Vector[Any]): (Long, Long, Double, String) =
    (p(0).asInstanceOf[Long], p(1).asInstanceOf[Long], p(2).asInstanceOf[Double],
      p(3).asInstanceOf[String])

  /** Whether a stored row holds the outputs computed without the engine. */
  def matches(r: Row): Boolean = {
    val (a, b, c, _) = key(r)
    val t = if (fails(seed, permille)(a, b)) None else Some(blackBox(seed, permille)(a, b))
    def isNull(f: String) = r.isNullAt(r.fieldIndex(f))
    Close(r.getAs[Double]("x"), x(a, b, c)) && Close(r.getAs[Double]("y"), y(b, c)) &&
      (t match {
        case Some(v) => !isNull("t_val") && Close(r.getAs[Double]("t_val"), v) && isNull("t_err")
        case None    => isNull("t_val") && !isNull("t_err")
      })
  }

  private val quantiles = Seq("x_q10" -> 0.1, "x_q50" -> 0.5, "x_q90" -> 0.9)

  /** The read-back: every reduction the sweep's plots and reports use,
    * each collected inside its own layer call. */
  def reductions(df: DataFrame, grid: Seq[Inputs.AxisVals]): Seq[Seq[Row]] = {
    val (b0, d0) = (grid(1).values.head, grid(3).values.head)
    Seq(
      ctx.call("reduce", "Reduce.exactQuantiles")(
        Reduce.exactQuantiles(df, Seq("d"), "x", quantiles).collect().toSeq),
      ctx.call("reduce", "Reduce.quantileBand")(
        Reduce.quantileBand(df, Seq("c"), "y").collect().toSeq),
      ctx.call("reduce", "Reduce.stdBand")(
        Reduce.stdBand(df, Seq("d"), "t_val").collect().toSeq),
      ctx.call("reduce", "Reduce.histogram")(
        Reduce.histogram(df, "x", 40, -2.0, 12.0).collect().toSeq),
      ctx.call("reduce", "Reduce.heatmap")(
        Reduce.heatmap(df.filter(col("b") === b0 && col("d") === d0), "c", "a", "y",
          grid(2).values).collect().toSeq),
      ctx.call("stats", "WelfordAgg")(
        df.filter(col("t_val").isNotNull).groupBy("d")
          .agg(WelfordAgg.column(col("t_val")).as("w"))
          .select("d", "w.n", "w.mean", "w.stdSamp").collect().toSeq),
      ctx.call("stats", "Stats.covarianceMatrix")(
        Stats.covarianceMatrix(df, Seq("x", "y", "t_val"), sample = true)
          .collect().toSeq),
      ctx.call("collect", "Collect.dense")(
        Collect.dense(df.groupBy("a", "d").agg(avg("x").as("x")), Seq("a"), "d", "x",
          grid(3).values).collect().toSeq))
  }

  /** Reductions against Spark's builtins over the same frame (relative
    * 1e-9). */
  def checkReductions(df: DataFrame, res: Seq[Seq[Row]]): Unit = {
    val ledger = ctx.ledger
    def byKey[K](rows: Seq[Row], k: Row => K) = rows.map(r => k(r) -> r).toMap
    val qs = byKey(res(0), _.getString(0))
    val ref = df.groupBy("d").agg(expr("percentile(x, 0.1)"), expr("percentile(x, 0.5)"),
      expr("percentile(x, 0.9)")).collect()
    ledger.check("exactQuantiles match percentile")(ref.length == qs.size && ref.forall { row =>
      qs.get(row.getString(0)).exists(q => (1 to 3).forall(j => Close(q.getDouble(j), row.getDouble(j))))
    })
    val band = byKey(res(1), _.getDouble(0))
    val bref = df.groupBy("c").agg(expr("percentile(y, 0.5)"), expr("percentile(y, 0.16)"),
      expr("percentile(y, 0.84)")).collect()
    ledger.check("quantileBand matches percentile")(bref.length == band.size && bref.forall { row =>
      band.get(row.getDouble(0)).exists(q => (1 to 3).forall(j => Close(q.getDouble(j), row.getDouble(j))))
    })
    val sref = byKey(df.groupBy("d").agg(avg("t_val"), stddev_samp("t_val"), count("t_val"))
      .collect().toSeq, _.getString(0))
    // a group with one value has no sample deviation: NULL from the
    // builtin, NaN from Welford
    def same(row: Row, i: Int, s: Row, j: Int): Boolean =
      if (s.isNullAt(j)) row.isNullAt(i) || row.getDouble(i).isNaN
      else !row.isNullAt(i) && Close(row.getDouble(i), s.getDouble(j))
    ledger.check("stdBand matches stddev_samp")(res(2).size == sref.size && res(2).forall { row =>
      sref.get(row.getString(0)).exists { s =>
        same(row, 1, s, 1) && (s.isNullAt(2) ||
          Close(row.getDouble(2), s.getDouble(1) - s.getDouble(2)) &&
            Close(row.getDouble(3), s.getDouble(1) + s.getDouble(2)))
      }
    })
    // Welford runs over present values only: groups whose every value
    // failed have no row
    ledger.check("WelfordAgg matches stddev_samp")(
      res(5).size == sref.values.count(_.getLong(3) > 0) && res(5).forall { row =>
        sref.get(row.getString(0)).exists { s =>
          row.getLong(1) == s.getLong(3) && same(row, 2, s, 1) && same(row, 3, s, 2)
        }
      })
    val cref = df.agg(covar_samp("x", "y"), covar_samp("x", "t_val"),
      covar_samp("y", "t_val"), var_samp("x")).head()
    val cov = res(6).head
    ledger.check("covarianceMatrix matches covar_samp")(
      Close(cov.getAs[Double]("cov_x_y"), cref.getDouble(0)) &&
        Close(cov.getAs[Double]("cov_x_t_val"), cref.getDouble(1)) &&
        Close(cov.getAs[Double]("cov_y_t_val"), cref.getDouble(2)) &&
        Close(cov.getAs[Double]("cov_x_x"), cref.getDouble(3)))
    ledger.check("histogram counts every in-range point")(
      res(3).map(_.getAs[Long]("n")).sum == df.filter(col("x").between(-2.0, 12.0)).count())
  }

  /** Share of rows whose black-box evaluation failed. */
  def errorFrac(df: DataFrame): Double =
    df.agg(avg(col("t_err").isNotNull.cast("double"))).head().getDouble(0)
}

object SweepModel {
  /** Result sets equal up to floating-point summation order. */
  def same(a: Seq[Seq[Row]], b: Seq[Seq[Row]]): Boolean = {
    def sorted(rs: Seq[Row]) = rs.sortBy(_.get(0).toString)
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && sorted(x).zip(sorted(y)).forall { case (r, q) =>
        r.size == q.size && (0 until r.size).forall { i =>
          (r.get(i), q.get(i)) match {
            case (u: Double, v: Double) => Close(u, v) || u.isNaN && v.isNaN
            case (u, v)                 => u == v
          }
        }
      }
    }
  }
}
