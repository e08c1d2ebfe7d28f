package graft.expand

import graft.spec._
import org.apache.spark.sql.{DataFrame, SparkSession, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Grid expansion — the scan/source side of a sweep.
  *
  * Reference semantics: combo_runner.py:201-218 (`cases × ∏ combos`),
  * case_runner.py:304-344 (`parse_into_cases` incl. missing-only
  * anti-join), combo_runner.py:257-266 (case-coordinate union).
  *
  * Scale design: axis tables are tiny (the grid is the *parameter*
  * space, not the data), so every crossJoin broadcasts — Catalyst plans
  * BroadcastNestedLoopJoin; no shuffle is introduced. The grid DataFrame
  * is then the left side of whatever evaluation/join runs next, and for
  * very large grids (millions of points) `repartition` spreads the
  * evaluation without materializing anything on the driver.
  */
object Grid {

  /** One single-column DataFrame per axis. */
  def axisDF(spark: SparkSession, axis: Axis): DataFrame = {
    val dt = axis.dataType
    val schema = StructType(Seq(StructField(axis.name, dt, nullable = false)))
    val rows = axis.values.map(v => Row(Axis.normalize(v)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Cases as a DataFrame (E2). */
  def casesDF(spark: SparkSession, cases: CaseSpec): DataFrame = {
    require(cases.rows.nonEmpty, "cases must be non-empty")
    val fields = cases.argNames.zipWithIndex.map { case (n, i) =>
      StructField(n, Axis.inferType(n, cases.rows.map(_(i))), nullable = false)
    }
    val rows = cases.rows.map(r => Row(r.map(Axis.normalize): _*))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(fields))
  }

  /** Cartesian expansion (E3): `cases × ∏ combos`, with disjoint arg
    * sets enforced (combo_runner.py:194-199). Axes are broadcast —
    * each crossJoin is a BroadcastNestedLoopJoin, no shuffle.
    */
  def expand(spark: SparkSession, combos: ComboSpec,
             cases: Option[CaseSpec] = None): DataFrame = {
    cases.foreach { c =>
      val overlap = combos.names.toSet.intersect(c.argNames.toSet)
      require(overlap.isEmpty,
        s"combos and cases share args: $overlap (must be disjoint)")
    }
    val axisDfs = combos.axes.map(a => broadcast(axisDF(spark, a)))
    val caseDf = cases.map(c => casesDF(spark, c)).map(broadcast)
    val parts = caseDf.toSeq ++ axisDfs
    require(parts.nonEmpty, "need at least one combo axis or cases")
    parts.reduce(_.crossJoin(_))
  }

  /** Expand from axis DataFrames already in Spark (e.g. Ellipsis axes
    * M10: `store.select(axis).distinct()` reused as an axis).
    */
  def expandDFs(axes: Seq[DataFrame]): DataFrame = {
    require(axes.nonEmpty, "need at least one axis DataFrame")
    axes.map(a => broadcast(a)).reduce(_.crossJoin(_))
  }

  /** Case-coordinate union (E5): sorted distinct values of one arg —
    * the effective full-grid coordinates (combo_runner.py:257-266).
    */
  def coordUnion(df: DataFrame, arg: String): DataFrame =
    df.select(arg).distinct().orderBy(arg)

  /** Effective dense grid implied by observed cases: the Cartesian
    * product of each axis's coordinate union (case_runner semantics —
    * unvisited cells become NULL rows after the outer join).
    */
  def effectiveGrid(df: DataFrame, args: Seq[String]): DataFrame =
    expandDFs(args.map(a => df.select(a).distinct()))

  /** Missing-point discovery (E6/M9): grid points with no row in
    * `store` — a broadcast left-anti equi-join on all axis columns.
    * This is xyzpy's `missing_only` work-skipping
    * (farming.py:758-766 → case_runner.py:304-344). Duplicate keys on
    * the store side do not change a left-anti join's result, so the
    * store's keys are not de-duplicated first (that would add an
    * aggregate and a shuffle over the whole key set).
    */
  def missing(grid: DataFrame, store: DataFrame, keys: Seq[String]): DataFrame =
    grid.join(store.select(keys.map(col): _*), keys, "left_anti")

  /** Seeded-random evaluation order (E4, combo_runner.py:220-224):
    * relationally order is irrelevant — exposed for load-balancing a
    * skewed evaluation stage (spreads expensive neighbouring points
    * across partitions).
    */
  def shuffled(grid: DataFrame, seed: Long): DataFrame =
    grid.orderBy(rand(seed))

  /** Random parameter sampling (E7, farming.py:1010-1021): draw `n`
    * points uniformly from the grid — `orderBy(rand).limit(n)` plans
    * as TakeOrderedAndProject: per-partition top-n then a driver-side
    * merge of n·partitions candidates. (A row_number window over the
    * same order would funnel the whole grid through one task.)
    */
  def sample(grid: DataFrame, n: Int, seed: Long): DataFrame =
    grid.withColumn("__r", rand(seed))
      .orderBy(col("__r"))
      .limit(n)
      .drop("__r")

  /** Deterministic systematic sample: every k-th point by a key column
    * (hash-free so it is oracle-reproducible).
    */
  def sampleEveryK(grid: DataFrame, key: String, k: Int, offset: Int): DataFrame =
    grid.filter(pmod(col(key), lit(k)) === lit(offset))

  /** Weighted per-axis sampling (E7's custom-distribution samplers,
    * farming.py:1010-1021): draw `n` parameter points, each axis
    * independently by its weights — inverse-CDF over a per-row
    * uniform, fully distributed (`spark.range(n)`, no driver-side
    * point materialization).
    */
  def sampleWeighted(spark: SparkSession, n: Long,
                     axes: Seq[(String, Seq[(Any, Double)])],
                     seed: Long): DataFrame = {
    require(axes.nonEmpty, "need at least one weighted axis")
    axes.zipWithIndex.foldLeft(spark.range(n).toDF("__i")) {
      case (df, ((name, weighted), ai)) =>
        require(weighted.nonEmpty && weighted.forall(_._2 >= 0),
          s"axis '$name' needs non-negative weights")
        val total = weighted.map(_._2).sum
        // ONE materialized draw per row: rand() is nondeterministic, so it
        // is excluded from subexpression elimination — referencing the
        // expression itself in every when-branch would redraw per branch
        // and bias the inverse CDF. An aliased nondeterministic column is
        // NOT inlined by CollapseProject, so col("__u") is a single value.
        val withU = df.withColumn("__u", rand(seed + ai) * total)
        val u = col("__u")
        // inverse CDF as a when-chain over cumulative weights
        val cum = weighted.scanLeft(0.0)(_ + _._2).tail
        val pick = weighted.zip(cum).dropRight(1)
          .foldRight(lit(Axis.normalize(weighted.last._1))) {
            case (((v, _), c), other) =>
              when(u < c, lit(Axis.normalize(v))).otherwise(other)
          }
        withU.withColumn(name, pick).drop("__u")
    }.drop("__i")
  }
}
