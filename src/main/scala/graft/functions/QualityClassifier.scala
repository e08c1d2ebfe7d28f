package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained discriminative quality filter — the GPT-3/CCNet classifier
  * (Brown et al. 2020 §A; Wenzek et al. 2020): logistic regression
  * separating a REFERENCE class (curated sources — wiki/books in
  * production, a declared source list here) from the web crawl,
  * scored over every document. Complements the generative LM scores
  * (t14 unigram / t18 bigram): the discriminative signal is what the
  * GPT-3 pipeline actually gated on.
  *
  * == Determinism contract (the Lloyd/t14 discipline) ==
  *
  * Training is full-batch gradient ascent with FIXED iterations and
  * micro-quantized integer weights, so a DuckDB oracle replays it to
  * the bit:
  *
  *  - features: hashed term frequencies, `x(i,j) = (c(i,j)·10⁴) div
  *    nᵢ` — exact positive-integer floor division on both engines —
  *    plus a constant feature x = 10⁴ at index `dim` (the bias rides
  *    the feature vector, no special casing anywhere).
  *  - margin: `z = Σⱼ w(j)·x(i,j)` is an exact BIGINT dot product
  *    (micro-unit weights × 10⁻⁴-unit features); the only float ops
  *    are one IEEE division (z/10¹⁰), the RATIONAL sigmoid
  *    `p = ½ + ½·z̃/(1+|z̃|)` (+,·,/,|·| are all correctly rounded —
  *    no exp, whose libm implementations differ across engines), and
  *    the per-document `round(err·x)` back into integer space.
  *  - gradient: Σᵢ round(errᵢ·x(i,j)) is an exact integer sum —
  *    order-independent, so partitioning/merge order can't perturb
  *    it. Weight update `w += round(g·100/n)` quantizes to micro-units
  *    (half-away-from-zero on both engines).
  *
  * == Shape for scale ==
  *
  * The (id, bucket, x) feature table is ~(dim+1) longs per doc — a
  * sliver of the text it replaces — materialized once and scanned
  * `iters` times; each iteration exchanges one map-combined (doc)
  * aggregate and one (bucket) aggregate, and the driver touches
  * exactly dim+1 gradient longs per iteration (the k-means k·dim
  * contract). Scoring is one broadcast-join pass. Text never moves
  * after the tokenize.
  */
object QualityClassifier {

  /** Half-away-from-zero to a Long — DuckDB's `round()` semantics
    * (Java's `math.round` floors halves toward +∞, which diverges on
    * negative halves). */
  private def roundAway(d: Double): Long =
    java.math.BigDecimal.valueOf(d)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** The hashed-TF feature table `(idCol, j, x, y)`: one row per
    * (doc, non-empty bucket) plus the constant feature at j = dim.
    * The constant row comes from `docs` itself, NOT from the token
    * aggregate (advisor r12): a doc whose text is NULL or tokenless
    * produces no token rows, but it still carries the bias feature —
    * so EVERY input doc is scored (at the bias when it has no tokens)
    * and downstream gates like p3 never silently drop rows.
    */
  private def features(docs: DataFrame, idCol: String, textCol: String,
                       label: Column, dim: Int, salt: String,
                       groupCols: Seq[String] = Nil): DataFrame = {
    val kc = groupCols.map(col)
    val tok = docs.select(col(idCol) +: kc :+ label.cast("double").as("y")
      :+ explode(TextFns.tokens(col(textCol))).as("__t"): _*)
    val hv = conv(substring(md5(concat_ws(":", lit(salt), col("__t"))), 1, 15),
      16, 10).cast("long")
    val bt = tok.groupBy(col(idCol) +: kc :+ col("y")
        :+ pmod(hv, lit(dim.toLong)).as("j"): _*)
      .agg(count(lit(1)).as("c"))
    val ntok = bt.groupBy(col(idCol)).agg(sum("c").as("n"))
    bt.join(ntok, Seq(idCol))
      .select(col(idCol) +: kc :+ col("j")
        :+ expr("c * 10000 div n").as("x") :+ col("y"): _*)
      .unionByName(docs.select(col(idCol) +: kc :+ lit(dim.toLong).as("j")
        :+ lit(10000L).as("x") :+ label.cast("double").as("y"): _*))
  }

  /** Pin the feature table's partitioning to the doc id ONCE before
    * the TRAINING caches (the union inside [[features]] otherwise
    * leaves it unpartitioned): every training iteration re-reads the
    * cached table twice — margins groupBy(id) and the gradient join on
    * id — and with hash(id) established here both reuse it (hash(id)
    * satisfies clustering on (id, group…)), so the iteration loop pays
    * zero exchanges of the feature table instead of two per iteration
    * (optimization r19; guide §2.4 — two operations keyed the same way
    * share one exchange). Exact integer sums make the result
    * order-free, hence bit-identical. Training-only on purpose
    * (advisor r19): [[scoreWith]] consumes the table exactly once and
    * never caches it, so pre-exchanging the raw (dim+1)-rows-per-doc
    * long form there would shuffle ~dim× the bytes its single
    * map-combined margins aggregate moves.
    */
  private def pinToId(f: DataFrame, idCol: String): DataFrame =
    f.repartition(col(idCol))

  /** p = ½ + ½·z̃/(1+|z̃|) with z̃ = sp/10¹⁰ — the rational sigmoid on
    * the exact integer margin. */
  private def pCol: Column = {
    val zd = col("sp").cast("double") / lit(1e10)
    lit(0.5) + lit(0.5) * zd / (lit(1.0) + abs(zd))
  }

  /** Per-doc margins `(idCol, y, sp)` of feature table `f` under
    * weights `w` — THE shared scoring kernel: the training loop, the
    * final [[fitScore]] scoring, and the frozen-model [[scoreWith]]
    * all pass through this one broadcast-join + exact-integer dot
    * product, so "online ≡ offline" can't drift through a divergent
    * copy. */
  private def marginsUnder(f: DataFrame, idCol: String,
                           w: Array[Long]): DataFrame = {
    val spark = f.sparkSession
    import spark.implicits._
    val wDF = w.zipWithIndex.map { case (v, j) => (j.toLong, v) }
      .toSeq.toDF("j", "wm")
    marginsUnderDF(f, idCol, wDF, Nil)
  }

  /** Keyed form of [[marginsUnder]]: weights come as a DataFrame
    * `(groupCols..., j, wm)` and margins group by
    * `(idCol, groupCols...)` — the SAME broadcast-join + exact-integer
    * dot product for the global (empty keys) and per-group fits, so
    * the two can't drift through a divergent copy (review r13). */
  private def marginsUnderDF(f: DataFrame, idCol: String, wDF: DataFrame,
                             groupCols: Seq[String]): DataFrame =
    f.join(broadcast(wDF), groupCols :+ "j")
      .groupBy(col(idCol) +: groupCols.map(col): _*)
      .agg(max("y").as("y"), sum(col("wm") * col("x")).as("sp"))

  /** Fit and score in one call: returns `(weights, scored)` where
    * `weights(j)` is the micro-unit coefficient of bucket `j` (bias at
    * index `dim`) and `scored` has `(idCol, label, score,
    * score_micro)` per input document — score = round(p, 6) under the
    * final weights, score_micro = round(p·10⁶) as an exact BIGINT so
    * downstream thresholds/means can stay in order-free integer space
    * (the p3 gate).
    */
  def fitScore(docs: DataFrame, idCol: String, textCol: String,
               label: Column, dim: Int = 64, iters: Int = 4,
               salt: String = "t20"): (Array[Long], DataFrame) =
    graft.stats.Benchmarking.span(docs.sparkSession, "classifier-fit") {
    require(dim >= 2 && iters >= 1)
    val f = graft.Materialize.reuse(
      pinToId(features(docs, idCol, textCol, label, dim, salt), idCol))
    val n = docs.count() // one bounded count: the gradient denominator
    val w = Array.fill(dim + 1)(0L)
    for (_ <- 0 until iters) {
      val z = marginsUnder(f, idCol, w)
      // per-doc error quantized back to integers BEFORE the cross-doc
      // sum: the aggregation is exact and order-free
      val g = f.join(z.select(col(idCol), (col("y") - pCol).as("err")), Seq(idCol))
        .groupBy("j")
        .agg(sum(round(col("err") * col("x")).cast("long")).as("gs"))
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      var j = 0
      while (j <= dim) {
        w(j) += roundAway(g.getOrElse(j, 0L).toDouble * 100.0 / n)
        j += 1
      }
    }
    val scored = marginsUnder(f, idCol, w)
      .select(col(idCol), col("y").cast("long").as("label"),
        round(pCol, 6).as("score"),
        round(pCol * lit(1e6)).cast("long").as("score_micro"))
    (w, scored)
  }

  /** Per-GROUP trained quality classifiers (t20b) — one independent
    * logistic regression per value of `groupCol` (typically language:
    * CCNet trains a filter per language precisely because "quality"
    * vocabulary is language-relative), in the SAME fixed-iteration
    * integer-exact discipline as [[fitScore]], trained for ALL groups
    * simultaneously in one set of jobs: the feature table carries the
    * group key, each iteration is still ONE margins aggregate + ONE
    * gradient aggregate (now keyed (group, j)), and the driver
    * receives |groups|·(dim+1) gradient longs per iteration — the
    * k-means k·dim contract, per group. A group's fit is bit-identical
    * to running [[fitScore]] on that group's rows alone (same
    * features, same denominators, same rounding — spec-pinned), so
    * the grouped form is a pure batching of independent fits.
    * Returns (per-group weights, scored rows
    * `(idCol, groupCol, label, score, score_micro)`).
    */
  def fitScorePerGroup(docs: DataFrame, idCol: String, textCol: String,
                       groupCol: String, label: Column, dim: Int = 64,
                       iters: Int = 4, salt: String = "t20")
  : (Map[String, Array[Long]], DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(dim >= 2 && iters >= 1)
    // the SHARED feature/margins kernels with the group key riding
    // along — no divergent copy of the bias-row or dot-product logic
    // (review r13)
    val f = graft.Materialize.reuse(
      pinToId(features(docs, idCol, textCol, label, dim, salt, Seq(groupCol)),
        idCol))
    // per-group gradient denominators: one bounded |groups|-row agg.
    // NULL group keys fail loudly here (the sp2/t28 discipline): a
    // NULL would never join the (group, j) weight table, so its docs
    // would silently vanish from margins/scored instead of erroring
    // (advisor r13)
    val nPer = docs.groupBy(col(groupCol)).count()
      .collect().map { r =>
        require(!r.isNullAt(0),
          s"fitScorePerGroup: NULL $groupCol value (${r.getLong(1)} rows) — " +
            "group keys must be non-null; filter or impute first")
        r.getString(0) -> r.getLong(1)
      }.toMap
    val w = scala.collection.mutable.Map(
      nPer.keys.map(_ -> Array.fill(dim + 1)(0L)).toSeq: _*)
    def wDF = w.toSeq.flatMap { case (g, arr) =>
      arr.zipWithIndex.map { case (v, j) => (g, j.toLong, v) }
    }.toDF(groupCol, "j", "wm")
    def margins = marginsUnderDF(f, idCol, wDF, Seq(groupCol))
    for (_ <- 0 until iters) {
      val g = f.join(margins.select(col(idCol), (col("y") - pCol).as("err")),
          Seq(idCol))
        .groupBy(groupCol, "j")
        .agg(sum(round(col("err") * col("x")).cast("long")).as("gs"))
        .collect()
      g.foreach { r =>
        val grp = r.getString(0)
        w(grp)(r.getLong(1).toInt) +=
          roundAway(r.getLong(2).toDouble * 100.0 / nPer(grp))
      }
    }
    val scored = margins
      .select(col(idCol), col(groupCol),
        col("y").cast("long").as("label"),
        round(pCol, 6).as("score"),
        round(pCol * lit(1e6)).cast("long").as("score_micro"))
    (w.toMap, scored)
  }

  /** Score documents under FROZEN weights — the deployment path (and
    * the streaming sink's per-micro-batch body,
    * [[graft.streaming.Streaming.classifierScoreSink]]): [[fitScore]]'s
    * feature build, broadcast-weight join, and rational sigmoid with
    * no training pass. Output `(idCol, score, score_micro)` is
    * bit-identical to [[fitScore]]'s scoring of the same rows under
    * the same weights — every step is the shared integer-exact kernel,
    * so online and offline scores can never drift.
    */
  def scoreWith(docs: DataFrame, idCol: String, textCol: String,
                w: Array[Long], dim: Int = 64,
                salt: String = "t20"): DataFrame = {
    require(w.length == dim + 1, s"weights must be dim+1 = ${dim + 1} long")
    marginsUnder(features(docs, idCol, textCol, lit(0.0), dim, salt), idCol, w)
      .select(col(idCol), round(pCol, 6).as("score"),
        round(pCol * lit(1e6)).cast("long").as("score_micro"))
  }

  /** Classifier calibration report — precision/recall/F1 of a scored
    * frame ([[fitScore]]'s output: `label`, `score_micro`) against its
    * labels at each integer micro-unit threshold: the eval table a
    * filter deployment reads before picking its operating point (the
    * n12 "measure, don't guess" discipline applied to t20). All four
    * confusion counters for ALL thresholds come from ONE map-side-
    * combined aggregate over the corpus (no per-threshold scan or
    * explode — a 1-row exchange of `4·|thresholds|` counters), then
    * the single result row unpivots in-plan. Ratios are single
    * divisions of exact integers (F1 from counts, `2tp/(2tp+fp+fn)`,
    * not from rounded precision/recall), zero-denominator cases
    * pinned to 0.0 — every value cross-engine-reproducible.
    */
  def evaluate(scored: DataFrame, thresholdsMicro: Seq[Long]): DataFrame = {
    require(thresholdsMicro.nonEmpty)
    def cnt(cond: Column) = sum(when(cond, 1L).otherwise(0L))
    val aggs = thresholdsMicro.zipWithIndex.flatMap { case (t, i) =>
      val keep = col("score_micro") >= t
      Seq(cnt(col("label") === 1L && keep).as(s"tp_$i"),
        cnt(col("label") === 0L && keep).as(s"fp_$i"),
        cnt(col("label") === 1L && !keep).as(s"fn_$i"),
        cnt(col("label") === 0L && !keep).as(s"tn_$i"))
    }
    val one = scored.agg(aggs.head, aggs.tail: _*)
    val rows = thresholdsMicro.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("thr_micro"), col(s"tp_$i").as("tp"),
        col(s"fp_$i").as("fp"), col(s"fn_$i").as("fn"),
        col(s"tn_$i").as("tn"))
    }
    def ratio(num: Column, den: Column) =
      round(when(den === 0L, 0.0).otherwise(num.cast("double") / den), 6)
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.thr_micro"), col("r.tp"), col("r.fp"),
        col("r.fn"), col("r.tn"))
      .withColumn("prec", ratio(col("tp"), col("tp") + col("fp")))
      .withColumn("rec", ratio(col("tp"), col("tp") + col("fn")))
      .withColumn("f1", ratio(lit(2L) * col("tp"),
        lit(2L) * col("tp") + col("fp") + col("fn")))
  }

  /** Exact AUC (Mann-Whitney U with midrank tie handling) of a scored
    * frame — the threshold-free companion to [[evaluate]]'s operating
    * table. All rank arithmetic stays in integers: per tie group at
    * score s with `c` members and `b` rows strictly below,
    * `2·midrank = 2b + c + 1`, so `2·Σ ranks(positives) =
    * Σ pos_c·(2b + c + 1)` exactly; AUC = (that − np·(np+1)) /
    * (2·np·nn) is ONE final division of exact integers.
    *
    * Scale shape: scores are integer MICRO-UNITS, so the corpus
    * aggregates once into the per-distinct-score count table —
    * bounded at ~10⁶ rows by the score codomain REGARDLESS of corpus
    * size — and the ordered cumulative pass runs over that bounded
    * table as a TWO-LEVEL cumulative sum (optimization r20, guide §2):
    * a partitioned window per coarse score bucket (`score_micro div
    * 10⁴` — ≤ ~101 buckets over the micro codomain) plus a ≤101-row
    * bucket-offset join, so NO single-partition WindowExec exists in
    * the plan (the old global-window form moved the whole distinct
    * table to one task — bounded, but the one warning-generating
    * all-rows-to-one-partition structure left in a query path).
    * Truncating division is monotone, so bucket order agrees with
    * score order and `below` is unchanged — exact integer sums either
    * way. Returns one row: (n_pos, n_neg, auc); degenerate
    * single-class inputs pin auc to 0.0. The integer intermediates
    * stay inside a signed 64-bit long through ~2·10⁹ rows (2·np·nn ≤
    * 2n²); past that ANSI mode fails loudly rather than wrapping.
    */
  def auc(scored: DataFrame): DataFrame = {
    // the bounded distinct-score table feeds the bucket totals AND the
    // ranked pass — persist once so the corpus aggregation runs once
    val g = graft.Materialize.reuse(
      scored.groupBy("score_micro").agg(
        sum(when(col("label") === 1L, 1L).otherwise(0L)).as("pc"),
        sum(when(col("label") === 0L, 1L).otherwise(0L)).as("nc"))
        .withColumn("__b", expr("score_micro div 10000")))
    val bt = g.groupBy("__b").agg(sum(col("pc") + col("nc")).as("__bt"))
    // strictly-below-bucket offsets: a bounded (≤101 × ≤101) self-join
    // — broadcast nested loop over a sliver, never a corpus structure
    val off = bt.join(
      bt.select(col("__b").as("__b2"), col("__bt").as("__bt2")),
      col("__b2") < col("__b"), "left")
      .groupBy("__b").agg(coalesce(sum("__bt2"), lit(0L)).as("__off"))
    val wb = Window.partitionBy("__b").orderBy(col("score_micro"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = g.join(off, Seq("__b"))
      .withColumn("below", col("__off") +
        sum(col("pc") + col("nc")).over(wb) - (col("pc") + col("nc")))
    ranked.agg(
      sum(col("pc")).as("np"),
      sum(col("nc")).as("nn"),
      sum(col("pc") * (lit(2L) * col("below") + col("pc") + col("nc") + lit(1L)))
        .as("r2"))
      .select(col("np").as("n_pos"), col("nn").as("n_neg"),
        round(when(col("np") === 0L || col("nn") === 0L, 0.0)
          .otherwise((col("r2") - col("np") * (col("np") + lit(1L))).cast("double")
            / (lit(2L) * col("np") * col("nn")).cast("double")), 6).as("auc"))
  }

  /** Calibration curve / reliability diagram (t22b) — the third panel
    * of the eval card beside [[evaluate]]'s operating points and
    * [[auc]]'s ranking metric: predicted-probability bins vs the
    * empirical positive rate inside each bin (Niculescu-Mizil &
    * Caruana 2005's standard diagnostic — a well-calibrated filter
    * has pos_rate ≈ mean_score per bin, and a deployment picking a
    * probability threshold needs this, not just ranking quality).
    *
    * Exactness: scores are integer micro-units, so `bin =
    * min(score_micro div (10⁶/bins), bins−1)` is pure integer
    * arithmetic (the top bin is closed — a score of exactly 1.0
    * belongs to it, not to a phantom bins-th bin); per-bin counters
    * are exact integer sums; the two ratios are one final double
    * division each, rounded at 6 (the t22 convention). Empty bins are
    * absent in both engines (group-by over observed bins only).
    *
    * Shape for scale: ONE map-combined aggregate over the scored
    * frame into ≤ `bins` rows — no window, no distinct table, no
    * second pass. */
  def calibration(scored: DataFrame, bins: Int = 10): DataFrame = {
    require(bins >= 2 && 1000000 % bins == 0,
      s"bins must be >= 2 and divide 1e6, got $bins")
    val w = 1000000L / bins
    scored
      .groupBy(least(expr(s"score_micro div $w"), lit(bins - 1L)).as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("label") === 1L, 1L).otherwise(0L)).as("n_pos"),
        sum("score_micro").as("__sm"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("__sm").cast("double") / (lit(1e6) * col("n")), 6)
          .as("mean_score"),
        round(col("n_pos").cast("double") / col("n"), 6).as("pos_rate"))
  }
}
