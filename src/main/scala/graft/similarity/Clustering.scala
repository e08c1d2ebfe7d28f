package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.similarity.Similarity.IvfIndex

/** Distributed k-means (Lloyd's) and SemDeDup-style semantic
  * deduplication (Abbas et al. 2023, "SemDeDup: Data-efficient
  * learning at web-scale through semantic deduplication"): cluster
  * the corpus embeddings, then prune near-duplicate pairs WITHIN each
  * cluster only — the clustering bounds the pairwise work that a full
  * cosine self-join would make quadratic.
  *
  * Differs from [[Similarity.IvfIndex.fit]] (driver-side sample fit)
  * in that each Lloyd iteration runs ON THE CLUSTER: assignment is the
  * codegen'd [[graft.functions.NearestCentroid]] argmin over broadcast
  * centroids (map-side, no shuffle), and the mean recomputation is one
  * partial-aggregated groupBy over (centroid, component) — k*dim rows
  * cross the exchange, k*dim rows reach the driver, independent of
  * corpus size. At 100 TB each iteration is one map + one bounded
  * shuffle; the driver state is the k*dim centroid matrix only.
  *
  * Determinism contract (what makes the sd1 oracle hash-exact): seeds
  * are spaced picks in `idCol` order; each new centroid component is
  * rounded HALF_UP to `roundDecimals` before the next assignment, so
  * both engines iterate from bit-identical centroids regardless of
  * their double-summation order; argmin ties break to the lowest
  * centroid id (the kernel's strict `<`).
  */
object Clustering {

  /** k spaced seed vectors in ascending `idCol` order: rows at ranks
    * 0, stride, 2*stride, … with stride = n/k (floor). The rank pass
    * runs on the ids-only projection (narrow columns through the one
    * single-partition window exchange), and only the k winners join
    * back (broadcast) to fetch their vectors. This is the
    * ORACLE-replicable flavor for corpora where a global ids-only
    * window is acceptable; the production default is [[sampledSeeds]]
    * (bounded top-`sampleSize` pick, no global window — equally
    * oracle-replicable via its md5 hash order).
    */
  def spacedSeeds(df: DataFrame, idCol: String, vecCol: String,
                  k: Int): Array[Array[Double]] = {
    // n via a second window over the same single-partition spec — no
    // separate count() scan, no extra exchange
    val w = Window.orderBy(col(idCol))
    val ranked = df.select(col(idCol))
      .withColumn("rn", row_number().over(w) - 1)
      .withColumn("stride", greatest(
        (count(lit(1)).over(w.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)) / k)
          .cast("long"), lit(1L)))
      .filter(col("rn") % col("stride") === 0 && col("rn") / col("stride") < k)
      .select(col(idCol), (col("rn") / col("stride")).cast("int").as("cid"))
    df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .join(broadcast(ranked), idCol)
      .select("cid", "v")
      .collect() // bounded: k rows
      .sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)
      .ensuring(_.nonEmpty, "spacedSeeds on an empty corpus")
  }

  /** One distributed Lloyd refinement pass per iteration. Empty
    * clusters keep their previous centroid (cannot occur with spaced
    * seeding on data that has >= k distinct rows, and the sd1 oracle
    * depends on it never occurring — DuckDB's GROUP BY simply drops
    * the empty id).
    */
  def lloyd(df: DataFrame, vecCol: String, init: Array[Array[Double]],
            iters: Int, roundDecimals: Int = 6): Array[Array[Double]] = {
    require(init.nonEmpty, "lloyd needs at least one initial centroid")
    var centroids = init
    val v = col(vecCol).cast("array<double>")
    for (_ <- 0 until iters) {
      val means = assign(df.select(v.as("v")), "v", centroids)
        .select(col("centroid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("centroid", "pos").agg(avg("x").as("m"))
        .collect() // bounded: k*dim rows
      val next = centroids.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = roundHalfUp(r.getDouble(2), roundDecimals)
      }
      centroids = next
    }
    centroids
  }

  /** DuckDB `round(x, d)` semantics: half away from zero. */
  private def roundHalfUp(x: Double, d: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(d, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Map-side nearest-centroid assignment (broadcast centroids inside
    * the codegen'd kernel — no shuffle, no join).
    */
  def assign(df: DataFrame, vecCol: String,
             centroids: Array[Array[Double]]): DataFrame =
    new IvfIndex(centroids).assign(df, vecCol)

  /** k seed vectors fitted by spaced picks over a bounded DETERMINISTIC
    * sample — the PRODUCTION seeding path. [[spacedSeeds]] (the
    * oracle flavor sd1/tc1 keep) ranks the whole corpus through one
    * single-partition window: ids-only, but at 10¹¹ rows that is still
    * one task swallowing the corpus's id stream. Here the global order
    * is replaced by a top-`sampleSize` under the md5 hash fraction of
    * the id ([[graft.functions.Mixture.hashLong60]]) — Spark plans it
    * as TakeOrderedAndProject (per-partition heaps, one bounded merge,
    * nothing unbounded in any task), and [[spacedSeeds]]' window then
    * runs over ≤ `sampleSize` rows. The hash order is
    * engine-reproducible, so the sd2/tc2 DuckDB oracles replay the
    * exact sample, seeds, and Lloyd iterations — the sampled path gets
    * the same bit-exact gate as the spaced one.
    */
  def sampledSeeds(df: DataFrame, idCol: String, vecCol: String, k: Int,
                   sampleSize: Int, salt: String = "seed"): Array[Array[Double]] = {
    require(sampleSize >= k, s"sampleSize $sampleSize < k $k")
    val sample = df
      .orderBy(graft.functions.Mixture.hashLong60(col(idCol), salt), col(idCol))
      .limit(sampleSize)
    spacedSeeds(sample, idCol, vecCol, k)
  }

  /** (id, v, centroid, bucket) with clusters larger than `cap` salted
    * into ceil(n_c/cap) md5-hash sub-buckets — the bounding stage
    * [[semanticDedupCapped]] and its spec share. The sizes table is
    * ≤ k rows (broadcast); the bucket key is a pure function of
    * (salt, id), so both engines and any re-run bucket identically.
    *
    * Kept apart from [[graft.dedup.Banding]]'s Salt guard on purpose:
    * this census is on `centroid` (k rows, broadcast) rather than a
    * band bucket, and the salt is the id-only `hashLong60` that sd2's
    * oracle replays rather than a per-(id, band) [[graft.dedup.Dedup.BucketSalt]].
    * Folding it in would make the core branch on its caller.
    */
  private[graft] def saltedBuckets(assigned: DataFrame, idCol: String,
                                   cap: Int, salt: String): DataFrame = {
    val sizes = assigned.groupBy("centroid").agg(count(lit(1)).as("__n"))
    val nb = ceil(col("__n").cast("double") / cap).cast("long")
    assigned.join(broadcast(sizes), Seq("centroid"))
      .withColumn("bucket", when(nb <= 1, lit(0L)).otherwise(
        pmod(graft.functions.Mixture.hashLong60(col(idCol), salt), nb)))
      .drop("__n")
  }

  /** SemDeDup: flag every row that has a same-cluster neighbor with
    * strictly lower id and cosine >= tau (keep-lowest-id rule).
    * Output: (idCol, cluster, dup). The pairwise stage self-joins on
    * `centroid` only — shuffle both sides by cluster id and compare
    * within; with k scaled so clusters stay ~10^3-10^4 rows (k ~ n /
    * targetClusterSize at real scale), the per-cluster quadratic term
    * is bounded and embarrassingly parallel across clusters.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Double]],
                    tau: Double): DataFrame = {
    // assignment feeds three consumers (both self-join sides + the
    // final cluster projection) — materialize so the corpus scan and
    // nearest-centroid kernel run once, not per consumer
    val a = graft.Materialize.reuse(assign(
      df.select(col(idCol), col(vecCol).cast("array<double>").as("v")),
      "v", centroids))
    val l = a.select(col(idCol).as("lid"), col("v").as("lv"), col("centroid"))
    val r = a.select(col(idCol).as("rid"), col("v").as("rv"), col("centroid"))
    val dups = l.join(r, Seq("centroid"))
      .filter(col("rid") < col("lid") &&
        graft.functions.VectorExprs.cosine(col("lv"), col("rv")) >= tau)
      .select(col("lid").as(idCol)).distinct()
      .withColumn("dup", lit(true))
    a.select(col(idCol), col("centroid").as("cluster"))
      .join(dups, Seq(idCol), "left")
      .na.fill(false, Seq("dup"))
  }

  /** [[semanticDedup]] with an ENFORCED per-cluster candidate cap —
    * the skew guard the uncapped form lacks: a pathological corpus
    * (one giant near-dup cluster) re-creates the quadratic self-join
    * no matter how well k was chosen. Clusters larger than `cap` are
    * salted into ceil(n_c/cap) deterministic md5 sub-buckets
    * ([[saltedBuckets]]) and pairs compare within (cluster, bucket)
    * only, so no join task sees more than ~cap²/2 candidate pairs —
    * the `bucketCap` discipline of the LSH families' banded join
    * ([[graft.dedup.Banding]]) applied to the semantic path. The recall trade is explicit:
    * cross-bucket pairs inside an OVERSIZED cluster are skipped — the
    * same kind of approximation SemDeDup already makes by never
    * comparing across clusters, and it engages only past the working
    * size the caller declared healthy.
    *
    * QUANTIFIED (advisor r11; unlike MinHash's 16 bands there is no
    * second chance within the semantic path, so the numbers matter):
    * for an oversized cluster of n_c rows split into B = ⌈n_c/cap⌉
    * sub-buckets —
    *  - DENSE FLOOD (every row ≥ tau to every other — the pathology
    *    the cap exists for): each bucket keeps exactly its min id, so
    *    B rows survive instead of 1 and drop-recall is
    *    (n_c − B)/(n_c − 1) ≥ 1 − cap⁻¹·(n_c/(n_c−1)) — e.g. ≥ 98%
    *    at cap 10² and ≥ 99.99% at the default 10⁵, asymptotically
    *    independent of flood size. Spec-measured on a planted flood
    *    (ClusteringSpec) against exactly this bound.
    *  - ISOLATED PAIR inside an oversized cluster (a single dup whose
    *    partner has no other neighbors): both rows co-bucket with
    *    probability 1/B, the worst case of the trade. Rows whose
    *    cluster is ≤ cap are never affected.
    * Output contract identical to [[semanticDedup]]:
    * (idCol, cluster, dup).
    */
  def semanticDedupCapped(df: DataFrame, idCol: String, vecCol: String,
                          centroids: Array[Array[Double]], tau: Double,
                          cap: Int, salt: String = "sddb"): DataFrame = {
    require(cap > 1, s"cap must be > 1, got $cap")
    val a = graft.Materialize.reuse(assign(
      df.select(col(idCol), col(vecCol).cast("array<double>").as("v")),
      "v", centroids))
    val b = saltedBuckets(a, idCol, cap, salt)
    val l = b.select(col(idCol).as("lid"), col("v").as("lv"),
      col("centroid"), col("bucket"))
    val r = b.select(col(idCol).as("rid"), col("v").as("rv"),
      col("centroid"), col("bucket"))
    val dups = l.join(r, Seq("centroid", "bucket"))
      .filter(col("rid") < col("lid") &&
        graft.functions.VectorExprs.cosine(col("lv"), col("rv")) >= tau)
      .select(col("lid").as(idCol)).distinct()
      .withColumn("dup", lit(true))
    a.select(col(idCol), col("centroid").as("cluster"))
      .join(dups, Seq(idCol), "left")
      .na.fill(false, Seq("dup"))
  }

  /** The PRODUCTION SemDeDup pipeline (sd2): seeds fitted on a bounded
    * deterministic sample ([[sampledSeeds]] — no global window),
    * `iters` distributed Lloyd passes, then CAPPED within-cluster
    * dedup ([[semanticDedupCapped]]). This is the default entry; the
    * spaced-seeding uncapped flavor lives on as [[semDeDupSpaced]]
    * (sd1's oracle variant).
    */
  def semDeDup(df: DataFrame, idCol: String, vecCol: String, k: Int,
               iters: Int = 2, tau: Double = 0.4,
               sampleSize: Int = 100000, cap: Int = 100000,
               salt: String = "sdd"): DataFrame = {
    val cached = graft.Materialize.reuse(df.select(col(idCol), col(vecCol)))
    val seeds = sampledSeeds(cached, idCol, vecCol, k, sampleSize, salt)
    val fitted = lloyd(cached, vecCol, seeds, iters)
    semanticDedupCapped(cached, idCol, vecCol, fitted, tau, cap, salt + "b")
  }

  /** The oracle-replicable sd1 flavor: spaced seeds over the FULL id
    * order -> `iters` distributed Lloyd passes -> uncapped
    * within-cluster cosine dedup. Keep for corpora small enough that
    * a global ids-only window and unsalted clusters are fine;
    * [[semDeDup]] is the scale default.
    */
  def semDeDupSpaced(df: DataFrame, idCol: String, vecCol: String, k: Int,
                     iters: Int = 2, tau: Double = 0.4): DataFrame = {
    // seeds + each Lloyd pass + the dedup assignment all scan the
    // corpus — one materialized (id, vec) projection feeds them all
    val cached = graft.Materialize.reuse(df.select(col(idCol), col(vecCol)))
    val seeds = spacedSeeds(cached, idCol, vecCol, k)
    val fitted = lloyd(cached, vecCol, seeds, iters)
    semanticDedup(cached, idCol, vecCol, fitted, tau)
  }
}
