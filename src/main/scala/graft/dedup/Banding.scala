package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banded candidate join behind every LSH family: MinHash (d3,
  * d11), bottom-k sketches (d13, d14), SimHash (d4, mm5–mm7), the
  * frame-hash index (mm8, mm9) and RHP cosine (d7, n2, n12).
  *
  * Candidate rows are `(id, band, bucket)`; two ids are candidates iff
  * they share a (band, bucket). A bucket of n rows costs n²/2 pairs in
  * one join task, so a flood guard bounds it — PHiDJ's (ICDE 2014)
  * rule that no reducer receives more than a bounded pair volume:
  *
  *  - ONE census counts rows per (band, bucket). Over store ∪ delta it
  *    is a store-side census (exchange-free when the persisted table is
  *    bucketed on the band keys) plus a delta-sized census, merged by a
  *    full-outer sum — so a refresh never re-shuffles the whole store
  *    just to count bucket sizes. The self form is the same step with
  *    no store side.
  *  - Rows of buckets at or under the guard's cap pair on
  *    (band, bucket); rows of a flooded bucket pair on (band, bucket)
  *    plus the guard's own keys. Every row of a bucket shares that
  *    bucket's count, so both ends of a pair take the same branch.
  *
  * Two pair steps: [[selfPairs]] over one row set and [[probePairs]],
  * a delta against store ∪ delta (no store-internal pair is ever
  * generated). Both return distinct `(id_a, id_b)` with `id_a < id_b`.
  */
private[graft] object Banding {

  val Keys: Seq[String] = Seq("band", "bucket")

  /** The flood guard. */
  sealed trait Guard

  /** Every bucket joins whole — the exact pre-cap plan. */
  case object Off extends Guard

  /** Rows of a bucket of n > `cap` rows salt into ceil(n/cap)
    * sub-buckets (`__sub`, a [[Dedup.BucketSalt]] of (id, band): a
    * different split per band, so two rows separated in one flooded
    * band can still meet in another). Every other row takes `__sub` 0,
    * so one join on (band, bucket, __sub) serves both branches.
    *
    * Recall trade: a qualifying pair whose ONLY collision was a flooded
    * bucket where the salt separated it is lost. For MinHash at
    * j ≥ threshold the other bands re-find it with
    * p ≈ 1−(1−j^rows)^(bands−1) (≥ 0.999 at 16×4, j ≥ 0.8), and
    * connected components re-joins flood cliques through their dense
    * intra-bucket edges. */
  final case class Salt(cap: Int, salt: Dedup.BucketSalt) extends Guard

  /** Rows of a bucket of n > `cap` rows re-band on `subKeys`, an array
    * column of the rows: such a pair must also share a (position,
    * value) of it, `(sub, sv)`. The multi-index re-banding of Manku et
    * al. (WWW'07 §3) — exact when the sub-keys are a pigeonhole split. */
  final case class Refine(cap: Int, subKeys: Column) extends Guard

  /** The guard behind the public `bucketCap` (≤ 0 disables it) and
    * `salt` parameters. */
  def guard(bucketCap: Int,
            salt: Dedup.BucketSalt = Dedup.BucketSalt.XxHash): Guard =
    if (bucketCap <= 0) Off else Salt(bucketCap, salt)

  /** Candidate pairs within one row set: `id_a < id_b`, distinct.
    * `carry` columns ride through the join as `<c>_a`/`<c>_b` (SimHash
    * keeps `sig` so no re-attach join is needed). */
  def selfPairs(rows: DataFrame, guard: Guard,
                carry: Seq[String] = Nil): DataFrame =
    lanes(rows, census(None, rows), guard, shared = true)
      .map { case (d, keys) => pairOn(d, d, keys, carry, probe = false) }
      .reduce(_ union _).distinct()

  /** Candidate pairs touching `delta`: delta rows against
    * store ∪ delta, each pair ordered by `least`/`greatest`. The
    * result is exactly the delta-touching subset of
    * `selfPairs(store ∪ delta, guard)`. The sides must be disjoint by
    * id (delta ids are new, or the caller anti-joins them out of the
    * store). */
  def probePairs(store: DataFrame, delta: DataFrame, guard: Guard): DataFrame = {
    lazy val counts = census(Some(store), delta)
    lanes(delta, counts, guard, shared = false)
      .zip(lanes(store.unionByName(delta), counts, guard, shared = true))
      .map { case ((l, keys), (r, _)) => pairOn(l, r, keys, Nil, probe = true) }
      .reduce(_ union _).distinct()
  }

  /** `(band, bucket, __bn)`: rows per bucket over `store` ∪ `rows`. */
  private def census(store: Option[DataFrame], rows: DataFrame): DataFrame = {
    def count1(df: DataFrame, as: String) =
      df.groupBy(Keys.map(col): _*).agg(count(lit(1)).as(as))
    store.fold(count1(rows, "__bn")) { s =>
      count1(s, "__bns").join(count1(rows, "__bnd"), Keys, "full")
        .select(col("band"), col("bucket"),
          (coalesce(col("__bns"), lit(0L)) +
            coalesce(col("__bnd"), lit(0L))).as("__bn"))
    }
  }

  /** `rows` keyed for the pair join under `guard`: one or two (rows,
    * join keys) lanes, the same lanes for both sides of a join. A
    * `shared` Salt lane (it feeds both self-join sides, or is the
    * union side of a probe) is materialized so the census and its join
    * back run once; it is (id, band, bucket, sub) longs, a sliver. */
  private def lanes(rows: DataFrame, counts: => DataFrame, guard: Guard,
                    shared: Boolean): Seq[(DataFrame, Seq[String])] =
    guard match {
      case Off => Seq(rows -> Keys)
      case Salt(cap, salt) =>
        val nb = ceil(col("__bn").cast("double") / cap).cast("long")
        val tagged = rows.join(counts, Keys)
          .withColumn("__sub", when(nb <= 1, lit(0L)).otherwise(
            salt.sub(col("id"), col("band"), nb)))
          .drop("__bn")
        Seq((if (shared) graft.Materialize.reuse(tagged) else tagged) ->
          (Keys :+ "__sub"))
      case Refine(cap, subKeys) =>
        val tagged = rows.join(counts, Keys)
        val flooded = tagged.filter(col("__bn") > cap)
        Seq(tagged.filter(col("__bn") <= cap) -> Keys,
          flooded.select(flooded.columns.filter(_ != "__bn").map(col) :+
            posexplode(subKeys).as(Seq("sub", "sv")): _*) ->
            (Keys ++ Seq("sub", "sv")))
    }

  private def pairOn(l: DataFrame, r: DataFrame, keys: Seq[String],
                     carry: Seq[String], probe: Boolean): DataFrame = {
    def side(df: DataFrame, s: String) =
      df.select(keys.map(col) ++ ("id" +: carry).map(c => col(c).as(s"${c}_$s")): _*)
    if (probe)
      side(l, "l").join(side(r, "r"), keys)
        .filter(col("id_l") =!= col("id_r"))
        .select(least(col("id_l"), col("id_r")).as("id_a"),
          greatest(col("id_l"), col("id_r")).as("id_b"))
    else
      side(l, "a").join(side(r, "b"), keys)
        .filter(col("id_a") < col("id_b"))
        .select(("id" +: carry).flatMap(c => Seq(s"${c}_a", s"${c}_b")).map(col): _*)
  }

  /** Re-attach `cols` of `side` (keyed by `id`) to both ends of
    * `(id_a, id_b)` pairs, as `<c>_a` and `<c>_b`. */
  def attach(pairs: DataFrame, side: DataFrame, cols: String*): DataFrame =
    Seq("a", "b").foldLeft(pairs) { (p, s) =>
      p.join(side.select(col("id").as(s"id_$s") +:
        cols.map(c => col(c).as(s"${c}_$s")): _*), Seq(s"id_$s"))
    }

  /** RHP band rows `(idCol, band, bucket)`: the sign signature `sig`
    * cut into `bands` slices of `rows` bits, one bucket per slice. */
  def rhpBanded(df: DataFrame, idCol: String, sig: Column, bands: Int,
                rows: Int): DataFrame =
    df.withColumn("sig", sig).select(col(idCol),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sig"), b * rows).bitwiseAND(lit((1L << rows) - 1))): _*))
        .as(Keys))

  /** Inverted-index rows `(id, band = 0, bucket)`: one per element of
    * the array column `values` — ids sharing any element are
    * candidates. */
  def invertedIndex(df: DataFrame, values: String): DataFrame =
    df.select(col("id"), lit(0).as("band"), explode(col(values)).as("bucket"))
}
