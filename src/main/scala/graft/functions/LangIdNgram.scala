package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Character-n-gram language identification — Cavnar & Trenkle 1994
  * ("N-Gram-Based Text Categorization"), the rank-profile method
  * real pipelines reach for before a trained fastText model exists:
  * per-language char-3-gram RANK PROFILES (top-K grams by frequency,
  * trained on a labeled subset), per-document rank profiles, and the
  * OUT-OF-PLACE distance (sum over the doc's grams of
  * |doc rank − language rank|, missing grams costing the max
  * penalty K); predicted language = argmin distance. Everything is
  * exact integers end to end — census counts, ranks, absolute
  * differences — so the whole classifier replays in DuckDB and the
  * t3b gate hash-checks every prediction (unlike [[TextFns.langId]]'s
  * marker-word argmax, this needs no marker to fire and is robust on
  * short/mixed docs; both stay registered — t3 is the cheap
  * one-scan heuristic, t3b the real classifier).
  *
  * Determinism contract: gram ranking ties break by gram byte order
  * (count DESC, gram ASC — both engines compare ASCII binary), and
  * the language argmin ties break by language code ASC. Documents
  * with fewer than n normalized chars have NO grams and predict
  * `"und"`.
  *
  * Shape for scale: the language profiles are a (langs × K)-row
  * SLIVER — broadcast, never shuffled. The corpus pays (1) one
  * map-combined census exchange of (doc, gram) counts (metadata
  * width: a 3-char gram + two longs) and (2) one exchange of the
  * per-doc counted grams for the rank window — text itself never
  * shuffles, and the per-doc top-K cap bounds what flows into the
  * distance join at K rows per document regardless of document
  * length. The distance is a broadcast left join (profiles on the
  * build side) plus one more map-combined aggregate on (doc, lang) —
  * at 1000 executors nothing here is corpus-skew-sensitive: the
  * heaviest key is one document's ≤K grams × |langs|.
  */
object LangIdNgram {

  /** Default gram width (Cavnar-Trenkle's most informative single
    * width) and profile depth (their classic 300). */
  val N = 3
  val K = 300

  /** Whitespace-collapsed lowercase normal form — gram extraction
    * input. Kept identical on the oracle side
    * (`regexp_replace(lower(trim(text)), '\s+', ' ', 'g')`). */
  def normForm(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** All char n-grams (with multiplicity) of an ALREADY-normalized
    * column. Callers must pass a materialized attribute (project
    * [[normForm]] first): a lambda re-evaluates its captured subtree
    * per element, so capturing the normalizer here would re-run the
    * regex once per gram (the [[TextFns.ngrams]] lesson). */
  def charNgrams(normed: Column, n: Int = N): Column = {
    val cnt = length(normed) - (n - 1)
    when(cnt >= 1,
      transform(sequence(lit(1), cnt), i => normed.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))
  }

  /** Per-language rank profiles from the TRAINING subset:
    * `(lang, gram, rank)` with rank 1..K by (count DESC, gram ASC).
    * A sliver — langs × K rows — meant for [[broadcast]], and the
    * PERSISTABLE classifier artifact: write it as a parquet table
    * and score any later corpus (or stream) with [[predictWith]],
    * the [[TextFns.SbCounts]] frozen-artifact discipline. */
  def profiles(docs: DataFrame, langCol: String, textCol: String,
               train: Column, n: Int = N, k: Int = K): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.filter(train)
      .select(col(langCol).as("lang"), normForm(col(textCol)).as("__s"))
      .select(col("lang"), explode(charNgrams(col("__s"), n)).as("gram"))
      .groupBy("lang", "gram").agg(count(lit(1)).as("__c"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("lang").orderBy(col("__c").desc, col("gram"))))
      .filter(col("rank") <= k)
      .select("lang", "gram", "rank")
  }

  /** Classify every document under a FROZEN `(lang, gram, rank)`
    * profile frame (a [[profiles]] output, typically read back from
    * its persisted parquet): `(idCol, lang_pred)`. The ONE scoring
    * kernel — [[predict]] and the streamed scoring sink
    * ([[graft.streaming.Streaming.langIdScoreSink]]) both pass
    * through here, so offline ≡ artifact ≡ online structurally.
    * `k` is BOTH the per-doc profile depth and the off-profile
    * penalty — pass the k the artifact was trained with (rank > k
    * rows would silently never match; a shallower artifact scores
    * with the larger penalty, Cavnar-Trenkle's own convention). */
  def predictWith(docs: DataFrame, idCol: String, textCol: String,
                  prof: DataFrame, n: Int = N, k: Int = K): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(Seq("lang", "gram", "rank").forall(prof.columns.contains),
      s"profile frame needs (lang, gram, rank), got " +
        prof.columns.mkString(", "))
    val p = prof.select(col("lang").as("__lang"), col("gram").as("__g"),
      col("rank").as("__rl"))
    val langs = p.select("__lang").distinct()
    val docRanks = docs
      .select(col(idCol), normForm(col(textCol)).as("__s"))
      .select(col(idCol), explode(charNgrams(col("__s"), n)).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
      .withColumn("__rd", row_number().over(
        Window.partitionBy(idCol).orderBy(col("__c").desc, col("__g"))))
      .filter(col("__rd") <= k)
      .select(col(idCol), col("__g"), col("__rd"))
    val dist = docRanks
      .crossJoin(broadcast(langs))
      .join(broadcast(p), Seq("__lang", "__g"), "left")
      .groupBy(col(idCol), col("__lang"))
      // out-of-place distance: |rd − rl|, max penalty k off-profile
      .agg(sum(coalesce(abs(col("__rd") - col("__rl")), lit(k.toLong)))
        .as("__dist"))
    val best = dist
      .groupBy(col(idCol))
      // struct min = (dist ASC, lang ASC) — the deterministic tie rule
      .agg(min(struct(col("__dist"), col("__lang"))).as("__m"))
      .select(col(idCol), col("__m").getField("__lang").as("lang_pred"))
    docs.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("lang_pred"), lit("und")).as("lang_pred"))
  }

  /** Train-and-classify in one plan: [[profiles]] off the `train`
    * rows (the t28 discipline — a labeled source subset), then
    * [[predictWith]] over every document, training ones included. */
  def predict(docs: DataFrame, idCol: String, textCol: String,
              langCol: String, train: Column,
              n: Int = N, k: Int = K): DataFrame =
    // persist the (langs × K) profile sliver: `langs` derives from it,
    // and without the reuse Spark re-runs the whole training census
    // once per consumer (two scans of the training subset)
    predictWith(docs, idCol, textCol, graft.Materialize.reuse(
      profiles(docs, langCol, textCol, train, n, k)), n, k)
}
