package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Text-analysis scalar functions for large-scale corpus pipelines
  * (driver north-star ops, beyond the reference). All built from
  * `org.apache.spark.sql.functions` so they stay inside whole-stage
  * codegen — no UDF in the hot path.
  */
object TextFns {

  /** Whitespace tokenization (split on runs of whitespace).
    *
    * Invariant both engines share (Spark `split` and DuckDB
    * `string_split_regex`): empty/whitespace-only text yields `[""]`
    * — size ≥ 1 ALWAYS. Downstream integer arithmetic
    * (`chunkTokens`'s `(n−1) div stride`, `packSequences`'s
    * `(cum−1) DIV budget`) relies on n ≥ 1 per doc; a zero-token doc
    * is unreachable through this function (spec-pinned).
    */
  def tokens(text: Column): Column =
    split(trim(text), "\\s+")

  /** BPE-ish subword-aware token count: words + digit runs +
    * punctuation marks counted separately (a cheap proxy for BPE token
    * counts used to budget LLM training data).
    */
  def tokenCountBpeIsh(text: Column): Column =
    size(filter(split(text, "(?<=\\W)|(?=\\W)"), t => trim(t) =!= ""))

  /** Plain word count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word n-grams WITH multiplicity (repetition analysis needs the
    * duplicates that [[shingles]] drops).
    *
    * Built by zipping n shifted slices of the token array rather than
    * indexing (`element_at`) inside a lambda — a lambda body re-evaluates
    * its captured subtree per ELEMENT, so the indexed form re-ran the
    * regex tokenizer ~|tokens| times per row (measured 8.6s over 5k
    * docs; the zipped form is ~10×). */
  def ngrams(text: Column, n: Int): Column = ngramsOfTokens(tokens(text), n)

  private def ngramsOfTokens(w: Column, n: Int): Column = {
    val len = greatest(size(w) - (n - 1), lit(0))
    val parts = (0 until n).map(i => slice(w, lit(i + 1), len))
    parts.reduce((a, b) => zip_with(a, b, (x, y) => concat_ws(" ", x, y)))
  }

  /** Word n-gram shingles, distinct (the unit for Jaccard/MinHash). */
  def shingles(text: Column, n: Int): Column =
    array_distinct(ngrams(text, n))

  /** Punctuation ratio: punctuation chars / total chars. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Count of tokens contained in `words` (with repeats). */
  def wordSetHits(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), x => x.isin(words: _*)))

  /** Mean token length. */
  def meanTokenLen(text: Column): Column = {
    val t = tokens(text)
    aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") /
      greatest(size(t), lit(1)).cast("double")
  }

  /** Heuristic quality score in [0,1]: favors mid-length documents
    * with low punctuation and a natural stopword rate — the standard
    * cheap pre-filter for LLM training corpora.
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    qualityScoreOfTokens(tokens(text), text, stopwords)

  /** [[qualityScore]] over a pre-tokenized array — identical
    * arithmetic, for callers that already materialized the token
    * column (the datasheet's one-scan discipline) and must not pay
    * the regex tokenizer again. */
  private[graft] def qualityScoreOfTokens(t: Column, text: Column,
                                          stopwords: Seq[String]): Column = {
    val nTok = size(t).cast("double")
    val lengthScore = least(nTok / lit(32.0), lit(1.0))
    val stop = size(filter(t, x => x.isin(stopwords: _*))).cast("double") /
      greatest(size(t), lit(1)).cast("double")
    val stopScore = least(stop * lit(4.0), lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * lit(4.0), lit(1.0))
    round((lengthScore + stopScore + punctScore) / lit(3.0), 4)
  }

  /** Language-ID marker words (tiny deterministic sets — the n-gram
    * heuristic's vocabulary; extend per deployment).
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "is", "in", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "que"),
  )

  /** Language-ID heuristic: argmax of marker-word hits; 'und' when no
    * marker matches. Deterministic tie-break by language code order.
    */
  def langId(text: Column, markers: Map[String, Seq[String]] = langMarkers): Column =
    langIdOfTokens(tokens(text), markers)

  /** [[langId]] over a pre-tokenized array (see
    * [[qualityScoreOfTokens]] for why). */
  private[graft] def langIdOfTokens(
      t: Column, markers: Map[String, Seq[String]] = langMarkers): Column = {
    val langs = markers.keys.toSeq.sorted
    val hits = langs.map(l => size(array_intersect(t, array(markers(l).map(lit): _*))))
    val best = hits.reduce((a, b) => greatest(a, b))
    langs.zip(hits).foldRight(lit("und"): Column) { case ((l, h), other) =>
      when(h === best && best > 0, lit(l)).otherwise(other)
    }
  }

  /** Content fingerprint: md5 of the normalized text (lowercased,
    * whitespace-collapsed). Exact-dup detection that survives
    * formatting noise.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", tokens(lower(text))))

  /** Winnowing-style rolling fingerprint: minimum 64-bit hash over
    * each window of `w` consecutive k-shingles — robust doc signature
    * for near-dup bucketing (rolling-hash family; one pass, codegen).
    */
  def winnowFingerprint(text: Column, k: Int = 5, w: Int = 8): Column = {
    val sh = shingles(text, k)
    val hashes = transform(sh, s => xxhash64(s))
    val nWin = greatest(size(hashes) - (w - 1), lit(1))
    array_distinct(transform(sequence(lit(0), nWin - 1),
      i => array_min(slice(hashes, i + 1, lit(w)))))
  }

  // ------------------------------------------------------- repetition


  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1 rules, the
    * standard duplicate-text quality filters for LLM corpora): per
    * document, the fraction of duplicated words, duplicated word
    * 2-grams, and the share held by the single most frequent token.
    *
    * DEVIATION from the paper: these are TOKEN-COUNT fractions,
    * whereas Gopher's duplicate/top n-gram rules are CHARACTER-
    * fraction based (share of characters inside duplicated n-grams) —
    * so the paper's published thresholds (e.g. 0.2 for dup 2-grams)
    * do NOT transfer directly; use [[gopherCharStats]] for the
    * character-fraction forms the thresholds were calibrated on.
    *
    * Shape for scale: ALL three signals are pure column expressions
    * (zero shuffle, whole-stage codegen) — the most-frequent-token
    * share rides the native [[TextExprs.gramRunStats]] kernel (in-row
    * sort + run scan) instead of an explode → groupBy counter shuffle,
    * because per-doc term frequency is row-local.
    */
  def repetitionStats(docs: org.apache.spark.sql.DataFrame,
                      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    def frac(num: Column, den: Column): Column =
      round(num.cast("double") / greatest(den, lit(1)).cast("double"), 4)
    docs.select(col(idCol), toks.as("__t"))
      .select(col(idCol),
        size(col("__t")).cast("long").as("n_words"),
        size(array_distinct(col("__t"))).as("__nd"),
        size(ngramsOfTokens(col("__t"), 2)).as("__n2"),
        size(array_distinct(ngramsOfTokens(col("__t"), 2))).as("__nd2"),
        TextExprs.gramRunStats(col("__t")).getField("max_tf").as("__mx"))
      .select(col(idCol), col("n_words"),
        frac(col("n_words") - col("__nd"), col("n_words")).as("dup_word_frac"),
        frac(col("__n2") - col("__nd2"), col("__n2")).as("dup_bigram_frac"),
        frac(col("__mx"), col("n_words")).as("top_token_frac"))
  }

  /** Per-language corpus DATASHEET (Gebru et al. 2021, "Datasheets
    * for Datasets" — the release card a corpus team ships): documents
    * are grouped by PREDICTED language ([[langId]] — production
    * pipelines don't trust crawl metadata) and each group reports
    * volume (docs, tokens, mean length), exact-duplicate surplus
    * ([[fingerprint]] census: `n_docs − distinct fingerprints`),
    * mean heuristic quality ([[qualityScore]], micro-quantized to
    * integers BEFORE the sum so the mean is one division of exact
    * integers — the t14 float-ordering discipline), and the fraction
    * of documents failing a Gopher repetition gate
    * (dup-word frac > 0.3 or top-token frac > 0.2, Rae et al. 2021
    * §A1.1 thresholds over [[repetitionStats]]'s fields).
    *
    * Shape for scale: ONE corpus scan; every per-document feature is
    * map-only (the gram kernel is [[TextExprs.gramRunStats]], in-row);
    * the only exchanges are the hash partition of ~60-byte feature
    * rows to their language group and the partial-aggregated
    * (lang, fingerprint) distinct — both linear, text never shuffles.
    * With an external `langPred` frame (round 18 — cp5 keys the card
    * on the [[LangIdNgram]] classifier), the features still compute
    * map-only BEFORE the id join, so the extra exchange carries
    * ~60-byte feature rows and (id, lang_pred) pairs — never text.
    */
  def datasheet(docs: org.apache.spark.sql.DataFrame,
                idCol: String, textCol: String,
                stopLang: String = "en",
                langPred: Option[org.apache.spark.sql.DataFrame] = None)
  : org.apache.spark.sql.DataFrame = {
    // The marker-word prediction is only computed when no external
    // classifier frame is supplied — with langPred it would be
    // per-document work discarded unread.
    def feats(withMarkerPred: Boolean) = {
      val base = Seq(
        col(idCol),
        size(col("__t")).cast("long").as("__nw"),
        fingerprint(col("__text")).as("__fp"),
        round(qualityScoreOfTokens(col("__t"), col("__text"),
          langMarkers(stopLang)) * 10000)
          .cast("long").as("__qm"),
        round((size(col("__t")) - size(array_distinct(col("__t")))).cast("double") /
          greatest(size(col("__t")), lit(1)), 4).as("__dwf"),
        round(TextExprs.gramRunStats(col("__t")).getField("max_tf").cast("double") /
          greatest(size(col("__t")), lit(1)), 4).as("__ttf"))
      val cols =
        if (withMarkerPred) base :+ langIdOfTokens(col("__t")).as("lang_pred")
        else base
      docs
        .select(col(idCol), col(textCol).as("__text"), tokens(col(textCol)).as("__t"))
        .select(cols: _*)
    }
    val perDoc = langPred match {
      case None => feats(withMarkerPred = true)
      case Some(lp) =>
        // Left join + loud hole: an id the supplied frame does not
        // cover is a caller bug (the card would silently under-count
        // its language group under an inner join), so it raises with
        // the id named instead of dropping the row.
        feats(withMarkerPred = false).join(lp, Seq(idCol), "left")
          .withColumn("lang_pred",
            when(col("lang_pred").isNull, raise_error(concat(
              lit("datasheet: supplied langPred frame has no row for id "),
              col(idCol).cast("string"))))
              .otherwise(col("lang_pred")))
    }
    perDoc.groupBy("lang_pred").agg(
      count(lit(1)).as("n_docs"),
      sum("__nw").as("total_tokens"),
      (count(lit(1)) - countDistinct(col("__fp"))).as("exact_dup_docs"),
      round(sum("__nw").cast("double") / count(lit(1)), 6).as("mean_tokens"),
      round(sum("__qm").cast("double") / (lit(10000.0) * count(lit(1))), 6)
        .as("mean_quality"),
      round(sum(when(col("__dwf") > 0.3 || col("__ttf") > 0.2, 1L)
        .otherwise(0L)).cast("double") / count(lit(1)), 6).as("gopher_fail_frac"))
  }

  /** Gopher's CHARACTER-fraction repetition rules (Rae et al. 2021
    * §A1.1 as commonly implemented) — the paper-faithful companions to
    * [[repetitionStats]]'s token fractions, so published thresholds
    * apply directly: per document, the fraction of characters inside
    * duplicated 2-grams (char-weighted: Σ tf·len over grams with
    * tf>1, capped at 1) and the fraction covered by the single most
    * frequent 2-gram (tf·len of the top gram, ties broken
    * lexicographically). Fractions round half-up in integer space
    * (floor((2·10⁴·k+n)/(2n))) so no engine float rounding is on the
    * compare path.
    *
    * Shape: fully MAP-ONLY — per-doc gram frequencies come from the
    * native [[TextExprs.gramRunStats]] kernel (one in-row sort + run
    * scan inside whole-stage codegen). Zero exchanges: at 100 TB
    * nothing about this query touches the network, where the
    * explode → groupBy form shuffles O(corpus bigrams) counters for a
    * row-local statistic.
    */
  def gopherCharStats(docs: org.apache.spark.sql.DataFrame,
                      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    // exact half-up 4-decimal round in integer space (ev3 pattern)
    def frac4(k: Column, n: Column): Column = {
      val kc = least(coalesce(k, lit(0L)), n) // cap at 1.0 before rounding
      val d = greatest(n, lit(1L))
      floor((kc * 20000L + d) / (d * 2L)) / lit(1e4)
    }
    docs.select(col(idCol),
      length(trim(col(textCol))).cast("long").as("n_chars"),
      TextExprs.gramRunStats(ngrams(col(textCol), 2)).as("__rs"))
      .select(col(idCol), col("n_chars"),
        frac4(col("__rs").getField("dup_chars"), col("n_chars"))
          .as("dup_2gram_char_frac"),
        frac4(col("__rs").getField("top_chars"), col("n_chars"))
          .as("top_2gram_char_frac"))
  }

  // -------------------------------------------------------------- PII

  /** PII patterns, written to the common RE2 ⊂ Java-regex subset so
    * Spark (java.util.regex) and RE2-based engines (the DuckDB oracle)
    * match identically on ASCII text: no lookaround, no backrefs,
    * ASCII classes only. Alternatives are ordered longest-first so
    * leftmost-first alternation picks the same match in both engines.
    *
    * SCOPE: an audit/demo set, not an exhaustive PII suite — IPv4 is
    * octet-range-checked (999.999.999.999 no longer matches), phones
    * cover the NANP forms 555-123-4567 / (555) 123-4567 /
    * +1-555-123-4567 and the bare 7-digit 555-1234. International
    * numbers, SSNs, IBANs, etc. are deliberately out: production
    * redaction should bring a vetted pattern pack with the same
    * fixed-order [[redactPii]] plumbing.
    */
  val emailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val octet = "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
  val ipv4Re: String = s"\\b(?:$octet\\.){3}$octet\\b"
  val phoneRe: String =
    "(?:\\+1[-. ])?(?:\\(\\d{3}\\) ?|\\b\\d{3}[-.])\\d{3}[-.]\\d{4}\\b|\\b\\d{3}-\\d{4}\\b"

  /** Occurrence counts per PII class (detection / audit pass). */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> regexp_count(text, lit(emailRe)).cast("long"),
    "n_ips"    -> regexp_count(text, lit(ipv4Re)).cast("long"),
    "n_phones" -> regexp_count(text, lit(phoneRe)).cast("long"))

  /** Redaction: emails, then IPv4s, then phone fragments — fixed order
    * so overlapping matches resolve deterministically across engines.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")

  /** Corpus term statistics: per document, its dominant term (highest
    * term frequency, lexicographic tiebreak) with that term's document
    * frequency — the integer core of TF-IDF, kept float-free so it is
    * exactly reproducible. Shapes for scale: the term explode
    * aggregates with map-side combine, the per-doc argmax rides the
    * WindowGroupLimit partial top-k, and the df attach is a plain
    * equi-join on the term.
    */
  def termStats(docs: org.apache.spark.sql.DataFrame,
                idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val tf = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    graft.reduce.Reduce.topKPerGroup(tf, Seq(idCol),
        Seq(col("tf").desc, col("term").asc), k = 1)
      .join(df, Seq("term"))
      .select(col(idCol), col("term"), col("tf"), col("df"))
  }

  /** Hashed TF-IDF document vectors (feature hashing, Weinberger et
    * al. 2009) in LONG form — (id, bucket, w_micro): every token
    * hashes to `bucket = h % dim` with an unbiasing sign from the
    * next hash bit, weighted tf · (ln((N+1)/(df+1)) + 1). The idf is
    * fixed-pointed to micro-units (⌊10⁶·idf⌋) BEFORE the per-bucket
    * sum, so the aggregation is pure integer arithmetic —
    * order-independent and engine-exact; the only float op is one ln
    * per vocabulary term. [[assembleVectors]] pivots the long form
    * into dense `array<double>` embeddings for the n-family (ANN /
    * cosine dedup over real text features instead of synthetic
    * embeddings).
    *
    * Shape for scale: ONE tokenize pass — the tf stage ((id, token)
    * map-combined counts) is materialized and feeds both the df
    * aggregation and the weight join (the d3 hashed-shingle
    * discipline: the derived stage is a fraction of the text it
    * replaces, and without it Spark re-tokenizes the corpus for the
    * df branch); N is a row-count-only scan; the join back to tf is
    * a token-key equi-join of counter tables — text never shuffles.
    */
  def hashedTfIdf(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, dim: Int = 64,
                  salt: String = "tfidf"): org.apache.spark.sql.DataFrame = {
    require(dim >= 2, s"dim must be >= 2, got $dim")
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
    val tf = graft.Materialize.reuse(
      tok.groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__tf")))
    val dfT = tf.groupBy("__t").agg(count(lit(1)).as("__df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val hv = conv(substring(md5(concat_ws(":", lit(salt), col("__t"))), 1, 15),
      16, 10).cast("long")
    val idfMicro = floor(lit(1e6) *
      (log((col("__n").cast("double") + 1.0) /
        (col("__df").cast("double") + 1.0)) + 1.0)).cast("long")
    tf.join(dfT, Seq("__t")).crossJoin(broadcast(n))
      .withColumn("__h", hv)
      .select(col(idCol),
        pmod(col("__h"), lit(dim.toLong)).as("bucket"),
        ((lit(1L) - lit(2L) * pmod(expr(s"__h div $dim"), lit(2L))) *
          col("__tf") * idfMicro).as("__wm"))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum("__wm").as("w_micro"))
  }

  /** Pivot [[hashedTfIdf]]'s long form into dense `array<double>`
    * embeddings (one exchange on the id — the long form is already
    * (id, bucket)-keyed). Default: micro→unit scaling + L2
    * normalization. `normalize = false` keeps the RAW micro-unit
    * integers as doubles (exact in fp64): cosine is scale-invariant,
    * and sign-LSH oracles need both engines to hash the SAME doubles
    * — integers survive the round trip bit-exactly, normalized
    * components don't.
    */
  def assembleVectors(longForm: org.apache.spark.sql.DataFrame, idCol: String,
                      dim: Int,
                      normalize: Boolean = true): org.apache.spark.sql.DataFrame = {
    val dense = longForm
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(
        struct(col("bucket").cast("int"), col("w_micro")))).as("__m"))
      .select(col(idCol), transform(sequence(lit(0), lit(dim - 1)),
        b => coalesce(element_at(col("__m"), b), lit(0L)).cast("double"))
        .as("embedding"))
    if (!normalize) dense
    else dense.select(col(idCol),
      graft.functions.VectorExprs.l2Normalize(
        transform(col("embedding"), x => x / 1e6)).as("embedding"))
  }

  /** Unigram language-model quality score — the CCNet-style
    * "perplexity filter" primitive (Wenzek et al. 2020 filter CommonCrawl
    * by LM perplexity; the unigram model is its exactly-reproducible
    * core): fit token probabilities on the corpus itself, score each
    * document by its mean token log-probability (= negative
    * cross-entropy; higher = more typical text, boilerplate and
    * gibberish score low).
    *
    * Determinism contract: per-token log-probs are quantized to
    * integer MICRO-units (`round(1e6·ln(cnt/total))` — cnt and total
    * are exact integers, the division and `ln` are the same IEEE ops
    * in any engine, and the quantization absorbs the ≤1-ulp `ln`
    * divergence), so the per-doc sum is order-independent integer
    * math; the mean is ONE final double division of identical
    * integers — bit-identical everywhere.
    *
    * Shape for scale: ONE tokenize pass (materialized (id, token)
    * stage feeds both the count aggregation and the scoring join —
    * the t13 discipline); the vocab count table is token-keyed and a
    * tiny fraction of the corpus; total is a 1-row broadcast; the
    * scoring join is a token-key equi-join of counters — text never
    * shuffles.
    */
  def unigramLmScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    val tok = graft.Materialize.reuse(
      docs.select(col(idCol), explode(tokens(col(textCol))).as("__t")))
    // materialized: the vocab aggregation feeds both the total row and
    // the scoring join — one corpus-wide exchange, not two
    val cnts = graft.Materialize.reuse(
      tok.groupBy("__t").agg(count(lit(1)).as("__cnt")))
    val tot = cnts.agg(sum("__cnt").as("__tot"))
    val lp = cnts.crossJoin(broadcast(tot))
      .select(col("__t"),
        round(lit(1e6) * log(col("__cnt") / col("__tot")))
          .cast("long").as("__lp"))
    tok.join(lp, Seq("__t"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum("__lp").as("__s"))
      .select(col(idCol), col("n_tokens"),
        (col("__s").cast("double") / (lit(1e6) * col("n_tokens")))
          .as("lm_score"))
  }

  /** BM25 relevance of every document against a fixed term set
    * (Robertson/Spärck Jones idf in the Lucene-style non-negative
    * form `ln(1 + (N−df+0.5)/(df+0.5))`) — the retrieval primitive
    * for quality-weighted corpus search. All counts (tf, df, dl, Σdl)
    * are exact integers, `avgdl` one exact division, and coefficient
    * folding uses plain IEEE ops, so the score is reproducible to the
    * last ulp of `ln` in any engine.
    *
    * Shape for scale: per-doc tf/dl are map-only column expressions
    * (an in-row filter per term — right for the handful of terms a
    * query carries; use [[termStats]] for all-terms statistics); the
    * corpus stats (N, Σdl, per-term df) are ONE tiny aggregate row
    * broadcast back. No shuffle of text or per-term rows anywhere.
    */
  def bm25(docs: org.apache.spark.sql.DataFrame, idCol: String,
           textCol: String, terms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val base = docs.select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(Seq(col(idCol), size(col("__t")).cast("long").as("__dl")) ++
        terms.indices.map(i => size(filter(col("__t"),
          x => x === lit(terms(i)))).cast("long").as(s"__tf_$i")): _*)
    val stats = base.agg(
      count(lit(1)).cast("long").as("__n"),
      Seq(sum("__dl").as("__sumdl")) ++ terms.indices.map(i =>
        sum((col(s"__tf_$i") > 0).cast("long")).as(s"__df_$i")): _*)
    val nd = col("__n").cast("double")
    val avgdl = col("__sumdl").cast("double") / nd
    val score = terms.indices.map { i =>
      val tf = col(s"__tf_$i").cast("double")
      val df = col(s"__df_$i").cast("double")
      log(lit(1.0) + (nd - df + lit(0.5)) / (df + lit(0.5))) *
        ((tf * lit(k1 + 1)) / (tf + lit(k1) *
          (lit(1 - b) + lit(b) * (col("__dl").cast("double") / avgdl))))
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col(idCol), round(score, 4).as("bm25"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much more likely its tokens are under a TARGET
    * distribution (here: the sub-corpus selected by `targetFlag`,
    * e.g. one language or one trusted source) than under the RAW
    * corpus distribution — `weight = mean_t [ln p̂_tgt(t) − ln
    * p̂_raw(t)]`, add-one smoothed over the shared vocabulary so
    * target-unseen tokens stay finite. Resampling then keeps the
    * top-weighted (or Gumbel-perturbed) docs; the weight itself is
    * the deterministic, oracle-checkable core. DSIR's hashed-n-gram
    * bucketing (their §3.2) is a drop-in swap of the token key for
    * `pmod(hash, buckets)` — [[hashedTfIdf]] holds that machinery —
    * exact unigram features keep this registration engine-portable.
    *
    * Determinism contract (the [[unigramLmScore]] discipline): both
    * log-probs are quantized to integer micro-units per token —
    * `round(1e6·ln((cnt+1)/(tot+V)))` of exact integer counts — so
    * the per-doc sum is order-independent integer math and the mean
    * is one final IEEE division of identical integers.
    *
    * Shape for scale: ONE tokenize pass (the materialized (id, flag,
    * token) stage feeds both sides); raw and target counts come from
    * the SAME map-combined aggregation (`count` + `count_if` in one
    * pass — the target sub-corpus is never re-scanned); totals and
    * vocab size are a 1-row broadcast; scoring is a token-key
    * equi-join of counters. Text reaches the cache once and never an
    * exchange.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  targetFlag: Column): DataFrame = {
    val tok = graft.Materialize.reuse(
      docs.select(col(idCol), targetFlag.as("__tgt"),
        explode(tokens(col(textCol))).as("__t")))
    // the counts table feeds BOTH the totals row and the per-token
    // log-ratios — materialized so the corpus-wide token aggregation
    // (the expensive exchange) runs once, not once per consumer
    val cnts = graft.Materialize.reuse(tok.groupBy("__t").agg(
      count(lit(1)).as("__raw"),
      count_if(col("__tgt")).as("__tcnt")))
    val tot = cnts.agg(sum("__raw").as("__rawTot"),
      sum("__tcnt").as("__tgtTot"), count(lit(1)).as("__v"))
    def lpMicro(cnt: Column, total: Column): Column =
      round(lit(1e6) * log((cnt + lit(1)) / (total + col("__v"))))
        .cast("long")
    val lr = cnts.crossJoin(broadcast(tot)).select(col("__t"),
      (lpMicro(col("__tcnt"), col("__tgtTot")) -
        lpMicro(col("__raw"), col("__rawTot"))).as("__lr"))
    tok.join(lr, Seq("__t"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum("__lr").as("__s"))
      .select(col(idCol), col("n_tokens"),
        (col("__s").cast("double") / (lit(1e6) * col("n_tokens")))
          .as("dsir_weight"))
  }

  /** Fixed-length token-window chunking with overlap — the
    * context-window preprocessing step of an LLM training pipeline
    * (long documents become `chunk`-token windows starting every
    * `stride` tokens; `stride < chunk` gives overlap so no boundary
    * context is lost). Chunk starts are the multiples of `stride`
    * below the token count, so every token lands in ≥1 chunk and the
    * final chunk may run short — the standard sliding-window rule.
    *
    * Shape for scale: map-only — tokenize once, explode the
    * per-document start-offset range, `slice` the already-split
    * array. No exchange at all; output is partition-local and
    * streams straight to the sink.
    */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  chunk: Int, stride: Int): DataFrame = {
    require(chunk > 0 && stride > 0 && stride <= chunk,
      s"need 0 < stride <= chunk, got chunk=$chunk stride=$stride")
    docs.select(col(idCol), tokens(col(textCol)).as("__w"))
      .select(col(idCol), col("__w"),
        explode(sequence(lit(0),
          expr(s"(size(__w) - 1) div $stride").cast("int"))).as("__i"))
      .select(col(idCol), col("__i").cast("long").as("chunk_id"),
        slice(col("__w"), col("__i") * lit(stride) + 1, lit(chunk)).as("__c"))
      .select(col(idCol), col("chunk_id"),
        size(col("__c")).cast("long").as("n_chunk_tokens"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  /** CCNet-style paragraph-level dedup (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data" §3.1 — duplicated paragraphs are dropped by comparing
    * hashes across the corpus; the single most-used preprocessing
    * step for web corpora, sitting between document-level d1 and
    * substring-level d9): among all paragraphs with IDENTICAL
    * content, only the first occurrence in (doc, position) order
    * survives; every other copy — across documents AND within one —
    * is flagged. Keep-first is DETERMINISTIC (lowest (id, ord)), not
    * CCNet's processing-order first-seen, so reruns, partitionings,
    * and engines agree bit-for-bit.
    *
    * Shape for scale: each paragraph hashes map-side to 16 bytes
    * (md5) whatever its length; the census exchanges (hash,
    * min-(id, ord) struct, count) out of ONE map-combined
    * aggregation; the verdict is a hash-keyed equi-join of counters —
    * paragraph TEXT never shuffles. Compose with [[chunkTokens]]
    * (stride = chunk) to derive paragraphs from flat token streams,
    * or feed real newline-split paragraphs with their ordinals.
    */
  def dedupParagraphs(paras: DataFrame, idCol: String, ordCol: String,
                      textCol: String): DataFrame = {
    // (id, ord, 16-byte hash) feeds BOTH the census and the verdict
    // join — materialized so the upstream tokenize/chunk/hash pass
    // runs once, not once per consumer (the d3 hashed-shingle
    // discipline; the stage is a sliver of the text it replaces)
    val withH = graft.Materialize.reuse(paras.select(col(idCol), col(ordCol),
      md5(col(textCol)).as("__h")))
    val census = withH.groupBy("__h").agg(
      min(struct(col(idCol), col(ordCol))).as("__k"),
      count(lit(1)).as("n_copies"))
    withH.join(census, Seq("__h"))
      .select(col(idCol), col(ordCol),
        (struct(col(idCol), col(ordCol)) === col("__k")).as("keep"),
        col("n_copies"))
  }

  /** Bigram language-model quality score — one rung up the CCNet
    * perplexity ladder from [[unigramLmScore]] (Wenzek et al. 2020 use
    * 5-gram KenLM; the add-one-smoothed bigram is the exactly
    * reproducible core of conditional scoring): fit P(cur | prev) =
    * (c₂(prev,cur)+1)/(c₁(prev)+V) on the corpus itself, score each
    * document by its mean bigram log-probability. Word-salad scores
    * low even when its unigrams are common — the failure mode t14
    * cannot see.
    *
    * Determinism contract (the t14 discipline): per-bigram log-probs
    * are micro-quantized integers of exact count ratios; the per-doc
    * sum is order-independent integer math; the mean is one IEEE
    * division. Docs with <2 tokens have no bigrams and drop out
    * identically in both engines.
    *
    * Shape for scale: ONE materialized token base feeds the unigram
    * and bigram censuses ([[gramCensusesKeyed]], one pass) and the
    * scored bigram stream ([[gramStream]]); V is a 1-row broadcast;
    * scoring joins the per-type log-probs back. Text reaches the cache
    * once and never an exchange.
    */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = graft.Materialize.reuse(
      docs.select(col(idCol), tokens(col(textCol)).as("__w")))
    val g = gramCensusesKeyed(base.select("__w"), Seq(1, 2), Nil)
    val vocab = g(1).agg(count(lit(1)).as("__v"))
    val lp = g(2)
      .join(g(1), Seq("__w1"))
      .crossJoin(broadcast(vocab))
      .select(col("__w1"), col("__w2"),
        round(lit(1e6) * log((col("__c2") + lit(1)) / (col("__c1") + col("__v"))))
          .cast("long").as("__lp"))
    meanScore(gramSums(gramStream(base, idCol, Nil, 2).join(lp, Seq("__w1", "__w2")),
      idCol, Nil, 2), idCol, 2, "lm2_score")
  }

  /** An LM order arrives from the caller; below 2 there is no context. */
  private def requireOrder(order: Int): Unit =
    require(order >= 2, s"n-gram order must be at least 2, got $order")

  /** The per-document gram-count column of an order-`n` LM score. */
  private def gramsCol(n: Int): String = n match {
    case 2 => "n_bigrams"
    case 3 => "n_trigrams"
    case _ => s"n_${n}grams"
  }

  /** Per-(id, keys…) gram count and exact micro log-prob sum `__s` of a
    * scored `(…, __lp)` gram stream. */
  private def gramSums(scored: DataFrame, idCol: String, keyCols: Seq[String],
                       n: Int): DataFrame =
    scored.groupBy(col(idCol) +: keyCols.map(col): _*)
      .agg(count(lit(1)).as(gramsCol(n)), sum("__lp").as("__s"))

  /** `(id, n-gram count, mean log-prob)` — the one IEEE division of the
    * exact micro sum that every LM score ends in. */
  private def meanScore(sums: DataFrame, idCol: String, n: Int,
                        scoreCol: String): DataFrame =
    sums.select(col(idCol), col(gramsCol(n)),
      (col("__s").cast("double") / (lit(1e6) * col(gramsCol(n)))).as(scoreCol))

  /** The `(idCol, keyCols…, __w1..__wn)` order-`n` gram stream of an
    * `(idCol, keyCols…, __w)` token base — one row per position where a
    * full n-gram fits; map-only. */
  private def gramStream(base: DataFrame, idCol: String, keyCols: Seq[String],
                         n: Int): DataFrame = {
    val ik = (idCol +: keyCols).map(col)
    base.select(ik :+ explode(sbZipN(size(col("__w")), n)).as("__z"): _*)
      .select(ik ++ (0 until n).map(j => col(s"__z.g$j").as(s"__w${j + 1}")): _*)
      .filter(col(s"__w$n").isNotNull)
  }

  /** The k shifted-token arrays zipped positionally — struct fields
    * `g0..g{k-1}`; position i carries (wᵢ, wᵢ₊₁, …, wᵢ₊ₖ₋₁) with
    * nulls past the end. */
  private[graft] def sbZipN(n: Column, k: Int): Column = {
    val nullS = lit(null).cast("string")
    arrays_zip((0 until k).map { j =>
      if (j == 0) col("__w").as("g0")
      else concat(slice(col("__w"), lit(j + 1), greatest(n - j, lit(0))),
        array(Seq.fill(j)(nullS): _*)).as(s"g$j")
    }: _*)
  }

  /** ALL requested gram-order TYPE censuses of one token base in ONE
    * corpus pass (optimization r20, guide §2.3/§6): a single explode
    * of the max-order zip feeds a single GROUPING SETS aggregation —
    * one grouping set per order, keyed (keyCols…, __w1..__wk) — so the
    * k separate explode+aggregate passes over the token base
    * ([[gramCensusKeyed]] per order: k corpus scans, k exchanges)
    * collapse to one Generate + one Expand + one map-combined
    * exchange. At 100 TB that is k−1 fewer passes over the corpus; the
    * shuffle moves the same census partials it always did (Expand
    * replicates rows BEFORE partial aggregation, so map-side combine
    * still collapses each set to its type sliver).
    *
    * Exactness: each order's census is the identical multiset count —
    * position i contributes to order k iff `__wk` is non-null (the gram
    * fits), the same filter the per-order form applied pre-aggregation;
    * here null-tail groups are dropped post-aggregation, which cannot
    * perturb other groups (they were separate groups). Counts are
    * exact integer sums either way. Spec-pinned census-for-census
    * against the per-order form in TextPipelineSpec.
    *
    * The combined frame persists ONCE ([[graft.Materialize.reuse]]);
    * each order's census filters its grouping id from that cache
    * (`__gid` = 2^(kMax−k) − 1: the trailing kMax−k gram columns are
    * the non-grouped ones — keyCols are grouped in EVERY set).
    */
  private[graft] def gramCensusesKeyed(base: DataFrame, orders: Seq[Int],
                                       keyCols: Seq[String]): Map[Int, DataFrame] = {
    require(orders.nonEmpty && orders.forall(_ >= 1))
    val kMax = orders.max
    val kc = keyCols.map(col)
    val gramCols = (1 to kMax).map(j => s"__w$j")
    val exploded = base
      .select(kc :+ explode(sbZipN(size(col("__w")), kMax)).as("__z"): _*)
      .select(kc ++ (0 until kMax).map(
        j => col(s"__z.g$j").as(s"__w${j + 1}")): _*)
    val sets = orders.sorted.map(k => kc ++ gramCols.take(k).map(col))
    val combined = graft.Materialize.reuse(
      exploded.groupingSets(sets, kc ++ gramCols.map(col): _*)
        .agg(count(lit(1)).as("__c"), grouping_id().as("__gid")))
    orders.map { k =>
      val gid = (1L << (kMax - k)) - 1L
      // each order's census re-persists as its own narrow sliver: the
      // LM ladders scan their censuses up to three times each, and a
      // filter-view over the (Σ orders)-sized combined cache made
      // every one of those reads pay a full combined scan (measured:
      // cp6b 10.1 → 17.2 s before this re-persist, 9.6 s with it).
      // Populating a sliver costs one combined-cache read; the token
      // base is still exploded and aggregated exactly ONCE.
      k -> graft.Materialize.reuse(combined
        .filter(col("__gid") === lit(gid) && col(s"__w$k").isNotNull)
        .select(kc ++ gramCols.take(k).map(col)
          :+ col("__c").as(s"__c$k"): _*))
    }.toMap
  }

  /** Order-`k` gram TYPE census `(keyCols…, __w1..__wk, __ck)` over a
    * `(keyCols..., __w)` token-array base, map-combined, grouped per key
    * (empty keys = one global census). The keyed form is what
    * per-language LMs batch on (the t20b discipline: per-key counts are
    * independent, so one grouped aggregation replaces |keys| separate
    * jobs). */
  private def gramCensusKeyed(base: DataFrame, k: Int,
                              keyCols: Seq[String]): DataFrame = {
    val kc = keyCols.map(col)
    val cols = (0 until k).map(j => col(s"__z.g$j").as(s"__w${j + 1}"))
    graft.Materialize.reuse(
      base.select(kc :+ explode(sbZipN(size(col("__w")), k)).as("__z"): _*)
        .select(kc ++ cols: _*)
        .filter(col(s"__w$k").isNotNull)
        .groupBy(kc ++ (1 to k).map(j => col(s"__w$j")): _*)
        .agg(count(lit(1)).as(s"__c$k")))
  }

  /** Stupid-backoff order-n LM score — the scoring scheme Google
    * actually ran at web scale (Brants et al. 2007 §3: count-based
    * backoff with a FIXED multiplier α = 0.4 and no discounting —
    * "stupid" because it skips the normalization that makes distributed
    * training of KN painful, and at large data it matches or beats it).
    * The LM trains on the `trainFilter` subset (the reference-corpus
    * side, t20's discipline) and scores EVERY document — unlike
    * t18/t25's self-scoring, unseen n-grams occur and every backoff
    * branch is live. With c(i..j) the train count of the scored
    * positions i..j and N the train token total, depth d = 0..n−1:
    *
    *   S(wₙ|w₁..wₙ₋₁) = c(1..n)/c(1..n−1)                if c(1..n) > 0
    *                  = αᵈ · c(d+1..n)/c(d+1..n−1)       first d with c(d+1..n) > 0
    *                  = αⁿ⁻¹ · c(n..n)/N                 (unigram)
    *                  = αⁿ⁻¹ / (N+1)                     else (OOV floor; Brants
    *                    leaves OOV to the application — this floor is the
    *                    smallest deterministic choice below every seen
    *                    unigram's backoff mass)
    *
    * Each branch's denominator is positive by construction (every
    * (k−1)-gram census row dominates its k-gram extension's count).
    * Every S is an exact rational with α folded in as 2ᵈ/5ᵈ: ONE double
    * division of exact integers per branch, `(2ᵈ·c).cast(double) /
    * (5ᵈ·ctx)`; the only other float is the t18 micro-quantized ln.
    *
    * Shape for scale: [[sbCounts]] builds every census 1..n off one
    * materialized train-side token base in one grouping-sets pass (the
    * persistable artifact); [[sbScoreWith]] builds the scored gram
    * stream once and left-joins the census slivers, longest gram
    * first (within a length: context, then suffix), against the
    * DISTINCT scored-gram table — the corpus-sized exchange is the
    * final (id, n-gram) → log-prob join, t25's audited shape. Docs with
    * < n tokens carry no n-gram and are absent from the output
    * (t18/t25's convention).
    */
  private[graft] def sbScore(docs: DataFrame, idCol: String, textCol: String,
                             trainFilter: Column, order: Int): DataFrame = {
    requireOrder(order)
    // ONE materialized (id, train-flag, token-array) base feeds both
    // the censuses and the scored stream — text scanned once (the
    // combined train-and-score form; the split sbCounts/sbScoreWith
    // entry points are the frozen-artifact deployment)
    val base = graft.Materialize.reuse(
      docs.select(col(idCol), trainFilter.as("__tr"),
        tokens(col(textCol)).as("__w")))
    val counts = sbCountsOfTokens(base.filter(col("__tr")).select("__w"), order)
    sbScoreStream(graft.Materialize.reuse(
      gramStream(base.select(col(idCol), col("__w")), idCol, Nil, order)),
      idCol, counts)
  }

  /** Stupid-backoff trigram LM (t28): [[sbScore]] at order 3,
    * `(id, n_trigrams, sb3_score)`. */
  def stupidBackoffScore(docs: DataFrame, idCol: String, textCol: String,
                         trainFilter: Column): DataFrame =
    sbScore(docs, idCol, textCol, trainFilter, 3)

  /** Stupid-backoff 5-gram LM (t28b — the order Brants et al. shipped;
    * CCNet's KenLM is a 5-gram): [[sbScore]] at order 5,
    * `(id, n_5grams, sb5_score)`. */
  def stupidBackoff5Score(docs: DataFrame, idCol: String, textCol: String,
                          trainFilter: Column): DataFrame =
    sbScore(docs, idCol, textCol, trainFilter, 5)

  /** The frozen order-`order` stupid-backoff LM artifact — the count
    * tables a deployment persists (KenLM ships counts/probabilities the
    * same way; probabilities can't be precomputed because unseen
    * n-grams need the backoff arithmetic at scoring time): `censuses(k)`
    * is the train corpus's order-k gram census `(__w1..__wk, __ck)` for
    * k = 1..order, plus the 1-row token total `__n` (its in-plan
    * empty-train guard rides along). */
  final case class SbCounts(order: Int, censuses: Map[Int, DataFrame],
                            nTot: DataFrame)

  /** Build the [[SbCounts]] artifact of order `order` (≥ 2) from the
    * `trainFilter` side of `docs`; persist its tables and score forever
    * after with [[sbScoreWith]]. */
  def sbCounts(docs: DataFrame, textCol: String, trainFilter: Column,
               order: Int): SbCounts = {
    requireOrder(order)
    sbCountsOfTokens(graft.Materialize.reuse(
      docs.filter(trainFilter).select(tokens(col(textCol)).as("__w"))), order)
  }

  /** [[sbCounts]] over a pre-built `(__w)` token-array base — lets
    * [[sbScore]] share ONE base between censuses and the scored stream
    * (one text scan, review r13). All `order` censuses come off ONE
    * cached grouping-sets pass; the shared cache still serves a
    * streamed scorer's per-micro-batch joins (review r13: an uncached
    * census would re-aggregate the whole train base per batch). */
  private def sbCountsOfTokens(base: DataFrame, order: Int): SbCounts = {
    val g = gramCensusesKeyed(base, 1 to order, Nil)
    // an empty train side would make every branch NULL — fail loudly
    // in-plan (the sp2 discipline) instead of emitting silent nulls;
    // the message names the public entry point of this order
    val entry = if (order == 3) "stupidBackoffScore" else s"stupidBackoff${order}Score"
    val nTot = g(1).agg(sum("__c1").as("__n0"))
      .select(when(col("__n0").isNull, raise_error(lit(
        s"$entry: trainFilter selects no documents")))
        .otherwise(col("__n0")).as("__n"))
    SbCounts(order, g, nTot)
  }

  /** Score documents under a FROZEN [[SbCounts]] artifact — the
    * deployment path (and the per-micro-batch body of the streaming
    * sink [[graft.streaming.Streaming.lmScoreSink]]): no training pass,
    * scores bit-identical to [[sbScore]] on the same rows under the same
    * counts because every step is [[sbScoreStream]]. Output
    * `(id, n-gram count, sb<order>_score)`. */
  def sbScoreWith(docs: DataFrame, idCol: String, textCol: String,
                  c: SbCounts): DataFrame =
    sbScoreStream(graft.Materialize.reuse(gramStream(
      docs.select(col(idCol), tokens(col(textCol)).as("__w")), idCol, Nil,
      c.order)), idCol, c)

  /** THE stupid-backoff scoring kernel, at `c.order`: per-type CASE over
    * the census joins, micro-quantized ln, per-doc rollup. Every batch,
    * frozen-artifact and streamed path passes through this one
    * implementation — online ≡ offline cannot drift through a divergent
    * copy. */
  private def sbScoreStream(tok: DataFrame, idCol: String,
                            c: SbCounts): DataFrame = {
    val n = c.order
    val w = (1 to n).map(j => s"__w$j")
    // the train count of scored positions a..b, e.g. `__c2345`
    def cnt(a: Int, b: Int): String = "__c" + (a to b).mkString
    def census(a: Int, b: Int): DataFrame = {
      val k = b - a + 1
      c.censuses(k).select((1 to k).map(j => col(s"__w$j").as(s"__w${a + j - 1}"))
        :+ col(s"__c$k").as(cnt(a, b)): _*)
    }
    def pow5(d: Int): Long = (1 to d).foldLeft(1L)((p, _) => 5L * p)
    // backoff depth d scores the suffix d+1..n over its context
    // d+1..n−1 (the token total at the unigram)
    val branches = (0 until n).map { d =>
      val ctx = if (d == n - 1) col("__n") else col(cnt(d + 1, n - 1))
      val p =
        if (d == 0) col(cnt(1, n)).cast("double") / ctx
        else (lit(1L << d) * col(cnt(d + 1, n))).cast("double") / (lit(pow5(d)) * ctx)
      (col(cnt(d + 1, n)).isNotNull, p)
    }
    val p = branches.tail.foldLeft(when(branches.head._1, branches.head._2)) {
      case (acc, (hit, q)) => acc.when(hit, q)
    }.otherwise(lit((1L << (n - 1)).toDouble) /
      (lit(pow5(n - 1)) * (col("__n") + lit(1L))))
    // longest gram first; within a length the context, then the suffix
    val ranges = (1, n) +: (n - 1 to 1 by -1).flatMap(
      k => Seq((n - k, n - 1), (n - k + 1, n)))
    val lp = ranges
      .foldLeft(tok.select(w.map(col): _*).distinct()) { case (df, (a, b)) =>
        df.join(census(a, b), w.slice(a - 1, b), "left")
      }
      .crossJoin(broadcast(c.nTot))
      .select(w.map(col) :+ round(lit(1e6) * log(p)).cast("long").as("__lp"): _*)
    meanScore(gramSums(tok.join(lp, w), idCol, Nil, n), idCol, n, s"sb${n}_score")
  }

  /** Interpolated Kneser-Ney bigram LM score (t25) — the smoothing
    * the CCNet filter actually ships (Wenzek et al. 2020 §3.3 use a
    * KenLM 5-gram with modified KN; this is the bigram form under the
    * same absolute-discount + continuation-probability structure,
    * where [[bigramLmScore]] is the add-one baseline): [[knSums]] at
    * order 2, `(id, n_bigrams, kn2_score)`. */
  def knBigramLmScore(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    meanScore(knSums(docs, idCol, textCol, Nil, 2), idCol, 2, "kn2_score")

  /** Interpolated Kneser-Ney 5-GRAM LM score (t25b) — the model the
    * CCNet filter actually ships (Wenzek et al. 2020 §3.3: a KenLM
    * 5-gram with Kneser-Ney smoothing): [[knSums]] at order 5,
    * `(id, n_5grams, kn5_score)`. */
  def knFiveGramLmScore(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    meanScore(knSums(docs, idCol, textCol, Nil, 5), idCol, 5, "kn5_score")

  /** Keyed core of the interpolated Kneser-Ney order-n score — ONE
    * implementation of the level algebra per `keyCols` group (empty =
    * one global LM; `Seq(langCol)` = cp6/cp6b's per-language form), so
    * the discount/continuation arithmetic cannot drift between orders
    * or between the global and per-language forms (review r13).
    * Returns `(idCol, keyCols..., n-gram count, __s)` with `__s` the
    * exact micro log-prob sum.
    *
    * Standard interpolated KN (Chen & Goodman 1998 §4.1.6), absolute
    * discount D = 3/4 at every level, continuation counts below the
    * top order, self-scored (the LM trains on the corpus it scores —
    * so every count a scored n-gram needs is ≥ 1 by containment and
    * no max(·,0) branch is live):
    *
    *   Pₙ(wₙ|w₁..wₙ₋₁) = (cₙ−D)/ctxₙ + D·λₙ/ctxₙ · Pₙ₋₁
    *   Pₖ(wₙ|·)        = (aₖ−D)/ctxₖ + D·λₖ/ctxₖ · Pₖ₋₁   (k = n−1..2)
    *   P₁(wₙ)          = a₁/N₂                  (continuation unigram)
    *
    * where at the top cₙ = raw n-gram count, ctxₙ = Σ_w cₙ over the
    * (n−1)-context, λₙ = distinct continuations of that context; at
    * lower order k the count aₖ is the CONTINUATION count — the number
    * of distinct (k+1)-gram TYPES ending in the scored k-gram
    * (Kneser-Ney's "how many contexts has it completed", the quantity
    * that demotes a frequent-but-rigid word like 'Francisco') — ctxₖ
    * its middle-grouped total, λₖ the distinct-last-word count of that
    * middle group; a₁ = distinct bigram types ending in wₙ, N₂ = total
    * bigram types.
    *
    * Determinism contract: every count is an exact integer off one of
    * the gram-type censuses 2..n; with D = 3/4 each level folds to
    * `(4a−3 + 3·λ·P₋)/(4·ctx)` — the only float ops are the int→double
    * casts (exact below 2⁵³), one multiply-add chain and one division
    * per level (IEEE basic ops, correctly rounded, so bit-identical in
    * any engine given the same expression tree — the t25b oracle
    * mirrors the tree node for node), and the micro-quantized ln
    * (t18's gate-proven pattern). At order 2 the whole probability
    * instead folds to ONE exact rational, `((4·c₂−3)·N₂ + 3·λ₂·a₁) /
    * (4·ctx₂·N₂)` — one division of exact-integer doubles, t25's
    * oracle form; integer intermediates stay in 64 bits through ~10⁹
    * bigram types, past that ANSI fails loudly (the t23 discipline).
    *
    * Shape for scale: n−1 map-combined TYPE censuses off ONE
    * materialized token base — DELIBERATELY per-order censuses, not the
    * r20 grouping-sets fusion: at order 5 a census is near-corpus-sized
    * (most 5-gram types are unique), and this ladder reads each census
    * 2-3 times — the fused combined cache + per-order slivers
    * double-materialize that volume, measured cp6b 10.1 → 14.6 s
    * (BenchN min-of-5, both heaps) against a 3-explode saving the
    * cached token base makes cheap anyway. The fusion stays where it
    * measured a real win: the stupid-backoff counts (one read per
    * census — t28b −26%). The middle-grouped (ctxₖ, λₖ) pairs ROLL UP
    * from the cached suffix census — ctxₖ = Σ aₖ, λₖ = row count —
    * identical exact integers to a direct `count + countDistinct` over
    * the census minus its two-phase expand (optimization r19). The
    * count attachments are equi-joins of census SLIVERS against the
    * n-gram type table (the top census IS the scored-type table); the
    * single corpus-sized exchange is the final (id, n-gram) → log-prob
    * join + rollup, t25/t28b's audited tail. Corpus text never
    * shuffles.
    */
  private[graft] def knSums(docs: DataFrame, idCol: String, textCol: String,
                            keyCols: Seq[String], order: Int): DataFrame = {
    requireOrder(order)
    val n = order
    val kc = keyCols.map(col)
    val base = graft.Materialize.reuse(
      docs.select((col(idCol) +: kc) :+ tokens(col(textCol)).as("__w"): _*))
    val noId = base.select(kc :+ col("__w"): _*)
    val g = (n to 2 by -1).map(k => k -> gramCensusKeyed(noId, k, keyCols)).toMap
    val w = (1 to n).map(j => s"__w$j")
    // the last k positions of a (k+1)-gram census, moved to the scored
    // n-gram's last k positions (aliased only where the position moves)
    def suffix(k: Int): Seq[Column] = (2 to k + 1).map { j =>
      val to = j + n - k - 1
      if (to == j) col(s"__w$j") else col(s"__w$j").as(s"__w$to")
    }
    // top level: context totals + distinct continuations off the n-gram census
    val pre = g(n).groupBy(kc ++ w.take(n - 1).map(col): _*)
      .agg(sum(s"__c$n").as(s"__ctx$n"), count(lit(1)).as(s"__lam$n"))
    // level k = n−1..2: continuation counts off the (k+1)-gram census
    // by suffix, and the middle-grouped (ctx, λ) rolled up from them
    val levels = (n - 1 to 2 by -1).map { k =>
      val suf = graft.Materialize.reuse(
        g(k + 1).groupBy(kc ++ suffix(k): _*).agg(count(lit(1)).as(s"__a$k")))
      val mid = suf.groupBy(kc ++ w.slice(n - k, n - 1).map(col): _*)
        .agg(sum(s"__a$k").as(s"__ctx$k"), count(lit(1)).as(s"__lam$k"))
      (k, suf, mid)
    }
    // continuation unigram off the bigram census (t25's n1b / N pair)
    val suf1 = g(2).groupBy(kc ++ suffix(1): _*).agg(count(lit(1)).as("__a1"))
    val nb = if (keyCols.isEmpty) g(2).agg(count(lit(1)).as("__nb"))
      else g(2).groupBy(kc: _*).agg(count(lit(1)).as("__nb"))
    val p =
      // order 2 folds to t25's single exact rational (its oracle's form)
      if (n == 2)
        ((lit(4L) * col("__c2") - lit(3L)) * col("__nb") +
          lit(3L) * col("__lam2") * col("__a1")).cast("double") /
          (lit(4L) * col("__ctx2") * col("__nb")).cast("double")
      else {
        // the level fold: P = (4a−3 + 3λP₋) / (4·ctx), all-integer inputs
        def level(a: String, k: Int, prev: Column): Column =
          ((lit(4L) * col(a) - lit(3L)).cast("double") +
            lit(3.0) * col(s"__lam$k").cast("double") * prev) /
            (lit(4L) * col(s"__ctx$k")).cast("double")
        val p1 = col("__a1").cast("double") / col("__nb").cast("double")
        level(s"__c$n", n, (2 until n).foldLeft(p1)((q, k) => level(s"__a$k", k, q)))
      }
    val lpBase = levels
      .foldLeft(g(n).join(pre, keyCols ++ w.take(n - 1))) {
        case (df, (k, suf, mid)) =>
          df.join(suf, keyCols ++ w.drop(n - k))
            .join(mid, keyCols ++ w.slice(n - k, n - 1))
      }
      .join(suf1, keyCols :+ w.last)
    val lpN = if (keyCols.isEmpty) lpBase.crossJoin(broadcast(nb))
      else lpBase.join(broadcast(nb), keyCols)
    val lp = lpN.select(kc ++ w.map(col)
      :+ round(lit(1e6) * log(p)).cast("long").as("__lp"): _*)
    gramSums(gramStream(base, idCol, keyCols, n).join(lp, keyCols ++ w),
      idCol, keyCols, n)
  }

  /** CCNet perplexity buckets (cp6) — the head/middle/tail corpus
    * structure CCNet actually SHIPS (Wenzek et al. 2020 §3.3: score
    * every document with a per-language LM, cut each language into
    * perplexity terciles; "head" is the cleanest third a training run
    * mixes first): a per-LANGUAGE interpolated-KN bigram LM
    * ([[knSums]] with the language key riding every aggregate — the
    * t20b batching discipline; language counts are independent, so the
    * grouped form is pure batching), then per-language tercile cutoffs
    * over the DISTINCT mean-score table ([[tercileBuckets]]).
    * Docs with no bigram (single-token) take `tail` with NULL score.
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        langCol: String): DataFrame =
    tercileBuckets(docs, idCol, textCol, langCol, 2)

  /** CCNet perplexity buckets at ORDER 5 (cp6b) — [[perplexityBuckets]]
    * with the per-language LM at order 5, so the head/middle/tail
    * release structure matches Wenzek et al. 2020's actual artifact (a
    * 5-gram KN KenLM per language) rather than a bigram approximation
    * of it. Docs with < 5 tokens have no 5-gram → NULL score → `tail`.
    */
  def perplexityBuckets5(docs: DataFrame, idCol: String, textCol: String,
                         langCol: String): DataFrame =
    tercileBuckets(docs, idCol, textCol, langCol, 5)

  /** THE tercile-cut machinery of the cp6 family over the per-language
    * order-`order` KN LM ([[knSums]] keyed by `langCol`), so the cuts
    * cannot drift between orders.
    *
    * Determinism: the per-doc key is `kmicro = floor(s / n)` — one
    * IEEE division of exact integers (s, a sum of micro log-probs
    * ≤ ~3·10⁷ each, stays exactly representable in fp64 up to ~3·10⁸
    * tokens per document — far past any real doc; beyond it the
    * long→double cast rounds, it does not overflow) under `floor`,
    * which has no round-half freedom. Cutoffs are
    * exact: order distinct kmicro DESC per language, take running doc
    * counts, and `c1 = max(kmicro | cum ≥ ⌈n/3⌉)`,
    * `c2 = max(kmicro | cum ≥ ⌈2n/3⌉)` with ceilings as integer
    * `(n+2) div 3` arithmetic; ties share a bucket (deterministic,
    * slightly uneven thirds — the CCNet cut is by value, not by
    * row-split). Docs with no scored n-gram take `tail` with NULL
    * score — the conservative call for an unjudgeable doc.
    *
    * Shape for scale: the ONLY window runs over the distinct (lang,
    * kmicro) table — bounded by the micro value range (~3·10⁷ rows
    * worst-case) regardless of corpus size, the t23 discipline — and
    * cutoffs broadcast back as a |langs|-row sliver. Corpus text never
    * exchanges; no global sort of documents exists.
    */
  private def tercileBuckets(docs: DataFrame, idCol: String, textCol: String,
                             langCol: String, order: Int): DataFrame = {
    val nCol = gramsCol(order)
    val scored = graft.Materialize.reuse(
      knSums(docs, idCol, textCol, Seq(langCol), order)
        .select(col(idCol), col(langCol), col(nCol),
          floor(col("__s").cast("double") / col(nCol))
            .cast("long").as("kmicro")))
    val dist = scored.groupBy(langCol, "kmicro").agg(count(lit(1)).as("__cnt"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(langCol).orderBy(col("kmicro").desc)
    val nl = scored.groupBy(langCol).agg(count(lit(1)).as("__nl"))
    val cuts = dist.withColumn("__cum", sum("__cnt").over(win))
      .join(broadcast(nl), Seq(langCol))
      .groupBy(langCol)
      .agg(
        max(when(col("__cum") >= expr("(__nl + 2) div 3"),
          col("kmicro"))).as("__t1"),
        max(when(col("__cum") >= expr("(2 * __nl + 2) div 3"),
          col("kmicro"))).as("__t2"))
    docs.select(col(idCol), col(langCol))
      .join(scored, Seq(idCol, langCol), "left")
      .join(broadcast(cuts), Seq(langCol), "left")
      .select(col(idCol), col(langCol), col(nCol),
        col("kmicro"),
        when(col("kmicro").isNull, lit("tail"))
          .when(col("kmicro") >= col("__t1"), lit("head"))
          .when(col("kmicro") >= col("__t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** C4 line/page rule filter (t27) — the heuristic cleaning stage of
    * the Colossal Clean Crawled Corpus (Raffel et al. 2020 §2.2),
    * reduced to its integer-decidable core (the [[Boilerplate]] t26
    * discipline; the bad-words list is deployment configuration, not
    * a rule):
    *
    * Per line (split on `\n`, space-trimmed — SQL `trim` semantics):
    * KEEP iff the line ends in terminal punctuation (`.` `!` `?` `"`)
    * AND has ≥ 3 whitespace tokens AND does not contain `javascript`
    * (case-insensitive). Per page: kept iff ≥ 5 lines survive AND the
    * RAW text contains neither `lorem ipsum` (case-insensitive) nor a
    * curly brace `{`.
    *
    * Every gate is a string containment / suffix / count comparison —
    * no floats exist, so a DuckDB replay (list_filter + the same
    * trim/suffix/split/contains chain) is bit-identical. Shape: pure
    * `functions._` HOFs — ONE codegen'd map-only pass, text never
    * shuffles (the t26 plan). Line endings normalize first
    * (`\r\n`/`\r` → `\n` — a CRLF crawl page would otherwise fail
    * every terminal-punctuation gate on the trailing `\r`). Returns
    * `struct(clean, n_kept, n_dropped, page_kept)`; `clean` is the
    * kept lines re-joined with `\n` (computed for dropped pages too —
    * the caller applies `page_kept`, keeping the operator a pure
    * per-doc report like t26).
    */
  def c4Clean(text0: Column): Column = {
    val text = regexp_replace(text0, "\r\n?", "\n")
    val lines = split(text, "\n")
    val keepLine = (l: Column) => {
      val t = trim(l)
      // EMPTY split artifacts are filtered before the count: a line
      // starting with a tab (space-only trim keeps it) splits to a
      // leading "" token, which would inflate the word count and let
      // 2-word lines pass — drifting from Raffel et al.'s ≥3-words
      // rule (advisor r13; the oracle mirrors the filter)
      substring(t, -1, 1).isin(".", "!", "?", "\"") &&
        size(filter(split(t, "\\s+"), x => x =!= "")) >= 3 &&
        !lower(t).contains("javascript")
    }
    val kept = filter(lines, keepLine)
    val pageKept = (size(kept) >= 5) && Boilerplate.pageGate(text)
    struct(
      array_join(transform(kept, l => trim(l)), "\n").as("clean"),
      size(kept).cast("long").as("n_kept"),
      (size(lines) - size(kept)).cast("long").as("n_dropped"),
      pageKept.cast("long").as("page_kept"))
  }

  /** Corpus profile — the per-(stratum) "corpus card" a training-data
    * pipeline reports before mixing: document count, total chars,
    * total tokens, and vocabulary size (distinct tokens) per group.
    *
    * Shape for scale: ONE text pass (the (group, chars, tokens)
    * projection is materialized and feeds both aggregates); the vocab
    * exchange carries per-DOC-distinct tokens (`array_distinct`
    * before the explode — group-level distinctness is unaffected,
    * repeated-token volume never shuffles). `approx = true` swaps the
    * exact distinct for HyperLogLog++ (`approx_count_distinct`,
    * `rsd` relative error) — the 100 TB path, where an exact
    * per-group distinct over billions of tokens is a needless
    * full-vocab exchange; the registered oracle query runs exact.
    */
  def corpusProfile(docs: DataFrame, groupCols: Seq[String],
                    textCol: String, approx: Boolean = false,
                    rsd: Double = 0.02): DataFrame = {
    val g = groupCols.map(col)
    val base = graft.Materialize.reuse(docs.select(
      g :+ length(col(textCol)).cast("long").as("__chars")
        :+ tokens(col(textCol)).as("__w"): _*))
    val docStats = base.groupBy(g: _*).agg(
      count(lit(1)).as("n_docs"),
      sum("__chars").as("total_chars"),
      sum(size(col("__w"))).cast("long").as("total_tokens"))
    val vocabAgg =
      if (approx) approx_count_distinct(col("__t"), rsd).as("vocab")
      else count_distinct(col("__t")).as("vocab")
    val vocab = base
      .select(g :+ explode(array_distinct(col("__w"))).as("__t"): _*)
      .groupBy(g: _*).agg(vocabAgg)
    // null-safe group join (<=>): a NULL group key is a legitimate
    // stratum ("language unknown") and must keep its corpus-card row —
    // a plain equi-join drops it silently (nulls never equi-join).
    // Oracle equivalents must join with IS NOT DISTINCT FROM.
    if (groupCols.isEmpty) docStats.crossJoin(vocab)
    else {
      val vocabR = groupCols.foldLeft(vocab)(
        (d, c) => d.withColumnRenamed(c, s"__r_$c"))
      docStats.join(vocabR,
        groupCols.map(c => col(c) <=> col(s"__r_$c")).reduce(_ && _))
        .drop(groupCols.map(c => s"__r_$c"): _*)
    }
  }

  /** Concat-and-split sequence packing — assign every document a
    * byte-exact position in the virtual token stream its shard forms
    * (docs concatenated in id order), then report which fixed-size
    * training sequences (`budget` tokens each) the document spans.
    * This is GPT-style "pack then split at sequence boundaries":
    * `start_offset` = tokens before the doc in its shard,
    * `seq_first/seq_last` = the budget-sized blocks the doc touches.
    *
    * Shape for scale: the prefix sum is a window over EACH SHARD
    * independently (`pmod(id, shards)`), so the packing parallelism
    * is chosen by the caller, not bound to one global ordering — at
    * corpus scale every shard is an independent pack stream and the
    * single exchange is the shard hash partition. All arithmetic is
    * integer-exact (`DIV`, no doubles).
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    shards: Int, budget: Int): DataFrame = {
    require(shards > 0 && budget > 0,
      s"need positive shards/budget, got shards=$shards budget=$budget")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // `idCol` must be numeric and NON-NEGATIVE: the shard key is
    // pmod(id, shards), which diverges from sign-preserving `%` for
    // negative ids (a t17-oracle mismatch waiting to happen) — fail
    // loudly in-plan rather than shard differently than the caller's
    // `%`-based bookkeeping expects
    val idChecked = when(col(idCol) < 0, raise_error(
      concat(lit(s"packSequences: negative $idCol "), col(idCol).cast("string"),
        lit(" — shard = pmod(id, shards) requires non-negative ids"))))
      .otherwise(col(idCol))
    docs.select(idChecked.as(idCol),
        pmod(col(idCol), lit(shards)).cast("long").as("shard"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("__cum", sum("n_tokens").over(w))
      .select(col(idCol), col("shard"), col("n_tokens"),
        (col("__cum") - col("n_tokens")).as("start_offset"),
        expr(s"CAST((__cum - n_tokens) DIV $budget AS BIGINT)")
          .as("seq_first"),
        expr(s"CAST((__cum - 1) DIV $budget AS BIGINT)").as("seq_last"))
  }
}

/** Event-time helpers. The events table ships a native parquet
  * TIMESTAMP (micros); older exports stored nanos-since-epoch as a
  * plain Long. Queries resolve the encoding from the schema at
  * plan-build time, so both generations of data read correctly.
  */
object TimeFns {
  /** Schema-adaptive timestamp accessor: pass-through when the column
    * is already timestamp-typed, Long-nanos → micros otherwise.
    */
  def asTimestamp(df: DataFrame, name: String): Column =
    df.schema(name).dataType match {
      case _: TimestampType | _: TimestampNTZType => col(name)
      case _ => timestamp_micros((col(name) / 1000L).cast("long"))
    }

  /** Micros-since-epoch regardless of physical encoding (timestamp
    * column vs legacy Long nanos) — for gap/interval arithmetic.
    */
  def asMicros(df: DataFrame, name: String): Column =
    df.schema(name).dataType match {
      case _: TimestampType => unix_micros(col(name))
      case _: TimestampNTZType =>
        unix_micros(col(name).cast(TimestampType))
      case _ => (col(name) / 1000L).cast("long")
    }
}
