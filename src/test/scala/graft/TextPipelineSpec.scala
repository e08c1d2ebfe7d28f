package graft

import graft.batch.ClusterScripts
import graft.dedup.Decontaminate
import graft.functions.TextFns
import org.apache.spark.sql.functions._

/** Round-4 pipeline additions: decontamination, repetition rules,
  * PII detection/redaction, deployment-script generation.
  */
class TextPipelineSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------- decontamination

  test("ngramOverlap counts benchmark 3-gram hits per training doc") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // 7 shingles
      (2L, "completely clean text with no overlap at all"), // 6 shingles
      (3L, "short doc")                                      // 0 shingles
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "a quick brown fox jumps question")
    ).toDF("doc_id", "text")
    // bench 3-grams: {a quick brown, quick brown fox, brown fox jumps,
    //                 fox jumps question} — doc 1 contains 2 of its own
    // shingles in that set (quick brown fox, brown fox jumps)
    val r = Decontaminate.ngramOverlap(train, bench, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(r(0).getLong(1) == 7 && r(0).getLong(2) == 2)
    assert(r(0).getDouble(3) == 0.2857)
    assert(r(1).getLong(2) == 0 && r(1).getDouble(3) == 0.0)
    // shingle-less doc: zero shingles, zero contamination (no div-0)
    assert(r(2).getLong(1) == 0 && r(2).getDouble(3) == 0.0)
  }

  test("ngramOverlap broadcast and shuffle variants agree") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val a = collectSorted(Decontaminate.ngramOverlap(
      train, bench, "doc_id", "text", n = 3, broadcastBench = true))
    val b = collectSorted(Decontaminate.ngramOverlap(
      train, bench, "doc_id", "text", n = 3, broadcastBench = false))
    assert(a == b && a.nonEmpty)
  }

  test("evalContamination: planted dirty/partial/clean eval docs; " +
       "equals role-swapped ngramOverlap on hit counts") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "some other training text entirely here today"),
      (3L, "alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (97L, "the quick brown fox jumps"),        // all 3 grams in train → dirty
      (194L, "over the lazy cat sits quietly here"), // 1 of 5 grams (0.2) → dirty at ≥0.2
      (291L, "totally novel unseen benchmark content"), // clean
      (388L, "xy zq")                            // shingle-less
    ).toDF("doc_id", "text")
    val r = Decontaminate.evalContamination(train, eval, "doc_id", "text",
        n = 3, dirtyAt = 0.2)
      .orderBy("doc_id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(97L, 194L, 291L, 388L))
    assert(r(0).getLong(2) == 3 && r(0).getDouble(3) == 1.0 && r(0).getBoolean(4))
    assert(r(1).getLong(1) == 5 && r(1).getLong(2) == 1 &&
      r(1).getDouble(3) == 0.2 && r(1).getBoolean(4)) // RAW-ratio gate at the boundary
    assert(r(2).getLong(2) == 0 && !r(2).getBoolean(4))
    assert(r(3).getLong(1) == 0 && r(3).getDouble(3) == 0.0 && !r(3).getBoolean(4))
    // semantics = ngramOverlap with roles swapped (the scale shape is
    // what differs: the broadcast must sit on the EVAL side)
    val swapped = Decontaminate.ngramOverlap(eval, train, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
      x.getDouble(3))).toSeq == swapped.toSeq)
  }

  // ----------------------------------------------------- repetition

  test("repetitionStats: planted duplicate words/bigrams and top token") {
    val docs = Seq(
      (1L, "spam spam spam spam"),    // 4 words, 1 distinct; bigrams all "spam spam"
      (2L, "all words here differ"),  // no repetition
      (3L, "go go stop stop go stop") // 6 words, 2 distinct
    ).toDF("doc_id", "text")
    val r = TextFns.repetitionStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 1: dup_word 3/4, dup_bigram 2/3, top_token 4/4
    assert(r(0).getLong(1) == 4)
    assert(r(0).getDouble(2) == 0.75)
    assert(r(0).getDouble(3) == 0.6667)
    assert(r(0).getDouble(4) == 1.0)
    // doc 2: everything unique → 0, 0, 1/4
    assert(r(1).getDouble(2) == 0.0 && r(1).getDouble(3) == 0.0)
    assert(r(1).getDouble(4) == 0.25)
    // doc 3: dup_word 4/6; bigrams: go go, go stop, stop stop, stop go,
    // go stop → 5 total, 4 distinct → 1/5; top token go|stop = 3/6
    assert(r(2).getDouble(2) == 0.6667)
    assert(r(2).getDouble(3) == 0.2)
    assert(r(2).getDouble(4) == 0.5)
  }

  test("gramRunStats kernel: run counts, lexicographic tie-break, empties") {
    val r = Seq(
      Seq("b b", "a a", "b b", "a a", "c"), // tf 2/2/1, tie at 2 → "a a"
      Seq[String](),                        // no grams
      Seq("x")                              // single gram, tf 1
    ).toDF("gs")
      .select(graft.functions.TextExprs.gramRunStats(col("gs")).as("s"))
      .select("s.dup_chars", "s.top_chars", "s.max_tf").collect()
    assert(r(0).getLong(0) == 12 && r(0).getLong(1) == 6 && r(0).getLong(2) == 2)
    assert(r(1).getLong(0) == 0 && r(1).getLong(1) == 0 && r(1).getLong(2) == 0)
    assert(r(2).getLong(0) == 0 && r(2).getLong(1) == 1 && r(2).getLong(2) == 1)
  }

  test("gramRunStats: null elements are skipped, not an NPE (SQL surface)") {
    GraftFunctions.register(spark)
    spark.sql("SELECT gram_run_stats(array('a', NULL, 'a')) AS s")
      .select("s.dup_chars", "s.top_chars", "s.max_tf").collect() match {
      case Array(r) =>
        assert(r.getLong(0) == 2 && r.getLong(1) == 2 && r.getLong(2) == 2)
    }
    // all-null array behaves like an empty one
    spark.sql("SELECT gram_run_stats(array(CAST(NULL AS STRING))) AS s")
      .select("s.max_tf").collect() match {
      case Array(r) => assert(r.getLong(0) == 0)
    }
  }

  test("charWindowHashes counts CODEPOINTS: emoji text matches substring semantics") {
    // "x😀y😀x😀y" = 7 codepoints (10 UTF-16 units): windows of 3 →
    // 5 positions, and positions 1 and 3 hold equal content x😀y/…
    // — matching Spark substring/length semantics, not charAt units
    val df = Seq("x😀y😀x😀y").toDF("t")
    val h = df.select(graft.functions.TextExprs.charWindowHashes(col("t"), 3).as("h"))
      .selectExpr("size(h) AS n", "h").collect()(0)
    assert(h.getInt(0) == 5, s"expected 5 codepoint windows, got ${h.getInt(0)}")
    val arr = h.getSeq[Long](1)
    // content at codepoint offsets: [x😀y, 😀y😀, y😀x, 😀x😀, x😀y]
    assert(arr(0) == arr(4), "equal codepoint windows must hash equal")
    assert(arr(1) != arr(3), "😀y😀 vs 😀x😀 must differ")
    assert(Set(arr(0), arr(1), arr(2), arr(3)).size == 4)
  }

  // ----------------------------------------- round-6 pipeline ops

  test("substringSpans: planted self-repetition and cross-doc shared block") {
    val S = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWX" // 50 ch, aperiodic
    assert(S.length == 50)
    val docs = Seq(
      (1L, "A" * 60 + "-unique-doc-one-suffix"),       // self-rep: w@1..21 equal
      (2L, "##doc2####" + S),                          // S at offset 10
      (3L, "%%%%%doc3-pad-twenty-five" + S),           // S at offset 25
      (4L, "completely unique text that is longer than forty chars.")
    ).toDF("doc_id", "text")
    val r = graft.dedup.Dedup.substringSpans(docs, "doc_id", "text", w = 40)
      .orderBy("doc_id", "span_start")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq((1L, 1L, 60L, 21L), (2L, 11L, 60L, 11L),
      (3L, 26L, 75L, 11L)))
  }

  test("substringSpans stride: winnowed census detects MISALIGNED copies " +
       "of >= w+stride-1 chars; exchange shrinks ~2/(stride+1)") {
    // stride-8 sampling with w=20 guarantees detection at length >= 27.
    // The planted 30-char block sits at offset 0 in doc 1 and offset 13
    // in doc 2 — 13 ≢ 0 (mod 8), exactly the case a positional
    // every-8th-window stride would miss; winnowing selection is
    // content-defined so both copies select the same interior windows.
    val S2 = "0123456789abcdefghijABCDEFGHIJ" // 30 distinct chars, aperiodic
    val docs = Seq(
      (1L, S2 + "_alpha-unique-tail-x"),
      (2L, "padpadpadpad!" + S2 + "-beta-unique-tail"),
      (3L, "this text shares nothing with the others at all!")
    ).toDF("doc_id", "text")
    val strided = graft.dedup.Dedup
      .substringSpans(docs, "doc_id", "text", w = 20, stride = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(strided.keySet == Set(1L, 2L), s"got $strided")
    // spans are conservative subsets of the true duplicated regions
    val (s1, e1) = strided(1L); val (s2b, e2b) = strided(2L)
    assert(s1 >= 1 && e1 <= 30, s"doc1 span ($s1,$e1) outside [1,30]")
    assert(s2b >= 14 && e2b <= 43, s"doc2 span ($s2b,$e2b) outside [14,43]")
    // ...and within stride−1 of the exact census' spans
    val exact = graft.dedup.Dedup
      .substringSpans(docs, "doc_id", "text", w = 20, stride = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(exact == Map(1L -> ((1L, 30L)), 2L -> ((14L, 43L))), s"$exact")
    for (id <- Seq(1L, 2L)) {
      assert(strided(id)._1 - exact(id)._1 <= 7 &&
        exact(id)._2 - strided(id)._2 <= 7, s"doc $id drift > stride-1")
    }
    // docs shorter than one neighborhood still census their minimum:
    // two identical 22-char docs (nw = 3 < stride = 8) must pair up
    val short = Seq((10L, "exactly-22-characters!"),
      (11L, "exactly-22-characters!")).toDF("doc_id", "text")
    val sShort = graft.dedup.Dedup
      .substringSpans(short, "doc_id", "text", w = 20, stride = 8)
      .collect()
    assert(sShort.map(_.getLong(0)).toSet == Set(10L, 11L))
    // exchange reduction: selected fraction ≈ 2/(stride+1) on
    // non-repetitive text (deterministic seeded corpus)
    val rnd = new scala.util.Random(11)
    val alphabet = ('a' to 'z') ++ ('0' to '9')
    val big = (1 to 2000).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString
    val dfBig = Seq(big).toDF("t")
    val nSel = dfBig.select(size(graft.functions.TextExprs
      .winnowedWindowHashes(col("t"), 20, 8)).as("n")).head().getInt(0)
    val nAll = big.length - 20 + 1
    val frac = nSel.toDouble / nAll
    info(f"winnow census density at stride 8: $frac%.3f of $nAll windows " +
      f"(theory 2/9 = ${2.0 / 9}%.3f)")
    assert(frac > 0.12 && frac < 0.35, s"density $frac far from 2/9")
  }

  test("removeSpans: cuts spans, keeps segments in order, passes clean docs") {
    val S = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWX" // 50 ch
    val docs = Seq(
      (1L, "A" * 60 + "-unique-doc-one-suffix"),  // span [1,60] → prefix cut
      (2L, "##doc2####" + S),                     // span [11,60] → tail cut
      (3L, "%%%%%doc3-pad-twenty-five" + S),      // span [26,75]
      (4L, "completely unique text that is longer than forty chars.")
    ).toDF("doc_id", "text")
    val spans = graft.dedup.Dedup.substringSpans(docs, "doc_id", "text", w = 40)
    val got = graft.dedup.Dedup.removeSpans(docs, spans, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(got(0) == "-unique-doc-one-suffix")
    assert(got(1) == "##doc2####")
    assert(got(2) == "%%%%%doc3-pad-twenty-five")
    assert(got(3) == "completely unique text that is longer than forty chars.")
    // multi-span surgery: two islands in one doc cut independently
    val two = Seq(
      (10L, "B" * 50 + "-middle-keeps-this-bit-" + "C" * 50),
      (11L, "B" * 50), (12L, "C" * 50)).toDF("doc_id", "text")
    val sp2 = graft.dedup.Dedup.substringSpans(two, "doc_id", "text", w = 40)
    val g2 = graft.dedup.Dedup.removeSpans(two, sp2, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(g2(0) == "-middle-keeps-this-bit-")
    assert(g2(1) == "" && g2(2) == "") // fully-duplicated docs empty out
  }

  test("stratifiedSample: exact ceil(rate*n) per stratum, deterministic") {
    val df = ((1 to 10).map(i => (i.toLong, "en")) ++
      (11 to 14).map(i => (i.toLong, "de")) ++
      (15 to 17).map(i => (i.toLong, "xx"))).toDF("id", "lang")
    val rates = Map("en" -> 0.5, "de" -> 0.3) // en: 5 of 10, de: ceil(1.2)=2
    def run() = graft.functions.Mixture
      .stratifiedSample(df, "id", "lang", rates, salt = "s")
      .collect().map(r => (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("lang")))).toSet
    val a = run()
    assert(a.count(_._2 == "en") == 5 && a.count(_._2 == "de") == 2)
    assert(!a.exists(_._2 == "xx")) // unconfigured strata drop
    assert(a == run())              // pure function of (salt, id)
  }

  test("unigramLmScore: exact mean log-prob on planted counts") {
    import graft.functions.TextFns
    // corpus: "a a a b" + "b c" -> counts a=3, b=2, c=1, total=6
    val docs = Seq((1L, "a a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextFns.unigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def lpMicro(c: Long) = math.round(1e6 * math.log(c / 6.0))
    val d1 = (3 * lpMicro(3) + lpMicro(2)).toDouble / (1e6 * 4)
    val d2 = (lpMicro(2) + lpMicro(1)).toDouble / (1e6 * 2)
    assert(got(1L)._1 == 4L && got(1L)._2 == d1)
    assert(got(2L)._1 == 2L && got(2L)._2 == d2)
    // frequent-token doc scores higher than rare-token doc
    assert(got(1L)._2 > got(2L)._2)
  }

  test("tokens: empty/whitespace text yields one empty token (n >= 1 invariant)") {
    // chunkTokens/packSequences integer arithmetic relies on every doc
    // having >= 1 token; DuckDB's string_split_regex agrees on ['']
    val r = Seq("", "   ", "a b").toDF("t")
      .select(size(TextFns.tokens(col("t")))).as[Int].collect().toSeq
    assert(r == Seq(1, 1, 2))
  }

  test("ngramOverlapBloom: identical to the exact broadcast path") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely clean text with no overlap at all"),
      (3L, "short doc"), // zero shingles — must survive with 0/0
      (4L, "the quick brown fox sat still")).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    def sortRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().toSeq
    val exact = sortRows(Decontaminate.ngramOverlap(
      docs, bench, "doc_id", "text", n = 3))
    val bloom = sortRows(Decontaminate.ngramOverlapBloom(
      docs, bench, "doc_id", "text", n = 3))
    assert(bloom == exact)
    // sanity: the planted overlap is actually nonzero
    assert(exact.head.getAs[Long]("n_contaminated") > 0)
    assert(exact(2).getAs[Long]("n_shingles") == 0L &&
      exact(2).getAs[Double]("contamination") == 0.0)
  }

  test("corpusProfile: exact counts on planted groups; approx within rsd bound") {
    val docs = Seq(
      (1L, "en", "a b b c"), (2L, "en", "b c d"),
      (3L, "de", "x y")).toDF("doc_id", "lang", "text")
    val exact = TextFns.corpusProfile(docs, Seq("lang"), "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // en: 2 docs, 7+5 chars, 4+3 tokens, vocab {a,b,c,d}=4
    assert(exact("en") == ((2L, 12L, 7L, 4L)))
    assert(exact("de") == ((1L, 3L, 2L, 2L)))
    // HLL++ scale path: tiny cardinalities are exact at any rsd
    val approx = TextFns.corpusProfile(docs, Seq("lang"), "text",
        approx = true, rsd = 0.02)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(math.abs(approx("en") - 4L) <= 1)
    assert(math.abs(approx("de") - 2L) <= 1)
  }

  test("temperatureRates: exact alpha=0.5 rates, cap at 1, budget hit") {
    import graft.functions.Mixture
    val prof = Seq(("en", 900L), ("de", 100L)).toDF("lang", "total_tokens")
    val r = Mixture.temperatureRates(prof, Seq("lang"), "total_tokens",
        alpha = 0.5, targetFraction = 0.4)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    // zq: en=30e6, de=10e6; Z=40e6, tot=1000
    // en: 0.4*(1000*30e6)/(40e6*900) = 0.333333…; de: 0.4*2.5 = 1.0 (cap)
    assert(r("de") == 1.0)
    assert(r("en") == BigDecimal(0.4 * ((1000.0 * 30e6) / (40e6 * 900.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // expected kept token mass = full budget (low-resource stratum capped)
    assert(math.abs(r("en") * 900 + r("de") * 100 - 400.0) < 1e-3)
  }

  test("dsirWeights: empty target subset stays finite (pure smoothing)") {
    val docs = Seq((1L, "a a b", "de"), (2L, "b c", "de"))
      .toDF("doc_id", "text", "lang")
    val got = TextFns.dsirWeights(docs, "doc_id", "text",
        col("lang") === "en") // no doc matches
      .collect().map(r => r.getDouble(2))
    assert(got.length == 2 && got.forall(w => !w.isNaN && !w.isInfinite))
    // with tgtTot=0 every target prob is 1/V — weights are defined and
    // differ only through the raw side (docs here have distinct
    // raw-frequency profiles, so the weights must differ)
    assert(got.toSet.size == 2)
  }

  test("temperatureRates: single stratum gets min(1, targetFraction)") {
    import graft.functions.Mixture
    val one = Seq(("en", 1234L)).toDF("lang", "total_tokens")
    def rate(frac: Double) = Mixture.temperatureRates(
      one, Seq("lang"), "total_tokens", alpha = 0.5, targetFraction = frac)
      .collect()(0).getDouble(1)
    assert(rate(0.4) == 0.4) // zq=Z, c=Σc → rate = frac exactly
    assert(rate(1.5) == 1.0) // cap
  }

  test("temperatureRates: malformed profiles fail loudly, never sample wrong") {
    import graft.functions.Mixture
    // zero-count stratum: 0/0 = NaN would silently get rate 1.0 under
    // least(1.0, NaN) — must raise instead (advisor r10)
    val zero = Seq(("en", 900L), ("de", 0L)).toDF("lang", "total_tokens")
    val e1 = intercept[Exception](Mixture.temperatureRates(
      zero, Seq("lang"), "total_tokens", 0.5, 0.4).collect())
    assert(e1.getMessage.contains("non-positive count"))
    // micro-unit Long overflow at alpha -> 1 on a >9.2e12-token
    // stratum: would corrupt Z silently — must raise (advisor r10)
    val huge = Seq(("en", 4_000_000_000_000_000_000L))
      .toDF("lang", "total_tokens")
    val e2 = intercept[Exception](Mixture.temperatureRates(
      huge, Seq("lang"), "total_tokens", 1.0, 0.4).collect())
    assert(e2.getMessage.contains("overflows micro-units"))
    // well inside range at alpha=0.5: sqrt(9e12)*1e6 ~ 3e12 — fine,
    // and the decimal Z keeps multi-stratum sums exact
    val big = Seq(("en", 9_000_000_000_000L), ("de", 1_000_000_000_000L))
      .toDF("lang", "total_tokens")
    val r = Mixture.temperatureRates(big, Seq("lang"), "total_tokens",
      0.5, 0.4).collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r.values.forall(v => v > 0 && v <= 1.0))
  }

  test("dedupParagraphs: keep-first by (doc, position) across and within docs") {
    val paras = Seq(
      (1L, 0L, "shared boilerplate"), (1L, 1L, "unique a"),
      (2L, 0L, "shared boilerplate"), (2L, 1L, "unique b"),
      (3L, 0L, "self repeat"), (3L, 1L, "self repeat"),
      (3L, 2L, "shared boilerplate")
    ).toDF("doc_id", "ord", "t")
    val got = TextFns.dedupParagraphs(paras, "doc_id", "ord", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getBoolean(2), r.getLong(3))).toMap
    assert(got == Map(
      (1L, 0L) -> (true, 3L),  // first of 3 boilerplate copies
      (1L, 1L) -> (true, 1L),
      (2L, 0L) -> (false, 3L),
      (2L, 1L) -> (true, 1L),
      (3L, 0L) -> (true, 2L),  // within-doc repeat: first position wins
      (3L, 1L) -> (false, 2L),
      (3L, 2L) -> (false, 3L)))
  }

  test("packSequences: negative ids fail loudly (pmod-shard contract)") {
    val docs = Seq((-1L, "a b c"), (2L, "d e")).toDF("doc_id", "text")
    val e = intercept[Exception](
      TextFns.packSequences(docs, "doc_id", "text", shards = 4,
        budget = 8).collect())
    assert(e.getMessage.contains("non-negative"))
  }

  test("dsirWeights: exact smoothed log-ratio on planted counts") {
    // corpus: doc1 (target) "a a b", doc2 "b c"
    // counts: a raw=2/tgt=2, b raw=2/tgt=1, c raw=1/tgt=0
    // rawTot=5, tgtTot=3, V=3
    val docs = Seq((1L, "a a b", "en"), (2L, "b c", "de"))
      .toDF("doc_id", "text", "lang")
    val got = TextFns.dsirWeights(docs, "doc_id", "text",
        col("lang") === "en")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def lp(c: Long, tot: Long) = math.round(1e6 * math.log((c + 1.0) / (tot + 3.0)))
    val (lrA, lrB, lrC) =
      (lp(2, 3) - lp(2, 5), lp(1, 3) - lp(2, 5), lp(0, 3) - lp(1, 5))
    assert(got(1L) == ((3L, (2 * lrA + lrB).toDouble / 3e6)))
    assert(got(2L) == ((2L, (lrB + lrC).toDouble / 2e6)))
    // the target-language doc outranks the off-target doc
    assert(got(1L)._2 > got(2L)._2)
  }

  test("chunkTokens: sliding windows cover every token, overlap kept") {
    val text = (1 to 100).map(i => s"w$i").mkString(" ")
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val rows = TextFns.chunkTokens(docs, "doc_id", "text", chunk = 10, stride = 8)
      .orderBy("chunk_id").collect()
    // starts 0,8,...,96 -> 13 chunks; last holds tokens 97..100
    assert(rows.length == 13)
    assert(rows.head.getAs[String]("chunk_text") ==
      (1 to 10).map(i => s"w$i").mkString(" "))
    assert(rows(1).getAs[String]("chunk_text").startsWith("w9 w10 w11"))
    assert(rows.last.getAs[Long]("n_chunk_tokens") == 4L)
    assert(rows.last.getAs[String]("chunk_text") == "w97 w98 w99 w100")
    assert(rows.map(_.getAs[Long]("n_chunk_tokens")).sum == 12 * 10 + 4)
  }

  test("packSequences: shard-local offsets and spanned sequence ids") {
    val docs = Seq(
      (0L, ("x " * 3).trim), (1L, ("x " * 6).trim),
      (2L, ("x " * 4).trim), (3L, ("x " * 2).trim)).toDF("doc_id", "text")
    val got = TextFns.packSequences(docs, "doc_id", "text",
        shards = 2, budget = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // shard 0: doc0 (3 tok) then doc2 (4 tok); shard 1: doc1 (6) then doc3 (2)
    assert(got(0L) == ((0L, 3L, 0L, 0L, 0L)))
    assert(got(2L) == ((0L, 4L, 3L, 0L, 1L))) // spans seq boundary at 5
    assert(got(1L) == ((1L, 6L, 0L, 0L, 1L)))
    assert(got(3L) == ((1L, 2L, 6L, 1L, 1L)))
  }

  test("bigramLmScore: exact conditional log-probs on planted counts") {
    import graft.functions.TextFns
    // corpus: "a b a b" + "a b" -> bigrams: (a,b)x3, (b,a)x1
    // unigrams: a=3, b=3; V=2
    val docs = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextFns.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def lp(c2: Long, c1: Long) = math.round(1e6 * math.log((c2 + 1.0) / (c1 + 2.0)))
    val (lpAB, lpBA) = (lp(3, 3), lp(1, 3))
    assert(got(1L) == ((3L, (2 * lpAB + lpBA).toDouble / 3e6)))
    assert(got(2L) == ((1L, lpAB.toDouble / 1e6)))
    // the common bigram scores higher than the rare one
    assert(lpAB > lpBA)
  }

  test("bigramLmScore: word salad of common tokens scores below real text") {
    import graft.functions.TextFns
    // same unigram bag, different order: t14 cannot separate these,
    // the bigram model must
    val real = "the cat sat on the mat " * 4
    val salad = "the on cat mat sat the " * 4
    val docs = Seq((1L, real.trim), (2L, salad.trim),
      (3L, "the cat sat on the mat")).toDF("doc_id", "text")
    val got = TextFns.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) > got(2L))
  }

  test("boilerplate: script blocks, nav bars, link farms and chrome die; " +
       "article lines survive with entities decoded") {
    import graft.functions.BoilerplateKernel
    val html =
      "<script>var x = 1;\nalert(1)</script>Real article content line " +
        "that is long enough to keep for sure.\n" +
        "<div><a href=\"x\">Home</a> | <a href=\"y\">About</a> | " +
        "<a href=\"z\">Contact</a></div>\n" +
        "Another real paragraph &amp; enough characters to pass the gate.\n" +
        "Short line\n" +
        "<style>.a{color:red}</style>\n" +
        "Links <a href=\"q\">with much anchor text dominating this " +
        "line entirely okay</a>"
    val (clean, kept, droppedN) = BoilerplateKernel.clean(html)
    assert(kept == 2 && droppedN == 4, s"kept=$kept dropped=$droppedN")
    assert(clean ==
      "Real article content line that is long enough to keep for sure.\n" +
        "Another real paragraph & enough characters to pass the gate.")
    // nav line dies on link density DESPITE passing the length gate:
    // body 'Home | About | Contact' is 22 chars, link chars 16 -> 32 >= 22
    // entity torture: &amp;lt; must yield the LITERAL '&lt;', and the
    // entity-decoded body length drives the integer gate
    val (c2, k2, _) = BoilerplateKernel.clean(
      "x &amp;lt; y and some more article text here")
    assert(k2 == 1 && c2 == "x &lt; y and some more article text here")
    // tag-free short docs are untouched single kept lines
    assert(BoilerplateKernel.clean("plain prose with no markup at all")
      == ("plain prose with no markup at all", 1, 0))
    // CRLF input splits into the same lines as its LF twin
    assert(BoilerplateKernel.clean(html.replace("\n", "\r\n"))
      == ((clean, kept, droppedN)))
    // gates count CODEPOINTS like the SQL oracle: ten astral emoji are
    // 20 UTF-16 units but 10 chars — the length gate must drop them
    assert(BoilerplateKernel.clean("🎉" * 10) == (("", 0, 1)))
    // ...and 20 of them pass
    assert(BoilerplateKernel.clean("🎉" * 20)._2 == 1)
    // expression form matches the kernel and survives codegen
    import spark.implicits._
    val got = Seq((1L, html)).toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.Boilerplate.clean(col("text")).as("b"))
      .select(col("b.clean"), col("b.n_kept"), col("b.n_dropped"))
      .head()
    assert(got.getString(0) == clean && got.getInt(1) == 2 && got.getInt(2) == 4)
  }

  test("c4Clean: planted chrome dies on the line rules; page gates " +
       "fire on kept-count, lorem ipsum, and curly braces") {
    import spark.implicits._
    val page =
      "This is a real first sentence that ends properly.\n" +
        "Home | About | Contact\n" +           // no terminal punctuation
        "Enable javascript to continue, please.\n" + // javascript line
        "Buy now!\n" +                          // < 3 words
        "Here is another perfectly ordinary sentence.\n" +
        "  A third good sentence, with leading spaces trimmed.  \n" +
        "A fourth sentence keeps the page alive today.\n" +
        "And a fifth sentence pushes it over the gate!"
    def run(t: String) = Seq((1L, t)).toDF("doc_id", "text")
      .select(graft.functions.TextFns.c4Clean(col("text")).as("c"))
      .select(col("c.clean"), col("c.n_kept"), col("c.n_dropped"),
        col("c.page_kept")).head()
    val r = run(page)
    assert(r.getLong(1) == 5 && r.getLong(2) == 3 && r.getLong(3) == 1,
      s"got $r")
    assert(r.getString(0).startsWith("This is a real first") &&
      r.getString(0).contains("A third good sentence") &&
      !r.getString(0).contains("javascript") &&
      !r.getString(0).contains("Home |"))
    // kept lines are the TRIMMED bodies
    assert(r.getString(0).split("\n")(2) ==
      "A third good sentence, with leading spaces trimmed.")
    // page gates: 4 kept lines -> dropped page (line report unchanged)
    val few = run(page.split("\n").drop(1).mkString("\n"))
    assert(few.getLong(1) == 4 && few.getLong(3) == 0)
    // lorem ipsum anywhere (case-insensitive) kills the page
    assert(run(page + "\nAnd Lorem Ipsum filler text ends here.")
      .getLong(3) == 0)
    // a curly brace anywhere kills the page even on a dropped line
    assert(run(page + "\nfunction f() { return 1; }").getLong(3) == 0)
    // CRLF pages normalize: same verdicts as their LF twin
    val crlf = run(page.replace("\n", "\r\n"))
    assert(crlf.getLong(1) == 5 && crlf.getLong(3) == 1 &&
      crlf.getString(0) == r.getString(0))
  }

  test("epochShuffle: reproducible permutation per seed, fresh order " +
       "per epoch, growth never reorders surviving pairs") {
    import spark.implicits._
    import graft.functions.Mixture
    val docs = (1L to 60L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    def runSeed(d: org.apache.spark.sql.DataFrame, seed: String) =
      Mixture.epochShuffle(d, "doc_id", seed, shards = 4)
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3))))
        .toMap
    val e1 = runSeed(docs, "ep1")
    // determinism: a re-run is identical
    assert(runSeed(docs, "ep1") == e1)
    // within each shard, positions are exactly 1..count
    e1.values.groupBy(_._1).foreach { case (_, v) =>
      assert(v.map(_._2).toSeq.sorted == (1L to v.size).toSeq)
    }
    // a different seed is a genuinely different permutation
    val e2 = runSeed(docs, "ep2")
    assert(e1 != e2)
    // growth stability: adding docs never reorders surviving pairs
    // within a shard (ranks shift, hash order is fixed)
    val grown = runSeed(
      (1L to 90L).map(i => (i, s"doc $i")).toDF("doc_id", "text"), "ep1")
    for {
      a <- 1L to 60L; b <- (a + 1) to 60L
      if e1(a)._1 == e1(b)._1 && grown(a)._1 == grown(b)._1
    } assert((e1(a)._2 < e1(b)._2) == (grown(a)._2 < grown(b)._2))
    // original docs keep their shard under growth (hash-keyed)
    assert((1L to 60L).forall(i => e1(i)._1 == grown(i)._1))
  }

  test("stupidBackoffScore: all four branches exact on planted counts") {
    import spark.implicits._
    import graft.functions.TextFns
    // train "a b c a b c": tri (a,b,c)=2,(b,c,a)=1,(c,a,b)=1;
    // big (a,b)=2,(b,c)=2,(c,a)=1; uni a=2,b=2,c=2, N=6
    val docs = Seq(
      (0L, "a b c a b c", "train"),
      (1L, "a b c", "eval"),   // trigram hit: 2/2 = 1
      (2L, "x b c", "eval"),   // bigram backoff: 2*2/(5*2) = 0.4
      (3L, "x y c", "eval"),   // unigram backoff: 4*2/(25*6)
      (4L, "x y z", "eval")    // OOV floor: 4/(25*7)
    ).toDF("doc_id", "text", "src")
    val got = TextFns.stupidBackoffScore(docs, "doc_id", "text",
        col("src") === "train")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    def sc(p: Double) = math.round(1e6 * math.log(p)) / 1e6
    assert(got(1L) == ((1L, 0.0)))
    assert(got(2L) == ((1L, sc(2.0 * 2 / (5 * 2)))))
    assert(got(3L) == ((1L, sc(4.0 * 2 / (25 * 6)))))
    assert(got(4L) == ((1L, sc(4.0 / (25 * 7)))))
    // deeper backoff always scores worse
    assert(got(1L)._2 > got(2L)._2 && got(2L)._2 > got(3L)._2 &&
      got(3L)._2 > got(4L)._2)
    // the train doc scores itself: 4 trigrams all hits
    assert(got(0L)._1 == 4L)
    // an empty train side fails loudly, not with silent nulls
    val e = intercept[Exception](
      TextFns.stupidBackoffScore(docs, "doc_id", "text",
        col("src") === "nope").collect())
    assert(e.getMessage.contains("trainFilter selects no documents") ||
      Option(e.getCause).exists(
        _.getMessage.contains("trainFilter selects no documents")))
  }

  test("stupidBackoff5Score: all SIX branches exact on planted counts; " +
       "frozen artifact scores identically") {
    import spark.implicits._
    import graft.functions.TextFns
    // train "a b c d e a b c d e": 5-grams abcde=2 (rest 1); 4-grams
    // abcd=2, bcde=2; tri cde=2, big de=2; uni d=e=2, N=10
    val docs = Seq(
      (0L, "a b c d e a b c d e", "train"),
      (1L, "a b c d e", "eval"), // 5-gram hit: 2/2 = 1
      (2L, "x b c d e", "eval"), // 4-gram backoff: 2*2/(5*2) = 0.4
      (3L, "x y c d e", "eval"), // trigram backoff: 4*2/(25*2) = 0.16
      (4L, "x y z d e", "eval"), // bigram backoff: 8*2/(125*2) = 0.064
      (5L, "x y z w e", "eval"), // unigram backoff: 16*2/(625*10)
      (6L, "x y z w v", "eval")  // OOV floor: 16/(625*11)
    ).toDF("doc_id", "text", "src")
    val got = TextFns.stupidBackoff5Score(docs, "doc_id", "text",
        col("src") === "train")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    def sc(p: Double) = math.round(1e6 * math.log(p)) / 1e6
    assert(got(1L) == ((1L, 0.0)))
    assert(got(2L) == ((1L, sc(2.0 * 2 / (5 * 2)))))
    assert(got(3L) == ((1L, sc(4.0 * 2 / (25 * 2)))))
    assert(got(4L) == ((1L, sc(8.0 * 2 / (125 * 2)))))
    assert(got(5L) == ((1L, sc(16.0 * 2 / (625 * 10)))))
    assert(got(6L) == ((1L, sc(16.0 / (625 * 11)))))
    // deeper backoff always scores strictly worse
    (1L to 5L).foreach(i => assert(got(i)._2 > got(i + 1)._2))
    // the train doc scores itself: 6 5-grams, all seen
    assert(got(0L)._1 == 6L)
    // frozen-artifact path is bit-identical (the sbScoreWith contract
    // at order 5 — same shared kernel)
    val frozen = TextFns.sbScoreWith(docs, "doc_id", "text",
        TextFns.sbCounts(docs, "text", col("src") === "train", 5))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(frozen == got)
    // empty train side fails loudly
    val e = intercept[Exception](
      TextFns.stupidBackoff5Score(docs, "doc_id", "text",
        col("src") === "nope").collect())
    assert(e.getMessage.contains("trainFilter selects no documents") ||
      Option(e.getCause).exists(
        _.getMessage.contains("trainFilter selects no documents")))
    graft.Materialize.releaseAll()
  }

  test("perplexityBuckets: planted terciles land head/middle/tail; " +
       "unscoreable docs tail; languages bucket independently") {
    import spark.implicits._
    import graft.functions.TextFns
    // en: 3 copies each of three texts with clearly separated KN
    // scores (repeated-bigram > mixed > all-distinct), so the three
    // kmicro values are distinct and ties share a bucket
    // KN mean log-prob by construction: X's contexts are fully
    // deterministic (c2/c1 = 1, mean ≈ −0.11), Y's split 2-ways
    // (≈ −0.61), Z's context fans 3-ways (≈ −0.95) — order X > Y > Z
    // with ~0.3 nat gaps, immune to the small continuation terms
    val en = (1L to 3L).map(i => (i, "a b a b a b", "en")) ++
      (4L to 6L).map(i => (i, "c d c e c d", "en")) ++
      (7L to 9L).map(i => (i, "f u f v f w", "en"))
    val de = Seq((21L, "x y x y x y", "de"), (22L, "p q r s t u", "de"))
    val solo = Seq((10L, "solo", "en"))
    val docs = (en ++ de ++ solo).toDF("doc_id", "text", "lang")
    val got = TextFns.perplexityBuckets(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(3)).map(_ => r.getLong(3)),
          r.getString(4))).toMap
    assert((1L to 3L).forall(got(_)._3 == "head"))
    assert((4L to 6L).forall(got(_)._3 == "middle"))
    assert((7L to 9L).forall(got(_)._3 == "tail"))
    // the kmicro ordering backs the bucket assignment
    assert(got(1L)._2.get > got(4L)._2.get &&
      got(4L)._2.get > got(7L)._2.get)
    // a single-token doc has no bigram: NULL score, conservative tail
    assert(got(10L) == (("en", None, "tail")))
    // language independence: de's buckets equal a solo run on de
    val deSolo = TextFns.perplexityBuckets(
        docs.filter(col("lang") === "de"), "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(Seq(21L, 22L).forall(i => got(i)._3 == deSolo(i)))
    // with 2 de docs, ceil(2/3)=1 puts the better one alone in head
    assert(got(21L)._3 == "head" && got(22L)._3 != "head")
  }

  test("knBigramLmScore: exact KN rational on planted counts") {
    import graft.functions.TextFns
    // corpus: "a b a b" + "a b" -> bigram types: (a,b) c2=3, (b,a)
    // c2=1; ctx: c1(a)=3 n1f(a)=1, c1(b)=1 n1f(b)=1; back: n1b(b)=1,
    // n1b(a)=1; NB=2
    val docs = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextFns.knBigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def lp(c2: Long, c1: Long, n1f: Long, n1b: Long, nb: Long) =
      math.round(1e6 * math.log(
        ((4 * c2 - 3) * nb + 3 * n1f * n1b).toDouble / (4 * c1 * nb)))
    val lpAB = lp(3, 3, 1, 1, 2)   // P(b|a) = (9·2+3)/(24) = 21/24
    val lpBA = lp(1, 1, 1, 1, 2)   // P(a|b) = (1·2+3)/(8)  = 5/8
    assert(got(1L) == ((3L, (2 * lpAB + lpBA).toDouble / 3e6)), s"got $got")
    assert(got(2L) == ((1L, lpAB.toDouble / 1e6)))
  }

  test("knBigramLmScore separates word salad more sharply than add-one t18") {
    import graft.functions.TextFns
    // rigid natural chains vs novel orderings of the same frequent
    // words: add-one flattens the gap by granting every seen bigram
    // (c2+1)/(c1+V); KN discounts count mass and backs off through
    // continuation counts, so one-off novel combinations of frequent
    // words fall much further below the rigid chains (Wenzek §3.3's
    // reason for shipping KN, pinned as a margin comparison in the
    // shared avg-ln-prob units of the two models)
    val real = "the cat sat on the mat " * 6
    val salad = "the on cat mat sat the " // each salad bigram once
    val docs = Seq((1L, real.trim), (2L, salad.trim)).toDF("doc_id", "text")
    val kn = TextFns.knBigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val addOne = TextFns.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(kn(1L) > kn(2L) && addOne(1L) > addOne(2L))
    val (knGap, aoGap) = (kn(1L) - kn(2L), addOne(1L) - addOne(2L))
    assert(knGap > aoGap,
      s"KN margin $knGap should exceed add-one margin $aoGap")
  }

  test("knFiveGramLmScore: exact nested level fold on planted counts; " +
       "short docs absent") {
    import graft.functions.TextFns
    // doc 1 "a b c d e a b c d e": g5 types abcde(2), bcdea, cdeab,
    // deabc, eabcd; by symmetry every derived count in the ladder is 1
    // for every type (hand-derived in full), nb = 5 bigram types.
    // doc 2 "a b" only bumps the OCCURRENCE count of bigram ab — every
    // KN quantity here is a TYPE count, so the ladder is untouched —
    // and, at 2 tokens, doc 2 has no 5-gram and must be absent.
    val docs = Seq((1L, "a b c d e a b c d e"), (2L, "a b"))
      .toDF("doc_id", "text")
    val got = TextFns.knFiveGramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def level(a: Long, lam: Long, ctx: Long, prev: Double): Double =
      ((4 * a - 3).toDouble + 3.0 * lam.toDouble * prev) / (4 * ctx).toDouble
    val p1 = 1.0 / 5.0                    // a1=1 / nb=5
    val p4 = level(1, 1, 1, level(1, 1, 1, level(1, 1, 1, p1)))
    val lpTop = math.round(1e6 * math.log(level(2, 1, 2, p4)))  // abcde
    val lpOne = math.round(1e6 * math.log(level(1, 1, 1, p4)))  // the rest
    // 6 scored 5-grams: abcde twice + the four singletons
    val want = (2 * lpTop + 4 * lpOne).toDouble / (6 * 1e6)
    assert(got(1L) == ((6L, want)), s"got $got want (6, $want)")
    assert(!got.contains(2L))
  }

  test("kn5 middle rollups: (ctx, λ) derived from the suffix census " +
       "equal count/countDistinct over the gram census (asymmetric)") {
    // the r19 optimization derives mid-level (ctxₖ, λₖ) by rolling up
    // the suffix census instead of a second count+countDistinct pass
    // over the gram census; this pins the identity on a fixture where
    // ctx ≠ λ per group (a swap or mis-key would produce equal values
    // on symmetric data and slip through the golden test above)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 5-gram TYPE table with repeated middles: (w1, w2..w4 middle, w5)
    val g5types = Seq(
      ("a", "x", "y", "z", "p"), ("b", "x", "y", "z", "p"),
      ("c", "x", "y", "z", "q"), ("a", "x", "y", "z", "q"),
      ("d", "x", "y", "z", "q"), ("a", "m", "n", "o", "r"),
      ("b", "m", "n", "o", "r"), ("a", "u", "v", "w", "s"))
      .toDF("w1", "w2", "w3", "w4", "w5")
    val direct = g5types.groupBy("w2", "w3", "w4")
      .agg(count(lit(1)).as("ctx"), countDistinct(col("w5")).as("lam"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))
        -> ((r.getLong(3), r.getLong(4)))).toMap
    val suf = g5types.groupBy("w2", "w3", "w4", "w5")
      .agg(count(lit(1)).as("a4"))
    val rolled = suf.groupBy("w2", "w3", "w4")
      .agg(sum("a4").as("ctx"), count(lit(1)).as("lam"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))
        -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(direct == rolled, s"direct $direct vs rolled $rolled")
    // and the fixture is genuinely asymmetric: ctx ≠ λ somewhere
    assert(direct.values.exists { case (c, l) => c != l })
  }

  test("gramCensusesKeyed: one grouping-sets pass equals the per-order " +
       "explode censuses, keyed and unkeyed, with an order gap") {
    // the r20 fusion computes every gram-order TYPE census from ONE
    // explode + ONE grouping-sets aggregation; this pins each order's
    // census — including the grouping-id arithmetic across an order
    // GAP (no order 4 requested) and per-key independence — against a
    // directly-computed per-order census on an asymmetric fixture
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.TextFns
    val docs = Seq(
      ("en", "a b c d e a b c d e"), ("en", "a b c"), ("en", "a"),
      ("de", "x y x y x"), ("de", "")).toDF("lang", "text")
    val base = docs.select(col("lang"), TextFns.tokens(col("text")).as("__w"))
    val fused = TextFns.gramCensusesKeyed(base, Seq(1, 2, 3, 5), Seq("lang"))
    for (k <- Seq(1, 2, 3, 5)) {
      // direct census: slide a k-window over each token array
      val direct = docs.collect().flatMap { r =>
        // mirror TextFns.tokens: split(trim, \s+) — an EMPTY doc yields
        // one "" token (which the order-1 census counts, old and fused)
        val toks = r.getString(1).trim.split("\\s+")
        toks.sliding(k).filter(_.length == k)
          .map(g => (r.getString(0) +: g).mkString(" "))
      }.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val got = fused(k).collect().map { r =>
        (0 to k).map(i => r.getString(i)).mkString(" ") -> r.getLong(k + 1)
      }.toMap
      assert(got == direct, s"order $k: got $got want $direct")
    }
    // unkeyed form agrees too (the t28/t28b/t25b entry)
    val fusedG = TextFns.gramCensusesKeyed(
      base.select("__w"), Seq(2), Nil)(2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(fusedG(("a", "b")) == 3L && fusedG(("x", "y")) == 2L &&
      fusedG(("y", "x")) == 2L && fusedG(("b", "c")) == 3L)
    graft.Materialize.releaseAll()
  }

  test("knFiveGramLmScore: word salad ranks strictly below natural text " +
       "at order 5") {
    import graft.functions.TextFns
    // rigid repeated chains: every 5-gram of doc 1 occurs 6 times and
    // its whole KN ladder is dense; the salad's 5-grams are one-off
    // novel orderings of the same frequent words, so the discounted
    // top level is thin and the backoff mass spreads over sparse
    // continuation ladders (Wenzek §3.3's reason for shipping order-5)
    val real = ("the cat sat on the mat " * 6).trim
    val salad = "mat the on cat sat the on mat cat sat"
    val docs = Seq((1L, real), (2L, salad)).toDF("doc_id", "text")
    val kn5 = TextFns.knFiveGramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(kn5(1L) > kn5(2L),
      s"natural ${kn5(1L)} must beat salad ${kn5(2L)} at order 5")
  }

  test("stupid backoff at order 4 (no query uses it): all FIVE branches " +
       "exact on planted counts; frozen artifact scores identically") {
    import spark.implicits._
    import graft.functions.TextFns
    // train "a b c d a b c d": 4-grams abcd=2 (rest 1); tri bcd=2,
    // big bc=cd=2; uni c=d=2, N=8
    val docs = Seq(
      (0L, "a b c d a b c d", "train"),
      (1L, "a b c d", "eval"), // 4-gram hit: 2/2 = 1
      (2L, "x b c d", "eval"), // trigram backoff: 2*2/(5*2) = 0.4
      (3L, "x y c d", "eval"), // bigram backoff: 4*2/(25*2) = 0.16
      (4L, "x y z d", "eval"), // unigram backoff: 8*2/(125*8)
      (5L, "x y z w", "eval")  // OOV floor: 8/(125*9)
    ).toDF("doc_id", "text", "src")
    val train = col("src") === "train"
    val scored = TextFns.sbScore(docs, "doc_id", "text", train, 4)
    assert(scored.columns.toSeq == Seq("doc_id", "n_4grams", "sb4_score"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val got = rows(scored)
    def sc(p: Double) = math.round(1e6 * math.log(p)) / 1e6
    assert(got(1L) == ((1L, 0.0)))
    assert(got(2L) == ((1L, sc(2.0 * 2 / (5 * 2)))))
    assert(got(3L) == ((1L, sc(4.0 * 2 / (25 * 2)))))
    assert(got(4L) == ((1L, sc(8.0 * 2 / (125 * 8)))))
    assert(got(5L) == ((1L, sc(8.0 / (125 * 9)))))
    // deeper backoff always scores strictly worse
    (1L to 4L).foreach(i => assert(got(i)._2 > got(i + 1)._2))
    // the train doc scores itself: 5 4-grams, all seen
    assert(got(0L)._1 == 5L)
    assert(rows(TextFns.sbScoreWith(docs, "doc_id", "text",
      TextFns.sbCounts(docs, "text", train, 4))) == got)
    intercept[IllegalArgumentException](TextFns.sbCounts(docs, "text", train, 1))
    graft.Materialize.releaseAll()
  }

  test("Kneser-Ney at orders 3 and 4 (no query uses them): keyed knSums " +
       "equals a plain-Scala level fold on an asymmetric fixture") {
    import spark.implicits._
    import graft.functions.TextFns
    val docs = Seq(
      (1L, "en", "a b c d a b c e"), (2L, "en", "b c d a b"),
      (3L, "en", "c d a b c d"), (4L, "en", "a b c e b c d e"),
      (5L, "en", "a b"), // too short at either order: absent
      (6L, "de", "x y z x y w x y z"), (7L, "de", "y z x y w"))
      .toDF("doc_id", "lang", "text")
    val corpus = docs.collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ").toSeq))
    // Spark's round(1e6 · ln p) on a double: HALF_UP over BigDecimal(x)
    def micro(p: Double): Long = BigDecimal(1e6 * StrictMath.log(p))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def level(a: Long, lam: Long, ctx: Long, prev: Double): Double =
      ((4 * a - 3).toDouble + 3.0 * lam.toDouble * prev) / (4 * ctx).toDouble
    for (n <- Seq(3, 4)) {
      val want = corpus.groupBy(_._2).values.flatMap { lang =>
        // per-language gram TYPE censuses, gram -> count
        val g = (2 to n).map(k => k -> lang.flatMap(_._3.sliding(k).filter(_.size == k))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap).toMap
        // continuation count: distinct (k+1)-gram types ending in s
        def a(s: Seq[String]): Long = g(s.size + 1).keys.count(_.tail == s)
        def p(w: Seq[String]): Double = {
          val lower = (2 until n).foldLeft(a(w.takeRight(1)).toDouble / g(2).size) {
            (prev, k) =>
              val s = w.takeRight(k)
              // the distinct k-grams completing s's middle
              val mid = g(k + 1).keys.map(_.tail).filter(_.init == s.init)
              level(a(s), mid.size, mid.toSeq.map(a).sum, prev)
          }
          val ctx = g(n).filter(_._1.init == w.init)
          level(g(n)(w), ctx.size, ctx.values.sum, lower)
        }
        lang.filter(_._3.size >= n).map { case (id, _, ws) =>
          val grams = ws.sliding(n).toSeq
          id -> ((grams.size.toLong, grams.map(x => micro(p(x))).sum))
        }
      }.toMap
      val got = TextFns.knSums(docs, "doc_id", "text", Seq("lang"), n)
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      assert(got == want, s"order $n: got $got want $want")
    }
    intercept[IllegalArgumentException](
      TextFns.knSums(docs, "doc_id", "text", Nil, 1))
    graft.Materialize.releaseAll()
  }

  test("bm25: zero for term-free docs, exact formula on planted counts") {
    val docs = Seq((1L, "data data join"), (2L, "other words here"),
      (3L, "data")).toDF("doc_id", "text")
    val r = TextFns.bm25(docs, "doc_id", "text", Seq("data", "join"))
      .orderBy("doc_id").collect().map(_.getDouble(1))
    // N=3, dl=(3,3,1), avgdl=7/3; df_data=2, df_join=1
    def score(tf: Double, df: Double, dl: Double): Double =
      math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5)) *
        ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / (7.0 / 3.0)))))
    assert(r(1) == 0.0)
    assert(math.abs(r(0) - BigDecimal(score(2, 2, 3) + score(1, 1, 3))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(math.abs(r(2) - BigDecimal(score(1, 2, 1))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(r(0) > r(2) && r(2) > 0.0)
  }

  test("hashedTfIdf + assembleVectors: dup docs embed identically, unit norm") {
    val docs = Seq(
      (1L, "alpha beta gamma delta alpha beta"),
      (2L, "alpha beta gamma delta alpha beta"), // exact dup of 1
      (3L, "totally different words entirely here now")
    ).toDF("doc_id", "text")
    val lf = TextFns.hashedTfIdf(docs, "doc_id", "text", dim = 16)
    val m = TextFns.assembleVectors(lf, "doc_id", 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    m.values.foreach(v => assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9))
    assert(math.abs(cos(m(1L), m(2L)) - 1.0) < 1e-9, "dup docs must coincide")
    assert(cos(m(1L), m(3L)) < 0.9, "disjoint-vocab docs must separate")
    assert(cos(m(1L), m(3L)) < cos(m(1L), m(2L)))
  }

  // ------------------------------------------------------------ PII

  test("piiCounts and redactPii on planted PII") {
    val df = Seq(
      "write to jane.doe+x@mail.example.org or 192.168.0.1 tel 555-0199",
      "no pii here at all",
      "two mails: a@b.io c.d@e.fr and ip 10.0.0.255",
      // NANP forms redact WHOLE, and out-of-range octets don't match
      "call 555-123-4567 or (555) 123-4567 or +1-555-123-4567 not 999.999.999.999"
    ).toDF("t")
    val counted = df.select(
      Seq(col("t")) ++ TextFns.piiCounts(col("t")).map { case (n, c) => c.as(n) }
        ++ Seq(TextFns.redactPii(col("t")).as("red")): _*).collect()
    assert(counted(0).getLong(1) == 1 && counted(0).getLong(2) == 1 &&
      counted(0).getLong(3) == 1)
    assert(counted(0).getString(4) ==
      "write to <EMAIL> or <IP> tel <PHONE>")
    assert(counted(1).getLong(1) == 0 && counted(1).getLong(2) == 0 &&
      counted(1).getLong(3) == 0)
    assert(counted(1).getString(4) == "no pii here at all")
    assert(counted(2).getLong(1) == 2 && counted(2).getLong(2) == 1)
    assert(counted(2).getString(4) == "two mails: <EMAIL> <EMAIL> and ip <IP>")
    assert(counted(3).getLong(2) == 0, "999.* must not count as an IP")
    assert(counted(3).getLong(3) == 3)
    assert(counted(3).getString(4) ==
      "call <PHONE> or <PHONE> or <PHONE> not 999.999.999.999")
  }

  test("redaction removes every detected match (self-consistency)") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
      .withColumn("t", concat(col("text"),
        lit(" u"), col("doc_id").cast("string"), lit("@x.org 10.1."),
        (col("doc_id") % 200).cast("string"), lit(".9 555-1234")))
    val counts = TextFns.piiCounts(TextFns.redactPii(col("t")))
    val residue = docs.select(counts.map { case (n, c) => c.as(n) }: _*)
      .agg(sum("n_emails"), sum("n_ips"), sum("n_phones")).head()
    assert(residue.getLong(0) == 0 && residue.getLong(1) == 0 &&
      residue.getLong(2) == 0)
  }

  // ------------------------------------------- cluster script gen (B9)

  test("sparkSubmit script carries sizing + engine conf") {
    val s = ClusterScripts.Submit(appJar = "/opt/app/graft.jar",
      mainClass = "graft.Bench", numExecutors = 400, executorCores = 8,
      executorMemoryGb = 32, appArgs = Seq("--sf", "100"))
    val sh = ClusterScripts.sparkSubmit(s)
    assert(sh.startsWith("#!/usr/bin/env bash"))
    assert(sh.contains("--num-executors 400"))
    assert(sh.contains("--executor-cores 8"))
    assert(sh.contains("--executor-memory 32g"))
    assert(sh.contains("--class graft.Bench"))
    // 2 x 400 x 8
    assert(sh.contains("spark.sql.shuffle.partitions=6400"))
    assert(sh.contains("spark.sql.adaptive.skewJoin.enabled=true"))
    assert(sh.contains("mapreduce.fileoutputcommitter.algorithm.version=1"))
    assert(sh.contains("/opt/app/graft.jar"))
    assert(sh.contains("'--sf' '100'"))
  }

  test("slurm wrapper embeds the same submit body, sized for the client") {
    val s = ClusterScripts.Submit(appJar = "app.jar", numExecutors = 10)
    val sl = ClusterScripts.slurm(s, jobName = "sweep", hours = 12)
    assert(sl.contains("#SBATCH --job-name=sweep"))
    // the reservation hosts only the submitting client; executors come
    // from the cluster manager — one task, not numExecutors nodes
    assert(sl.contains("#SBATCH --ntasks=1"))
    assert(sl.contains("#SBATCH --time=12:00:00"))
    assert(sl.contains("--num-executors 10"))
    assert(sl.contains("spark-submit \\"))
    // client-mode runs the driver inside the allocation: mem follows it
    val cl = ClusterScripts.slurm(s.copy(deployMode = "client",
      driverMemoryGb = 14), jobName = "c")
    assert(cl.contains("#SBATCH --mem=16G"))
  }

  test("sge and pbs wrappers embed the same submit body; all three " +
       "schedulers' artifacts pass bash -n") {
    val s = ClusterScripts.Submit(appJar = "/opt/my app/graft.jar",
      numExecutors = 10, appArgs = Seq("--note", "two words"))
    val sg = ClusterScripts.sge(s, jobName = "sweep", hours = 12)
    assert(sg.contains("#$ -N sweep"))
    assert(sg.contains("#$ -l h_rt=12:00:00"))
    assert(sg.contains("#$ -cwd") && sg.contains("#$ -V"))
    assert(sg.contains("--num-executors 10"))
    val pb = ClusterScripts.pbs(s, jobName = "sweep", hours = 12)
    assert(pb.contains("#PBS -N sweep"))
    assert(pb.contains("#PBS -l walltime=12:00:00"))
    assert(pb.contains("cd \"$PBS_O_WORKDIR\""))
    assert(pb.contains("--num-executors 10"))
    // client-mode sizes the reservation for the driver on all three
    val c = s.copy(deployMode = "client", driverMemoryGb = 14)
    assert(ClusterScripts.sge(c).contains("h_vmem=16G"))
    assert(ClusterScripts.pbs(c).contains("mem=16gb"))
    for (sh <- Seq(sg, pb, ClusterScripts.slurm(s),
        ClusterScripts.sparkSubmit(s))) {
      val p = java.nio.file.Files.createTempFile("graft-sched", ".sh")
      java.nio.file.Files.writeString(p, sh)
      val rc = new ProcessBuilder("bash", "-n", p.toString)
        .inheritIO().start().waitFor()
      assert(rc == 0, "generated script failed bash -n syntax check")
    }
  }

  test("conf values and app args with spaces/metachars are shell-quoted") {
    val s = ClusterScripts.Submit(appJar = "/opt/my app/graft.jar",
      appArgs = Seq("--note", "two words", "a'b"),
      extraConf = Seq(
        "spark.driver.extraJavaOptions" -> "-Da=1 -Db=2"))
    val sh = ClusterScripts.sparkSubmit(s)
    assert(sh.contains("--conf 'spark.driver.extraJavaOptions=-Da=1 -Db=2'"), sh)
    assert(sh.contains("'/opt/my app/graft.jar'"))
    assert(sh.contains("'two words'"))
    assert(sh.contains("'a'\\''b'"), sh) // embedded quote escape
    // every generated line must parse under bash -n when assembled
    val p = java.nio.file.Files.createTempFile("graft-subm", ".sh")
    java.nio.file.Files.writeString(p, sh)
    val rc = new ProcessBuilder("bash", "-n", p.toString)
      .inheritIO().start().waitFor()
    assert(rc == 0, "generated script failed bash -n syntax check")
  }

  test("datasheet: planted corpus yields exact per-language card rows") {
    // two English docs (one an exact normalized dup of the other, via
    // case difference), one German doc, one repetition bomb that is
    // English by marker and fails the dup-word gate
    val docs = Seq(
      (1L, "the cat sat of the mat and that is that"),
      (2L, "The CAT sat of the mat AND that is that"), // dup of 1 after lower+normalize
      (3L, "der hund ist nicht das problem und das ist gut"),
      (4L, "the spam spam spam spam spam spam spam spam spam")
    ).toDF("doc_id", "text")
    val card = TextFns.datasheet(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(card.keySet == Set("en", "de"))
    val en = card("en")
    assert(en.getLong(1) == 3L)            // n_docs
    assert(en.getLong(2) == 30L)           // total_tokens = 10 + 10 + 10
    assert(en.getLong(3) == 1L)            // exact dup: doc 2 collapses onto 1
    // doc 4: dup_word_frac = 8/10 > 0.3 → gate fails; docs 1/2 have
    // dup frac 2/10 and top-token frac 2/10 → both pass ⇒ 1 of 3
    assert(en.getDouble(6) == 0.333333, s"gopher_fail_frac ${en.getDouble(6)}")
    val de = card("de")
    assert(de.getLong(1) == 1L && de.getLong(3) == 0L)
    assert(de.getDouble(4) == 10.0)        // mean_tokens
  }

  test("justext context pass: shorts rescued between goods, through-neargood promotion, chrome dies") {
    import graft.functions.{Boilerplate, JustextConfig, JustextKernel}
    val cfg = JustextConfig(lengthLow = 20, lengthHigh = 60,
      stopLowPct = 30, stopHighPct = 32, maxLinkPct = 20,
      stopwords = Seq("the", "a", "of", "and", "is", "to", "in", "it"))
    val good =
      "the cat is in the hat and the dog is in the house of it all is a fine day in the garden now"
    val nav = "<a href=q>home</a> | <a href=q>about</a> | <a href=q>contact</a>"
    val ng = "the dog is of the park and it is ok" // 35 chars, density 70%
    val s1 = "a tiny quote here"                  // 17 chars: short
    val s3 = "short stray end"                    // short, bad context
    // blocks: [good, short, good, bad, neargood, short, good, bad, short]
    val page = Seq(good, s1, good, nav, ng, s1, good, nav, s3).mkString("\n")
    val (clean, nGood, nBad, nFlipped) = JustextKernel.clean(page, cfg)
    // context verdicts, hand-derived from the published rules:
    //  #2 short between two goods               -> good   (rescue)
    //  #5 neargood beside a good (pass 2)       -> good
    //  #6 short: prev good/bad = bad, but the prev reached skipping
    //     only shorts is NEARGOOD -> the promotion rule fires -> good
    //  #9 short between bad and the bad boundary -> bad
    assert((nGood, nBad, nFlipped) == ((6, 3, 3)),
      s"got ($nGood, $nBad, $nFlipped)")
    assert(clean == Seq(good, s1, good, ng, s1, good).mkString("\n"))
    // neargood between two bads dies (pass 2 both-bad rule)
    val sandwiched = Seq(nav, ng, nav).mkString("\n")
    val r2 = JustextKernel.clean(sandwiched, cfg)
    assert(r2._1 == "" && r2._2 == 0 && r2._3 == 3)
    // empty text: no blocks, empty clean, zero counts
    assert(JustextKernel.clean("", cfg) == (("", 0, 0, 0)))
    // the column form matches the kernel
    val viaCol = Seq((1L, page)).toDF("doc_id", "text")
      .select(Boilerplate.justext(col("text"), cfg).as("b"))
      .select("b.clean", "b.n_good", "b.n_bad", "b.n_flipped")
      .collect().head
    assert(viaCol.getString(0) == clean && viaCol.getInt(1) == 6 &&
      viaCol.getInt(2) == 3 && viaCol.getInt(3) == 3)
  }

  test("datasheet: an external langPred frame with a missing id is loud, not dropped") {
    val docs = Seq(
      (1L, "the cat sat of the mat and that is that"),
      (2L, "der hund ist nicht das problem und das ist gut")
    ).toDF("doc_id", "text")
    // full coverage: identical card whether the prediction comes from
    // the marker heuristic or the supplied frame carrying its values
    val full = Seq((1L, "en"), (2L, "de")).toDF("doc_id", "lang_pred")
    val card = TextFns.datasheet(docs, "doc_id", "text", langPred = Some(full))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(card == Map("en" -> 1L, "de" -> 1L))
    // a hole in the supplied frame names the id instead of silently
    // under-counting the language group
    val holey = Seq((1L, "en")).toDF("doc_id", "lang_pred")
    val e = intercept[Exception] {
      TextFns.datasheet(docs, "doc_id", "text", langPred = Some(holey)).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("no row for id 2"), msg)
  }

  test("write() produces an executable file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scripts")
    val p = ClusterScripts.write(s"$dir/sub/run.sh",
      ClusterScripts.sparkSubmit(ClusterScripts.Submit(appJar = "a.jar")))
    assert(java.nio.file.Files.isExecutable(p))
    assert(java.nio.file.Files.readString(p).contains("spark-submit"))
  }
}
