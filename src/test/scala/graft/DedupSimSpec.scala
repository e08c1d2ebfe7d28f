package graft

import graft.dedup.{Banding, Dedup}
import graft.functions.TextFns
import graft.similarity.Similarity
import org.apache.spark.sql.functions._

class TextFnsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount + shingles") {
    val df = Seq("a b c d").toDF("text")
    assert(df.select(TextFns.tokenCount(col("text"))).head().getInt(0) == 4)
    val sh = df.select(TextFns.shingles(col("text"), 3)).head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
  }

  test("langId discriminates planted multilingual texts") {
    val df = Seq(
      ("the cat is in the house and of course happy", "en"),
      ("el perro y la casa de los amigos es grande", "es"),
      ("der hund und die katze ist nicht ein problem", "de"),
      ("le chien et les amis des villes est une merveille", "fr"),
      ("xyzzy plugh quux", "und")).toDF("text", "want")
    val got = df.select(TextFns.langId(col("text")).as("got"), col("want"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"langId predicted ${r.getString(0)}, want ${r.getString(1)}"))
  }

  test("fingerprint is normalization-invariant") {
    val df = Seq(("A  b\tC", 1), ("a b c", 2)).toDF("text", "id")
    val fps = df.select(TextFns.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("winnow fingerprint: identical docs share all grams, edited docs share most") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val edited = base.replace("w30", "EDIT")
    val df = Seq((1L, base), (2L, base), (3L, edited)).toDF("id", "text")
    val fp = df.select(col("id"), TextFns.winnowFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fp(1L) == fp(2L))
    val overlap = fp(1L).intersect(fp(3L)).size.toDouble / fp(1L).size
    assert(overlap > 0.5 && overlap < 1.0)
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** 40 base docs + 3 near-dup pairs (1-word edits) + 1 exact dup. */
  private lazy val corpus = {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val base = (0 until 40).map { i =>
      (i.toLong, (0 until 50).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val nearDups = Seq(100L -> base(3)._2.replaceFirst("alpha", "EDITED"),
      101L -> base(7)._2.replaceFirst("beta", "EDITED"),
      102L -> base(11)._2.replaceFirst("gamma", "EDITED"))
    val exactDup = Seq(200L -> base(5)._2)
    (base ++ nearDups ++ exactDup).toDF("doc_id", "text")
  }

  test("exact dedup finds the planted exact duplicate") {
    val d = Dedup.exact(corpus, "doc_id", "text")
    val dups = d.filter(col("n_copies") > 1).collect()
    assert(dups.length == 1 && dups(0).getLong(1) == 5L && dups(0).getLong(2) == 2L)
    assert(Dedup.exactSurvivors(corpus, "doc_id", "text").count() == corpus.count() - 1)
  }

  test("exact jaccard finds planted near-dups; minhash LSH agrees") {
    corpus.createOrReplaceTempView("c")
    val exact = Dedup.jaccardPairs(corpus, "doc_id", "text",
      n = 3, threshold = 0.5, blockCols = Nil)
    val exactPairs = exact.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.contains((3L, 100L)) && exactPairs.contains((7L, 101L)) &&
      exactPairs.contains((11L, 102L)) && exactPairs.contains((5L, 200L)))

    val lsh = Dedup.minHashCandidates(corpus, "doc_id", "text",
      n = 3, bands = 16, rows = 4, threshold = 0.5)
    val lshPairs = lsh.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH must recover every exact pair at this similarity (≥0.9 true sim)
    assert(exactPairs.subsetOf(lshPairs),
      s"LSH missed ${exactPairs -- lshPairs}")
    // and jaccard values agree with the exact path on shared pairs
    val exactJ = exact.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    lsh.collect().foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      exactJ.get(k).foreach(j => assert(math.abs(j - r.getDouble(2)) < 1e-9))
    }
  }

  test("containmentPairs: an embedded doc is found at C≈1 where Jaccard misses it") {
    import spark.implicits._
    // small = 12 words; big = small verbatim inside ~4× padding.
    // Every small-doc shingle appears in big → C = 1.0; Jaccard ≈
    // |small| / |big| ≈ 0.25 — invisible at τ = 0.8.
    val small = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val pad1 = "one two three four five six seven eight nine ten eleven twelve"
    val pad2 = "red orange yellow green blue indigo violet black white gray pink teal"
    val docs = Seq(
      (1L, small),
      (2L, s"$pad1 $small $pad2"),
      (3L, "unrelated words entirely different content nothing shared here at all")
    ).toDF("doc_id", "text")
    val c = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.8, blockCols = Nil)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(c.keySet == Set((1L, 2L)), s"got $c")
    assert(c((1L, 2L)) >= 0.99)
    val j = Dedup.jaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.8, blockCols = Nil)
    assert(j.count() == 0, "Jaccard at 0.8 must NOT see the inclusion")
  }

  test("containment sketches: recall vs exact d12 on planted embedded docs, " +
       "no cross-group false positives") {
    // 30 groups with disjoint token spaces: big doc g = 120 tokens,
    // small doc g = a contiguous 40-token slice of it (true C = 1.0,
    // Jaccard ≈ 0.32 — invisible to d2/d3 at τ = 0.8)
    val docs = (0 until 30).flatMap { g =>
      val toks = (0 until 120).map(i => s"g${g}t$i")
      Seq((g.toLong, toks.mkString(" ")),
        (1000L + g, toks.slice(30, 70).mkString(" ")))
    }.toDF("doc_id", "text")
    val exact = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.8, blockCols = Nil)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 30 && exact.forall { case (a, b) => b == 1000L + a },
      s"exact baseline surprised: $exact")
    val sketch = Dedup.containmentSketchPairs(docs, "doc_id", "text",
      n = 3, k = 32, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // estimator-found pairs are always true inclusions here (disjoint
    // token spaces -> no cross-group candidates exist at all)
    assert(sketch.subsetOf(exact), s"false positives: ${sketch -- exact}")
    // measured recall on this deterministic fixture (E[est] ≈ 0.98,
    // threshold bites at i >= 8 of E[i] ≈ 10 sketch collisions)
    val recall = sketch.size.toDouble / exact.size
    assert(recall >= 0.8, s"sketch recall $recall < 0.8 (${sketch.size}/30)")
  }

  test("containmentSketchDelta: incremental equals from-scratch d13 " +
       "restricted to delta-touching pairs; store text never needed") {
    // same planted-inclusion fixture as the d13 test, split so
    // inclusions CROSS the store/delta boundary (big docs in the
    // store, embedded docs in the delta) and two delta-internal
    // near-identical docs pair with each other
    val store = (0 until 12).map { g =>
      (g.toLong, (0 until 120).map(i => s"g${g}t$i").mkString(" "))
    }.toDF("doc_id", "text")
    val delta = ((0 until 12).map { g =>
      (1000L + g, (30 until 70).map(i => s"g${g}t$i").mkString(" "))
    } ++ Seq(
      (2000L, (0 until 50).map(i => s"ddt$i").mkString(" ")),
      (2001L, (0 until 45).map(i => s"ddt$i").mkString(" "))))
      .toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fromScratch = pairSet(Dedup.containmentSketchPairs(
      store.union(delta), "doc_id", "text", n = 3, k = 32,
      threshold = 0.8)).filter(p => p._2 >= 1000L)
    val storeSk = Dedup.bottomKSketches(store, "doc_id", "text",
      n = 3, k = 32)
    val incremental = pairSet(Dedup.containmentSketchDelta(
      storeSk, Dedup.bandedSketchIndex(storeSk),
      delta, "doc_id", "text", n = 3, k = 32, threshold = 0.8))
    // exact equality including the estimates — same hashes, same
    // estimator, same caps
    assert(incremental == fromScratch && incremental.nonEmpty)
    // the delta-internal inclusion pair is found too
    assert(incremental.exists(p => p._1 == 2000L && p._2 == 2001L))
    // and at least one cross-boundary inclusion
    assert(incremental.exists(p => p._1 < 1000L && p._2 >= 1000L))
  }

  test("bottomKSketches kernel: bit-identical to the md5-hex/conv HOF " +
       "expression, including multi-byte UTF-8 tokens") {
    // the d13 fixture shape + non-ASCII tokens (md5 runs over UTF-8
    // BYTES in both the kernel and Spark's md5(); a code-unit slip
    // would diverge here), + a short doc (< n tokens -> no sketch)
    val docs = Seq(
      (1L, (0 until 50).map(i => s"tok$i").mkString(" ")),
      (2L, "café naïve 東京 résumé straße " +
        (0 until 40).map(i => s"w$i").mkString(" ")),
      (3L, "ab cd")).toDF("doc_id", "text")
    val got = Dedup.bottomKSketches(docs, "doc_id", "text", n = 3, k = 32)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[Long](2).toList))).toMap
    // the former HOF pipeline, inline (the oracle's exact arithmetic)
    val gram = expr("transform(sequence(0, size(__t) - 3), i -> " +
      "concat_ws(' ', element_at(__t, i + 1), element_at(__t, i + 2), " +
      "element_at(__t, i + 3)))")
    val hashes = transform(col("__g"), s =>
      conv(substring(md5(concat(lit("d13:"), s)), 1, 15), 16, 10).cast("long"))
    val want = docs
      .select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("__t"))
      .select(col("doc_id"),
        when(size(col("__t")) >= 3, gram)
          .otherwise(expr("CAST(array() AS array<string>)")).as("__g"))
      .select(col("doc_id"), array_sort(array_distinct(hashes)).as("__h"))
      .filter(size(col("__h")) > 0)
      .select(col("doc_id"), size(col("__h")).cast("long").as("sz"),
        slice(col("__h"), 1, 32).as("sk"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[Long](2).toList))).toMap
    assert(got == want, s"kernel diverged from HOF: got $got want $want")
    assert(!got.contains(3L) && got.contains(2L))
  }

  test("bottomKSketches kernel: null array elements are skipped like " +
       "concat_ws (HOF parity), not NPE'd") {
    // tokens() never emits nulls, but ArrayType(StringType) admits
    // containsNull — a nullable caller must degrade like the HOF form
    // (whose grams came from concat_ws, which ignores nulls): advisor
    // r14. Fixture: arrays with a null mid-window / at the edges.
    val rows = Seq(
      (1L, Seq[String]("a", "b", null, "c", "d", "e")),
      (2L, Seq[String](null, "x", "y", "z", null)),
      (3L, Seq[String]("a", "b", "c", "d", "e", "f")))
    val df = rows.toDF("doc_id", "toks")
    val kernel = org.apache.spark.sql.GraftSqlShims.column(
      graft.functions.BottomKSketch(
        org.apache.spark.sql.GraftSqlShims.expression(col("toks")), 3, 32, "d13:"))
    val got = df.select(col("doc_id"), kernel.as("s"))
      .select(col("doc_id"), col("s.sz"), col("s.sk"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[Long](2).toList))).toMap
    // the HOF pipeline the kernel replaced: concat_ws-rendered grams
    val gram = expr("transform(sequence(0, size(toks) - 3), i -> " +
      "concat_ws(' ', element_at(toks, i + 1), element_at(toks, i + 2), " +
      "element_at(toks, i + 3)))")
    val hashes = transform(col("__g"), s =>
      conv(substring(md5(concat(lit("d13:"), s)), 1, 15), 16, 10).cast("long"))
    val want = df
      .select(col("doc_id"), gram.as("__g"))
      .select(col("doc_id"), array_sort(array_distinct(hashes)).as("__h"))
      .select(col("doc_id"), size(col("__h")).cast("long").as("sz"),
        slice(col("__h"), 1, 32).as("sk"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[Long](2).toList))).toMap
    assert(got == want, s"null-element kernel diverged: got $got want $want")
  }

  test("containment sketch bucketCap: planted hot-shingle flood keeps " +
       "per-bucket join volume bounded, inclusion recall intact, " +
       "incremental ≡ from-scratch under the ENGAGED cap") {
    // Bottom-k buckets are STRUCTURALLY hot (judge r13): a common
    // shingle with a globally small hash lands in MANY docs'
    // bottom-32. Plant exactly that: 200 docs sharing a 12-token
    // header (docs are short enough that the sketch IS the full
    // shingle set, so all 10 header shingles are hot buckets of size
    // 200) + unique tails, alongside the d13 recall fixture's 20
    // planted true inclusions in disjoint token spaces.
    val header = (0 until 12).map(i => s"hot$i").mkString(" ")
    val flood = (5000L until 5200L).map(i =>
      (i, header + " " + (0 until 20).map(j => s"u${i}x$j").mkString(" ")))
    val planted = (0 until 20).flatMap { g =>
      val toks = (0 until 120).map(i => s"g${g}t$i")
      Seq((g.toLong, toks.mkString(" ")),
        (1000L + g, toks.slice(30, 70).mkString(" ")))
    }
    val docs = (planted ++ flood).toDF("doc_id", "text")
    val salt = Dedup.BucketSalt.Md5("d13b")
    val banded = Dedup.bandedSketchIndex(
      Dedup.bottomKSketches(docs, "doc_id", "text", n = 3, k = 32))
    def floodPairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .count { case (a, b) => a >= 5000L && b >= 5000L }
    // 1. PAIR-VOLUME BOUND: uncapped, every hot bucket self-joins all
    //    200 flood docs — C(200,2) = 19900 distinct flood pairs. With
    //    cap = 4 engaged each hot bucket splits into ceil(200/4) = 50
    //    md5 sub-buckets of ~4 rows: ~50·C(4,2) ≈ 300 pairs per
    //    bucket, and the constant band of this family means same-size
    //    buckets split identically — the union stays ~2 orders below
    //    quadratic.
    val uncapped = Banding.selfPairs(banded, Banding.Off)
    val capped = Banding.selfPairs(banded, Banding.Salt(4, salt))
    assert(floodPairs(uncapped) == 19900, "uncapped flood should be full quadratic")
    val cappedFlood = floodPairs(capped)
    assert(cappedFlood > 0 && cappedFlood < 2000,
      s"capped flood candidate volume $cappedFlood not bounded")
    val cappedSet = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncappedSet = uncapped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedSet.subsetOf(uncappedSet), "capped found pairs uncapped did not")
    // 2. the flood really flooded: ≥ 10 buckets exceed the cap (the
    //    header's shingles), i.e. the salted branch is ENGAGED here
    val hotBuckets = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("n")).filter(col("n") > 4).count()
    assert(hotBuckets >= 10, s"only $hotBuckets hot buckets — flood failed to engage the cap")
    // 3. RECALL under the engaged cap: every planted inclusion's
    //    sketch overlap is carried by ~30 per-group buckets of size 2
    //    the cap never touches, so the capped estimator finds exactly
    //    the pairs the uncapped one does on this fixture
    def inclusionPairs(bucketCap: Int, s: Dedup.BucketSalt) =
      Dedup.containmentSketchPairs(docs, "doc_id", "text",
        n = 3, k = 32, threshold = 0.8, bucketCap = bucketCap, salt = s)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        .filter(p => p._1 < 1000L && p._2 >= 1000L && p._2 < 2000L)
    val cappedIncl = inclusionPairs(4, salt)
    val uncappedIncl = inclusionPairs(0, Dedup.BucketSalt.XxHash)
    assert(cappedIncl == uncappedIncl,
      s"engaged cap changed inclusion recall: ${uncappedIncl -- cappedIncl}")
    // measured recall floor on this fixture (the uncapped estimator
    // itself sits at 15/20 here — the equality above is the cap
    // assertion; this floor just pins the family's absolute recall)
    assert(cappedIncl.size >= 14,
      s"sketch recall ${cappedIncl.size}/20 < 0.7 under the cap")
    // 4. INCREMENTAL ≡ FROM-SCRATCH with the cap engaged (the d14b
    //    gate's spec shadow): same census (union index = full index),
    //    same salt, so the delta-touching subset matches exactly —
    //    including through the flood, whose docs all sit in the delta
    //    (plus one delta-internal true inclusion — flood docs share
    //    only 10/30 sketch elements, below the 0.8 estimator bar, so
    //    without it both sides would be trivially empty)
    val ddPair = Seq(
      (6000L, (0 until 50).map(i => s"ddt$i").mkString(" ")),
      (6001L, (0 until 45).map(i => s"ddt$i").mkString(" ")))
    val store = planted.toDF("doc_id", "text")
    val delta = (flood ++ ddPair).toDF("doc_id", "text")
    val allDocs = (planted ++ flood ++ ddPair).toDF("doc_id", "text")
    val storeSk = Dedup.bottomKSketches(store, "doc_id", "text", n = 3, k = 32)
    val incr = Dedup.containmentSketchDelta(storeSk,
      Dedup.bandedSketchIndex(storeSk), delta, "doc_id", "text",
      n = 3, k = 32, threshold = 0.8, bucketCap = 4, salt = salt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val scratch = Dedup.containmentSketchPairs(allDocs, "doc_id", "text",
      n = 3, k = 32, threshold = 0.8, bucketCap = 4, salt = salt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      .filter(p => p._2 >= 5000L)
    assert(incr == scratch, "capped incremental diverged from capped from-scratch")
    assert(incr.exists(p => p._1 == 6000L && p._2 == 6001L),
      "delta-internal inclusion pair missing under the cap")
  }

  test("minhash bucketCap: planted flood keeps candidate volume bounded, " +
       "non-flood pairs and cap-disabled parity intact") {
    // 300 near-identical docs (one shared 60-token text with a single
    // token varying) — every band bucket floods; plus the regular
    // corpus with its planted pairs
    val floodBase = (0 until 60).map(i => s"tok$i").mkString(" ")
    val flood = (1000L until 1300L).map(i =>
      (i, floodBase + s" extra${i % 3}")).toDF("doc_id", "text")
    val df = corpus.union(flood)
    // cap engaged: the flood's per-(band,bucket) groups split into
    // ceil(n/cap) sub-buckets -> pair volume per bucket collapses from
    // ~C(300,2)=44850 to ~ceil(300/40)=8 groups of ~C(40,2)
    val capped = Dedup.minHashCandidates(df, "doc_id", "text",
      n = 3, bands = 16, rows = 4, threshold = 0.5, bucketCap = 40)
    val cappedPairs = capped.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1. the regular planted pairs survive untouched (their buckets
    //    are nowhere near the cap)
    assert(cappedPairs.contains((3L, 100L)) && cappedPairs.contains((7L, 101L)) &&
      cappedPairs.contains((5L, 200L)))
    // 2. RECALL is preserved by the 16 decorrelated per-band salts:
    //    each band re-samples ~1/nb of the flood's pairs with a
    //    DIFFERENT split, so the union recovers the vast majority of
    //    all C(300,2)=44850 pairs (expected ≈ 1-(1-1/8)^16 ≈ 88%) —
    //    what the cap bounds is per-TASK join volume, not the answer
    val floodPairs = cappedPairs.count { case (a, b) => a >= 1000L && b >= 1000L }
    assert(floodPairs > 30000, s"flood pair recall collapsed: $floodPairs")
    // 3. cap disabled reproduces the pre-guard behavior: all flood
    //    pairs (identical signatures collide in every band)
    val uncapped = Dedup.minHashCandidates(df, "doc_id", "text",
      n = 3, bands = 16, rows = 4, threshold = 0.5, bucketCap = 0)
    val un = uncapped.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(un.count { case (a, b) => a >= 1000L && b >= 1000L } > 40000)
    assert(cappedPairs.subsetOf(un), "capped found pairs uncapped did not")
    // 4. flood stays ONE cluster through connected components — the
    //    dense intra-sub-bucket edges re-join what the salt split
    val clusters = Dedup.connectedComponents(
      capped.select("id_a", "id_b"))
      .filter(org.apache.spark.sql.functions.col("id") >= 1000L)
      .select("cluster").distinct().collect()
    assert(clusters.length == 1 && clusters(0).getLong(0) == 1000L,
      s"flood fragmented into ${clusters.length} clusters")
    // 5. the SURVIVOR view is bit-identical capped vs uncapped (what
    //    production consumes downstream of the pair stream): connected
    //    components close the salt split's missing intra-flood edges,
    //    so the cap trades only pair-stream completeness, never the
    //    dedup answer, on this fixture (advisor r12)
    val ccCapped = Dedup.connectedComponents(capped.select("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ccUncapped = Dedup.connectedComponents(uncapped.select("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ccCapped == ccUncapped,
      "capped and uncapped dedup answers diverged")
  }

  test("bandedPairs: a single flooded bucket's join volume is cap-bounded") {
    // one band, one bucket, 300 rows — the per-task bound in isolation
    val banded = (0L until 300L).map(i => (i, 0, 7L)).toDF("id", "band", "bucket")
    val capped = Banding.selfPairs(banded, Banding.guard(40)).count()
    val uncapped = Banding.selfPairs(banded, Banding.Off).count()
    assert(uncapped == 44850L) // C(300,2): the quadratic blowup
    // ceil(300/40)=8 sub-buckets of ~37 rows: Σ C(n_s,2) ≈ 5600, and
    // even with md5 imbalance it must stay an order below quadratic
    assert(capped > 0 && capped < 12000L,
      s"capped single-bucket volume $capped not bounded")
  }

  test("connected components: chains merge transitively, keepers are min ids") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    val drops = Dedup.nearDupDrops(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(drops == Set((2L, 1L), (3L, 1L), (11L, 10L), (21L, 20L), (22L, 20L)))
  }

  test("connected components: 300-deep chain converges in <=10 star rounds") {
    // plain min-label propagation needs O(diameter)=300 rounds here;
    // large-star/small-star contraction folds the chain roughly in half
    // twice per round and must finish within 10.
    // driverMaxEdges=0 forces the distributed loop (the code under test)
    val chain = (0L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain, maxIters = 10, driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cc.length == 301)
    assert(cc.forall(_._2 == 0L), s"unconverged labels: ${cc.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("connected components: throws rather than returning unconverged labels") {
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIters = 2, driverMaxEdges = 0L)
    }
  }

  test("connected components: driver union-find agrees with the distributed loop") {
    val rnd = new scala.util.Random(3)
    // random sparse graph: 120 nodes, 90 edges → mix of chains/merges
    val pairs = (0 until 90).map { _ =>
      val a = rnd.nextInt(120).toLong; val b = rnd.nextInt(120).toLong
      (math.min(a, b), math.max(a, b) + 1)
    }.toDF("id_a", "id_b")
    val driver = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(pairs, driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(driver == dist)
  }

  test("native minhash/simhash: interpreted eval agrees with codegen") {
    val docs = Seq(
      (1L, Seq(11L, 22L, 33L, 44L), Seq("alpha", "beta", "gamma")),
      (2L, Seq(22L, 33L), Seq("beta", "delta")),
      (3L, Seq.empty[Long], Seq.empty[String])
    ).toDF("id", "hashes", "toks")
    def run() = docs.select(
      Dedup.minHashSignatureFromHashes(col("hashes"), 8).as("mh"),
      Dedup.simHash(concat_ws(" ", col("toks"))).as("sh")).collect()
      .map(r => (r.getSeq[Long](0), r.getLong(1))).toSeq
    val before = spark.conf.getOption("spark.sql.codegen.factoryMode")
    try {
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interp = run()
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val gen = run()
      assert(interp == gen)
      // FNV golden: "" tokenizes to one empty token whose FNV-1a hash
      // is the offset basis, so the signature IS the basis
      assert(interp(2)._2 == 0xcbf29ce484222325L)
      // minhash golden: no shingles -> all-Long.MaxValue signature
      assert(interp(2)._1.forall(_ == Long.MaxValue))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      before match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("simhash_md5: codegen == interpreted == cross-engine golden values") {
    // goldens computed independently (python hashlib + the DuckDB
    // oracle formula CAST('0x'||substr(md5(t),1,15) AS BIGINT)) — pin
    // the exact cross-engine contract the d4 oracle relies on
    val docs = Seq(
      (1L, "hello world  foo"),
      (2L, "hello world foo bar"),
      (3L, "  x  "),
      (4L, "hello world foo")).toDF("id", "text")
    def run() = docs.select(Dedup.simHashMd5(col("text")))
      .collect().map(_.getLong(0)).toSeq
    val before = spark.conf.getOption("spark.sql.codegen.factoryMode")
    try {
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val interp = run()
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val gen = run()
      assert(interp == gen)
      assert(interp == Seq(565079723462632069L, 275582701153820676L,
        710810379057940483L, 565079723462632069L), interp)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      before match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("ShingleHash preserves the equality structure of string shingles") {
    // jaccard over hashed windows must equal jaccard over the string
    // n-grams (collisions aside) — the property the dedup family relies on
    val rnd = new scala.util.Random(17)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val docs = (0 until 40).map { i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("id", "text")
    val both = docs.select(col("id"),
      array_distinct(graft.functions.TextExprs.shingleHashes(
        graft.functions.TextFns.tokens(col("text")), 3)).as("hw"),
      array_distinct(transform(graft.functions.TextFns.shingles(col("text"), 3),
        s => xxhash64(s))).as("hs")).collect()
    val byIdW = both.map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val byIdS = both.map(r => r.getLong(0) -> r.getSeq[Long](2).toSet).toMap
    def jac(m: Map[Long, Set[Long]], a: Long, b: Long): Double = {
      val (x, y) = (m(a), m(b))
      if (x.isEmpty && y.isEmpty) 1.0
      else x.intersect(y).size.toDouble / x.union(y).size
    }
    for (a <- 0L until 40L; b <- (a + 1) until 40L)
      assert(math.abs(jac(byIdW, a, b) - jac(byIdS, a, b)) < 1e-12,
        s"jaccard mismatch for ($a,$b)")
  }

  test("simhash: exact dup at distance 0; near-dups within 3; others far") {
    val cands = Dedup.simHashCandidates(corpus, "doc_id", "text", maxDist = 3)
    val m = cands.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(m.get((5L, 200L)).contains(0))
    assert(m.contains((3L, 100L)) || m.contains((7L, 101L)) || m.contains((11L, 102L)))
  }

  test("simhash refinement: forced-refined path emits the exact brute-force pair set") {
    val rnd = new scala.util.Random(7)
    // skewed corpus: chunk 0 (low 16 bits) constant over half the rows
    // so its level-1 bucket is oversized; planted near-dups at ≤3 bits
    val base = rnd.nextLong()
    val sigs0 = (0 until 300).map { i =>
      val s = if (i % 2 == 0) (rnd.nextLong() << 16) | (base & 0xFFFFL)
              else rnd.nextLong()
      (i.toLong, s)
    }
    val planted = Seq(
      (1000L, sigs0(0)._2 ^ 1L),          // dist 1 inside the skewed chunk
      (1001L, sigs0(2)._2 ^ (1L << 63)),  // dist 1 in the top chunk
      (1002L, sigs0(4)._2 ^ (1L << 20) ^ (1L << 40) ^ (1L << 60))) // dist 3 spread
    val all = sigs0 ++ planted
    val sigs = all.toDF("id", "sig")
    val brute = (for {
      (a, sa) <- all; (b, sb) <- all if a < b
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (a, b, d)).toSet
    // cap 10 forces every skewed bucket through level-2 refinement
    val got = Dedup.simHashPairsFromSigs(sigs, maxDist = 3, bucketCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute, s"missing=${brute -- got} extra=${got -- brute}")
    assert(planted.forall(p => got.exists(t => t._2 == p._1)))
  }

  test("simhash refinement: oversized buckets re-band to bounded sub-buckets") {
    val rnd = new scala.util.Random(11)
    // 2000 rows all sharing chunk 0 — a degenerate hot bucket; other
    // 48 bits random, so refined keys spread it ~2000/4096 per bucket
    val sigs = (0 until 2000).map(i =>
      (i.toLong, (rnd.nextLong() << 16) | 0xBEEFL)).toDF("id", "sig")
    // reproduce the refined keying and assert max bucket size is tiny
    val chunked = sigs.select(col("id"), col("sig"),
      shiftright(col("sig"), 16).bitwiseAND((1L << 48) - 1).as("rem"))
    val maxBucket = chunked
      .select(posexplode(org.apache.spark.sql.functions.array((0 until 4).map(k =>
        shiftright(col("rem"), k * 12).bitwiseAND(0xFFFL)): _*)).as(Seq("sub", "sv")))
      .groupBy("sub", "sv").count().agg(max("count")).head().getLong(0)
    assert(maxBucket <= 20, s"refined buckets not bounded: max=$maxBucket")
    // and the full operator still finds the planted dup inside the crowd
    val withDup = sigs.union(Seq((9999L, ((0x1234567890L << 16) | 0xBEEFL) ^ 2L))
      .toDF("id", "sig"))
    val base = Seq((8888L, (0x1234567890L << 16) | 0xBEEFL)).toDF("id", "sig")
    val got = Dedup.simHashPairsFromSigs(withDup.union(base), bucketCap = 100)
      .filter(col("id_a") === 8888L || col("id_b") === 8888L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((8888L, 9999L)))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb(dir: String) = spark.read.parquet(s"$dir/embeddings.parquet")

  test("cosine of identical vectors is 1; orthogonal is 0") {
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 2.0)))
      .toDF("a", "b", "c")
    val r = df.select(
      graft.functions.VectorExprs.cosine(col("a"), col("b")),
      graft.functions.VectorExprs.cosine(col("a"), col("c"))).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12 && math.abs(r.getDouble(1)) < 1e-12)
  }

  test("brute-force knn: self excluded, k rows per query, sims sorted") {
    val e = emb(sf())
    val knn = Similarity.bruteForceKnn(
      e.filter(col("vec_id") < 5), e, "vec_id", "embedding", k = 3)
    val rows = knn.collect()
    assert(rows.length == 15)
    assert(!rows.exists(r => r.getLong(0) == r.getLong(1)))
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val sims = g.map(_.getDouble(2)).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }

  test("lshKnn: a probe identical to a corpus vector retrieves it at rank 1; " +
    "results are a subset of banded candidates re-ranked exactly") {
    val e = emb(sf())
    // probe = corpus vector 7 verbatim → identical signature → shares
    // every band → candidate for sure; exact re-rank puts it first
    val probe = e.filter(col("vec_id") === 7)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val planes = Similarity.md5Planes(nbits = 60, dim = 64)
    val res = Similarity.lshKnn(probe, e, "vec_id", "embedding",
      k = 5, dim = 64, nbits = 60, bands = 6, planes = Some(planes))
      .orderBy(col("sim").desc, col("neighbor_id")).collect()
    assert(res.nonEmpty && res.head.getLong(1) == 7L &&
      math.abs(res.head.getDouble(2) - 1.0) < 1e-9,
      s"self-retrieval failed: ${res.toSeq.take(3)}")
    assert(res.length <= 5)
  }

  test("lshKnn results are a subset of brute-force ranking with identical sims") {
    val e = emb(sf())
    val probes = e.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val planes = Similarity.md5Planes(nbits = 60, dim = 64)
    val approx = Similarity.lshKnn(probes, e, "vec_id", "embedding",
      k = 10, dim = 64, nbits = 60, bands = 6, planes = Some(planes))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute force at k = corpus: the full exact ranking every LSH
    // result must agree with, sim for sim
    val brute = Similarity.bruteForceKnn(probes, e, "vec_id", "embedding",
      k = e.count().toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(approx.nonEmpty)
    approx.foreach { case (pair, sim) =>
      assert(brute.get(pair).contains(sim),
        s"lshKnn sim for $pair diverges from exact: $sim vs ${brute.get(pair)}")
    }
  }

  test("recallAtK: exact per-query intersection over the truth denominator") {
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (3L, 30L))
      .toDF("query_id", "neighbor_id")
    // q1: 2 of 3 hit; q2: miss entirely (approx found other ids);
    // q3: absent from approx altogether — still scored, recall 0
    val approx = Seq((1L, 11L), (1L, 12L), (1L, 99L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val r = Similarity.recallAtK(approx, truth).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r(1L) == ((3L, 2L, 2.0 / 3)))
    assert(r(2L) == ((1L, 0L, 0.0)))
    assert(r(3L) == ((1L, 0L, 0.0)))
    assert(r.size == 3) // one row per truth query, never per approx extra
  }

  test("IVF: recall@10 vs brute force ≥ 0.6 with nprobe=4 of 8 lists") {
    val e = emb(sf())
    val idx = Similarity.IvfIndex.fit(e, "embedding", k = 8, sampleSize = 500)
    val assigned = idx.assign(e, "embedding").cache()
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val approx = idx.query(assigned.filter(col("vec_id") =!= 0), "vec_id",
      "embedding", qv, k = 10, nprobe = 4)
      .select("neighbor_id").as[Long].collect().toSet
    val exact = Similarity.bruteForceKnn(
      e.filter(col("vec_id") === 0), e, "vec_id", "embedding", k = 10)
      .select("neighbor_id").as[Long].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall@10 = $recall")
    assigned.unpersist()
  }

  test("PQ: codes in range; full shortlist ≡ brute force; planted top-1 at 32") {
    // uniform noise embeddings are PQ's adversarial case (no cluster
    // structure, true neighbors barely above background), so the
    // recall dial is `shortlist`: at shortlist = corpus the exact
    // re-rank must reproduce brute force EXACTLY (plumbing proof),
    // and a high-margin planted query must surface top-1 already at a
    // small shortlist (the production regime the oracle also gates).
    val e = emb(sf())
    val idx = Similarity.PqIndex.fit(e, "embedding", m = 8, k = 16,
      sampleSize = 500)
    val encoded = idx.encode(e, "embedding").cache()
    for (mi <- 0 until 8) {
      val mm = encoded.agg(min(s"code_$mi"), max(s"code_$mi")).head()
      assert(mm.getInt(0) >= 0 && mm.getInt(1) < 16, s"subspace $mi codes")
    }
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val full = idx.queryBatch(encoded, "vec_id", "embedding",
      Seq((0L, qv)), kOut = 10, shortlist = 500)
      .orderBy(col("sim").desc, col("neighbor_id"))
      .select("neighbor_id").as[Long].collect().toSeq
    val exact = Similarity.bruteForceKnn(
      e.filter(col("vec_id") === 0), e, "vec_id", "embedding", k = 10)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(full == exact, s"full-shortlist PQ != brute force: $full vs $exact")
    val planted = qv.zipWithIndex.map { case (x, j) => x + 0.01 * (j % 3 - 1) }
    val top = idx.queryBatch(encoded, "vec_id", "embedding",
      Seq((9999L, planted)), kOut = 1, shortlist = 32).head()
    assert(top.getLong(1) == 0L, s"planted top-1 missed: $top")
    encoded.unpersist()
  }

  test("IVF queryBatch: one job, per-query top-k, agrees with single-query path") {
    val e = emb(sf())
    val idx = Similarity.IvfIndex.fit(e, "embedding", k = 8, sampleSize = 500)
    val assigned = idx.assign(e, "embedding").cache()
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val batch = idx.queryBatch(assigned, "vec_id", "embedding", queries,
      k = 5, nprobe = 4).collect()
    assert(batch.length == 15) // 3 queries × top-5
    queries.foreach { case (qid, qv) =>
      val single = idx.query(assigned.filter(col("vec_id") =!= qid),
        "vec_id", "embedding", qv, k = 5, nprobe = 4)
        .select("neighbor_id").as[Long].collect().toSet
      val fromBatch = batch.filter(_.getLong(0) == qid).map(_.getLong(1)).toSet
      assert(fromBatch == single, s"query $qid: batch=$fromBatch single=$single")
    }
    assigned.unpersist()
  }

  test("IVF save/load round-trips the index: same centroids, same answers") {
    val e = emb(sf())
    val idx = Similarity.IvfIndex.fit(e, "embedding", k = 8, sampleSize = 500)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    Similarity.IvfIndex.save(idx, spark, path)
    val loaded = Similarity.IvfIndex.load(spark, path)
    assert(loaded.centroids.length == idx.centroids.length)
    idx.centroids.zip(loaded.centroids).foreach { case (a, b) =>
      assert(a.toSeq == b.toSeq) // exact: parquet doubles round-trip bitwise
    }
    val assigned = idx.assign(e, "embedding").cache()
    val queries = e.filter(col("vec_id") < 2)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val a = idx.queryBatch(assigned, "vec_id", "embedding", queries, 5, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = loaded.queryBatch(assigned, "vec_id", "embedding", queries, 5, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    assigned.unpersist()
  }

  test("residual IVFADC: recall@10 ≥ raw-vector PQ on clustered vectors; " +
       "full shortlist ≡ brute force") {
    // Jégou §V's motivation only shows on STRUCTURED data: with raw
    // encoding the m×k budget spends its centroids spanning the
    // cluster centers (within-cluster points collapse to one code and
    // tie), while residual encoding spends the same budget on the
    // within-list spread. The planted n7 oracle can't see this (its
    // margin is ~0.5 and the exact re-rank rescues ranking), so this
    // spec measures recall@10 directly on 4 well-separated clusters.
    val rnd = new scala.util.Random(7)
    val dim = 16; val nClusters = 16; val perCluster = 40
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian() * 5.0)
    val points = (0 until nClusters * perCluster).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.toIndexedSeq.map(_ + rnd.nextGaussian() * 1.5))
    }
    val df = points.toDF("vec_id", "embedding")
    val ivf = Similarity.IvfIndex.fit(df, "embedding", k = nClusters,
      sampleSize = 320)
    val assigned = ivf.assign(df, "embedding").cache()
    val queries = points.take(10).map { case (id, v) => (id, v: Seq[Double]) }
    val exact = Similarity.bruteForceKnn(
      df.filter(col("vec_id") < 10), df, "vec_id", "embedding", k = 10)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def recall(ans: Array[org.apache.spark.sql.Row]): Double = {
      val byQ = ans.groupBy(_.getLong(0)).map { case (q, rs) =>
        exact(q).intersect(rs.map(_.getLong(1)).toSet).size / 10.0
      }
      byQ.sum / byQ.size
    }
    // same m×k code budget, all lists probed — isolates encode quality
    val rawPq = Similarity.PqIndex.fit(df, "embedding", m = 8, k = 8,
      sampleSize = 320)
    val rawEnc = rawPq.encode(assigned, "embedding").cache()
    val rawRecall = recall(Similarity.ivfPqQueryBatch(ivf, rawPq, rawEnc,
      "vec_id", "embedding", queries, kOut = 10, nprobe = nClusters,
      shortlist = 10).collect())
    val resPq = Similarity.PqIndex.fitResiduals(assigned, "embedding", ivf,
      m = 8, k = 8, sampleSize = 320)
    val resEnc = resPq.encodeResiduals(assigned, "embedding", ivf).cache()
    for (mi <- 0 until 8) {
      val mm = resEnc.agg(min(s"code_$mi"), max(s"code_$mi")).head()
      assert(mm.getInt(0) >= 0 && mm.getInt(1) < 8, s"residual codes $mi")
    }
    val resRecall = recall(Similarity.ivfAdcQueryBatch(ivf, resPq, resEnc,
      "vec_id", "embedding", queries, kOut = 10, nprobe = nClusters,
      shortlist = 10).collect())
    info(s"recall@10: residual=$resRecall raw=$rawRecall (shortlist 10/640)")
    // deterministic fixture (seeded data, hash-ordered samples): the
    // observed values are residual=0.39 vs raw=0.28 — a strict margin,
    // not a tie; asserted with slack for JVM-reordering fp drift
    assert(resRecall >= rawRecall + 0.05,
      s"residual recall@10 $resRecall not clearly above raw $rawRecall")
    assert(resRecall >= 0.35,
      s"residual recall@10 too low: $resRecall (raw: $rawRecall)")
    // plumbing proof: shortlist = corpus, all lists probed → the exact
    // re-rank must reproduce brute force EXACTLY
    val full = Similarity.ivfAdcQueryBatch(ivf, resPq, resEnc, "vec_id",
      "embedding", queries.take(3), kOut = 10, nprobe = nClusters,
      shortlist = points.size).collect()
    queries.take(3).foreach { case (qid, _) =>
      val got = full.filter(_.getLong(0) == qid).map(_.getLong(1)).toSet
      assert(got == exact(qid), s"query $qid: $got vs ${exact(qid)}")
    }
    assigned.unpersist(); rawEnc.unpersist(); resEnc.unpersist()
  }

  test("PQ save/load round-trips codebooks: same codes, same answers") {
    val e = emb(sf())
    val idx = Similarity.PqIndex.fit(e, "embedding", m = 8, k = 16,
      sampleSize = 500)
    val path = java.nio.file.Files.createTempDirectory("graft-pq").toString + "/pq"
    Similarity.PqIndex.save(idx, spark, path)
    val loaded = Similarity.PqIndex.load(spark, path)
    assert(loaded.m == idx.m && loaded.k == idx.k && loaded.subDim == idx.subDim)
    for (mi <- 0 until idx.m; ki <- 0 until idx.k)
      assert(loaded.codebooks(mi)(ki).toSeq == idx.codebooks(mi)(ki).toSeq)
    // parquet doubles round-trip bitwise → encode agrees code-for-code
    val a = idx.encode(e.limit(50), "embedding")
      .select((0 until 8).map(i => col(s"code_$i")) :+ col("vec_id"): _*)
      .collect().map(_.toSeq).toSeq
    val b = loaded.encode(e.limit(50), "embedding")
      .select((0 until 8).map(i => col(s"code_$i")) :+ col("vec_id"): _*)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("RHP-LSH pairs: planted duplicate vector found at sim ~1") {
    val e = emb(sf()).limit(100)
    val dup = e.filter(col("vec_id") === 3)
      .select((col("vec_id") + 1000).as("vec_id"), col("embedding"), col("label"))
    val pairs = Similarity.lshCandidatePairs(e.unionByName(dup),
      "vec_id", "embedding", dim = 64, threshold = 0.99)
    val found = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(found.contains((3L, 1003L)), s"got ${found.toSeq}")
  }

  test("embedding dedup end to end: planted dup chain clusters to min id") {
    val e = emb(sf()).limit(50)
    // two noisy copies of vector 7 — 7~1007 and 1007~2007 both clear the
    // threshold; 7~2007 may not, so clustering must close the chain
    val dups = e.filter(col("vec_id") === 7)
      .select(explode(array(lit(1007L), lit(2007L))).as("vec_id"),
        col("embedding"), col("label"))
    val all = e.unionByName(dups)
    val clustered = Dedup.connectedComponents(
      Similarity.cosinePairs(all, "vec_id", "embedding",
        threshold = 0.9, blockCols = Seq("label")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clustered(1007L) == 7L && clustered(2007L) == 7L,
      s"got $clustered")
    // keepers (cluster representatives) are exactly the min ids
    assert(!clustered.contains(7L) || clustered(7L) == 7L)
  }
}
