package graft

import graft.functions.{Bpe, BpeKernel}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** [[Bpe]] merge application — golden segmentations hand-computed
  * against the fixture merges table (the t21 oracle replays the loop
  * in SQL; these pin the loop's semantics directly, including the
  * overlap and priority rules that make BPE BPE).
  */
class BpeSpec extends SparkSpec {

  private def seg(w: String, rules: Seq[(String, String)] = Bpe.merges) =
    BpeKernel.segment(UTF8String.fromString(w), BpeKernel.rankMap(rules)).toSeq

  test("golden segmentations against the fixture merges") {
    // hand-traced: lowest-rank rule first, all occurrences merged
    assert(seg("the") == Seq("the"))
    assert(seg("and") == Seq("and"))        // (a,n) before (n,d), then (an,d)
    assert(seg("that") == Seq("that"))      // th, at, then (th,at)
    assert(seg("when") == Seq("wh", "en"))  // (e,n) rank 8 beats (w,h) rank 36
    assert(seg("theater") == Seq("the", "at", "er"))
    assert(seg("tokenizer") == Seq("to", "k", "en", "i", "z", "er"))
    assert(seg("xyzq") == Seq("x", "y", "z", "q")) // nothing applies
    assert(seg("a") == Seq("a"))
    assert(seg("") == Seq.empty)
  }

  test("all occurrences merge left-to-right non-overlapping") {
    val rules = Seq("a" -> "a", "aa" -> "b")
    assert(seg("aaa", rules) == Seq("aa", "a"))        // not (a, aa)
    assert(seg("aaaa", rules) == Seq("aa", "aa"))      // both pairs in one pass
    assert(seg("aab", rules) == Seq("aab"))            // then (aa,b)
    // b,a,a,a,b -> (a,a) L-to-R gives b,aa,a,b; no (aa,b) adjacency
    // remains, so the trailing a and b stay split
    assert(seg("baaab", rules) == Seq("b", "aa", "a", "b"))
  }

  test("priority: lowest rank wins even when a later rule matches earlier in the word") {
    val rules = Seq("c" -> "d", "a" -> "b")
    // "abcd": rule (c,d) has rank 0 -> applies first even though (a,b)
    // sits earlier in the word
    assert(seg("abcd", rules) == Seq("ab", "cd"))
    val rules2 = Seq("a" -> "b", "b" -> "c")
    // (a,b) consumes the b, so (b,c) never applies
    assert(seg("abc", rules2) == Seq("ab", "c"))
  }

  test("train: frequency-ordered rules, lexicographic tie-break, " +
       "counts weighted by corpus word frequency") {
    import spark.implicits._
    // 'the' ×4, 'tb' ×3, 'xy' ×2, 'xz' ×2. Round 0: (t,h) and (h,e)
    // TIE at 4 → lexicographic (h,e) wins; round 1: (t,he) at 4; then
    // (t,b) 3; then the (x,y)/(x,z) tie at 2 → (x,y) first.
    val docs = Seq(
      (1L, "the the tb xy xz"),
      (2L, "the the tb tb xy xz")).toDF("doc_id", "text")
    val got = Bpe.train(docs, "text", rounds = 5)
    assert(got.map(m => (m.a, m.b, m.count)) == Seq(
      ("h", "e", 4L), ("t", "he", 4L), ("t", "b", 3L),
      ("x", "y", 2L), ("x", "z", 2L)), s"got $got")
    assert(got.map(_.rank) == Seq(0, 1, 2, 3, 4))
    // the learned table drives the SAME apply kernel t21 uses
    val rules = got.map(m => (m.a, m.b))
    assert(seg("the", rules) == Seq("the"))
    assert(seg("tb", rules) == Seq("tb"))
    assert(seg("xyz", rules) == Seq("xy", "z")) // (x,y) rank 3 < (x,z)
    // dries up once every word is a single symbol: asking for more
    // rounds returns exactly the learnable rules
    assert(Bpe.train(docs, "text", rounds = 50).size == 5)
  }

  test("train: positional pair counts (the subword-nmt convention) " +
       "and non-overlapping merges") {
    import spark.implicits._
    // 'aaa' ×2: census counts (a,a) positionally = 2 per word = 4;
    // after merging, each word is (aa, a) -> census (aa, a) = 2
    val docs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val got = Bpe.train(docs, "text", rounds = 2)
    assert(got.map(m => (m.a, m.b, m.count)) == Seq(
      ("a", "a", 4L), ("aa", "a", 2L)))
  }

  test("ReplaceChain ≡ folding Spark's replace over the same pairs " +
       "(chained interactions, empty/null inputs)") {
    // the r19 training-loop optimization folds the per-round nested
    // `replace` chain into one constant-shape expression; this pins
    // the fold's semantics against Spark's own replace, including
    // order sensitivity (later pairs see earlier pairs' output)
    import spark.implicits._
    val pairs = Seq("ab" -> "X", "Xc" -> "Y", "Y" -> "ab", "zz" -> "")
    val df = Seq("abcabc", "ab", "", "zzz", "noop", null.asInstanceOf[String])
      .toDF("s")
    val nested = pairs.foldLeft(col("s")) { case (c, (f, r)) =>
      call_function("replace", c, lit(f), lit(r)) }
    val chained = org.apache.spark.sql.GraftSqlShims.column(
      graft.functions.ReplaceChain(
        org.apache.spark.sql.GraftSqlShims.expression(col("s")),
        pairs.map(_._1), pairs.map(_._2)))
    val rows = df.select(nested.as("a"), chained.as("b")).collect()
    rows.foreach(r => assert(r.get(0) == r.get(1), s"mismatch: $r"))
    // the chain really chained: abcabc → XcXc → YY → abab
    assert(rows.exists(_.get(0) == "abab"))
    assert(rows.last.isNullAt(1))             // null propagates
  }

  test("train: checkpointed segmentation (t24c) is bit-identical to the " +
       "pure-expression form at 260 rounds") {
    import spark.implicits._
    // a fixture with > 260 learnable merges: 40 pseudo-random 15-char
    // words (≈ 560 total merge capacity; seeded, so deterministic)
    val rnd = new scala.util.Random(42)
    val words = (0 until 40).map(_ =>
      (0 until 15).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    val docs = Seq((1L, words.mkString(" ")),
      (2L, words.take(20).mkString(" "))).toDF("doc_id", "text")
    val pure = Bpe.train(docs, "text", rounds = 260, checkpointEvery = 0)
    assert(pure.size == 260, s"fixture dried up at ${pure.size} rounds")
    // 64 = the production default; every checkpoint materializes the
    // framed segmentation and restarts the replace chain, so the pure
    // form's O(rounds²) recompute and expression depth are both
    // bounded — and the learned table must not move by a bit
    val ckpt = Bpe.train(docs, "text", rounds = 260, checkpointEvery = 64)
    assert(ckpt == pure, "checkpointed training diverged from pure-expression")
    graft.Materialize.releaseAll()
  }

  test("trainBatched: multi-merge ≡ sequential on interacting AND " +
       "non-interacting fixtures; batching actually engages") {
    import spark.implicits._
    // both batch sizes against the plain-Scala Algorithm 1, which
    // shares no code with the Spark loop: batchMax = 1 pins the
    // sequential loop itself, batchMax = 8 the batch acceptance rules
    def learned(texts: Seq[String], rounds: Int, batchMax: Int) = {
      val (got, sizes) = Bpe.trainWithSizes(Bpe.Words,
        texts.toDF("text"), "text", rounds, batchMax, checkpointEvery = 64)
      assert(got.map(_.rank) == got.indices)
      (got.map(m => (m.a, m.b, m.count)), sizes)
    }
    val inter = SennrichReference.interacting
    val refI = SennrichReference.learn(SennrichReference.wordVocab(inter), 6)
    assert(refI.size == 6)
    val (seqI, _) = learned(inter, 6, batchMax = 1)
    assert(seqI == refI, s"sequential diverged on the interacting fixture: $seqI vs $refI")
    val (batI, sizesI) = learned(inter, 6, batchMax = 8)
    assert(batI == refI, s"interacting fixture diverged: $batI vs $refI")
    assert(sizesI.contains(1), s"expected forced m=1 rounds, got $sizesI")
    val tied = SennrichReference.tiedParent
    val refT = SennrichReference.learn(SennrichReference.wordVocab(tied), 6)
    assert(refT.size == 6)
    assert(learned(tied, 6, batchMax = 1)._1 == refT)
    val (batT, sizesT) = learned(tied, 6, batchMax = 8)
    assert(batT == refT, s"tied-parent fixture diverged: $batT vs $refT")
    assert(sizesT.head == 2, s"expected the batch to stop after 2, got $sizesT")
    // MIXED pseudo-random fixture (the 260-round corpus): equality at
    // depth, and the accepted prefix must exceed 1 somewhere — the
    // batching is real, not a degenerate always-1
    val docs = SennrichReference.pseudoRandom
    val refR = SennrichReference.learn(SennrichReference.wordVocab(docs), 120)
    val (seqR, sizes1) = learned(docs, 120, batchMax = 1)
    assert(seqR == refR, "sequential training diverged from Algorithm 1")
    assert(sizes1.forall(_ == 1))
    val (batR, sizesR) = learned(docs, 120, batchMax = 8)
    assert(batR == refR, "batched training diverged from Algorithm 1")
    assert(sizesR.exists(_ > 1),
      s"batching never engaged (all prefixes 1): $sizesR")
    assert(sizesR.sum == 120 && batR.size == 120)
    graft.Materialize.releaseAll()
  }

  test("train: the per-round pair census is ONE exchange") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma alpha")).toDF("doc_id", "text")
    val vocab = graft.Materialize.reuse(
      docs.select(explode(graft.functions.TextFns.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .withColumn("s", regexp_replace(col("w"), "(.)", "\u0001$1\u0001")))
    val census = Bpe.pairCensus(vocab, col("s"))
    val plan = census.queryExecution.executedPlan.toString
    // the vocab CACHE BUILD below the InMemoryTableScan pays its own
    // one-time exchange; the per-round census above it must pay ONE
    val perRound = plan.split("InMemoryTableScan")(0)
    val exchanges = "Exchange".r.findAllIn(perRound).size
    assert(exchanges == 1, s"pair census pays $exchanges exchanges:\n$plan")
  }

  test("tokenCount composes counts through the vocabulary join") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the theater when"),  // 1 + 3 + 2 = 6 bpe tokens
      (2L, "the the the"),       // 3 (vocab computed once, count 3x)
      (3L, "xyzq")               // 4
    ).toDF("doc_id", "text")
    val got = Bpe.tokenCount(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == (3L, 6L))
    assert(got(2L) == (3L, 3L))
    assert(got(3L) == (1L, 4L))
  }

  test("encodeFingerprint: stream fp is md5 of the kernel's pieces " +
       "in word order; counts agree with tokenCount") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the theater when"),
      (2L, "when the theater") // same words, different order -> fp differs
    ).toDF("doc_id", "text")
    val got = Bpe.encodeFingerprint(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val ranks = BpeKernel.rankMap(Bpe.merges)
    def enc(ws: String*) = {
      val s = ws.map(w => BpeKernel.segment(
        org.apache.spark.unsafe.types.UTF8String.fromString(w), ranks)
        .mkString(" ")).mkString(" ")
      java.security.MessageDigest.getInstance("MD5").digest(
        s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(got(1L) == ((3L, 6L, enc("the", "theater", "when"))))
    assert(got(2L) == ((3L, 6L, enc("when", "the", "theater"))))
    assert(got(1L)._3 != got(2L)._3)
  }
}
