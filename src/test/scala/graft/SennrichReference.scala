package graft

import java.nio.charset.StandardCharsets.UTF_8

/** Sennrich et al. 2016 Algorithm 1 in plain Scala — an independent
  * reference for the Spark learner ([[graft.functions.Bpe.train]]),
  * sharing none of its code: a `Map[word, count]`, POSITIONAL pair
  * counts weighted by word count, the `(c desc, a, b)` argmax with
  * bytewise UTF-8 order on the symbols (Spark's string order), and
  * each rule merged left to right, non-overlapping, in every word.
  */
object SennrichReference {

  /** Learn up to `rounds` rules `(a, b, count)` from a vocabulary of
    * words, each given as its base symbols. */
  def learn(vocab: Map[Seq[String], Long], rounds: Int): Seq[(String, String, Long)] = {
    val bytes = (s: String) => s.getBytes(UTF_8)
    def before(x: ((String, String), Long), y: ((String, String), Long)): Boolean =
      if (x._2 != y._2) x._2 > y._2
      else {
        val ca = java.util.Arrays.compareUnsigned(bytes(x._1._1), bytes(y._1._1))
        if (ca != 0) ca < 0
        else java.util.Arrays.compareUnsigned(bytes(x._1._2), bytes(y._1._2)) < 0
      }
    var words = vocab.toSeq
    val out = Seq.newBuilder[(String, String, Long)]
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- words; i <- 0 until syms.size - 1) {
        val p = (syms(i), syms(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + c
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.toSeq.reduce((x, y) => if (before(x, y)) x else y)
        out += ((a, b, c))
        words = words.map { case (syms, n) => (mergeAll(syms, a, b), n) }
        r += 1
      }
    }
    out.result()
  }

  private def mergeAll(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < syms.size) {
      if (i < syms.size - 1 && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def codepoints(s: String): Seq[String] =
    s.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))

  private def counted(tokens: Seq[String]): Map[Seq[String], Long] =
    tokens.groupBy(identity).map { case (t, ts) => codepoints(t) -> ts.size.toLong }

  /** The word-level vocabulary of `texts`: whitespace-split words of
    * codepoint symbols. */
  def wordVocab(texts: Seq[String]): Map[Seq[String], Long] =
    counted(texts.flatMap(_.trim.split("\\s+")))

  /** The byte-level vocabulary of `texts`: GPT-2 pre-tokens of
    * byte-unicode chars. */
  def byteVocab(texts: Seq[String]): Map[Seq[String], Long] =
    counted(texts.flatMap(graft.functions.ByteBpe.preTokenize)
      .map(graft.functions.ByteBpe.toByteUnicode))

  /** INTERACTING fixture: every top pair shares symbols / products
    * with the next ("ababab…" makes (a,b) dominant, then (ab,ab) —
    * the product of rule 1 IS a symbol of rule 2, so concat-safety
    * forces m = 1 there), pinning the guards rather than the happy
    * path. */
  val interacting: Seq[String] = Seq(("ab" * 12 + " ") * 3 + "ab", "ababab ab ab")

  /** TIED-PARENT fixture: the whole census fits in the top sliver,
    * so the touching-maxima job sees no pair at all. After (a,h) and
    * (g,f) the created pairs (e,ah) and (ah,gf) tie (d,e) at count 1,
    * and (ah,gf) wins that tie; their parents (e,a) and (h,g) sit in
    * the top sliver, so only condition 3's top-sliver fold ends the
    * batch before (d,e). It learns 6 word-level and 8 byte-level
    * merges. */
  val tiedParent: Seq[String] = Seq("deah ahgfa gf")

  /** MIXED pseudo-random fixture: 40 seeded 15-char words (≈ 560
    * total merge capacity), the first 20 twice. */
  val pseudoRandom: Seq[String] = {
    val rnd = new scala.util.Random(42)
    val words = (0 until 40).map(_ =>
      (0 until 15).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    Seq(words.mkString(" "), words.take(20).mkString(" "))
  }
}
