package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lower}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** HTML boilerplate extraction (t26) — the deterministic rule core of
  * the trafilatura/jusText stage every real crawl pipeline runs
  * BEFORE any quality/dedup operator (Kohlschütter et al. 2010's
  * densitometric insight; jusText's link-density gate), reduced to
  * exactly the rules that are integer-decidable and therefore
  * oracle-replayable:
  *
  *  1. `<script>…</script>` and `<style>…</style>` blocks are removed
  *     WHOLESALE (they may span lines), script first then style —
  *     a fixed order both engines replay.
  *  2. The document splits into lines on `\n`; per line, all
  *     remaining `<…>` tags are stripped, the five commonest HTML
  *     entities decode (`&lt; &gt; &quot; &#39; &nbsp;` then `&amp;`
  *     LAST, so `&amp;lt;` correctly yields the literal `&lt;`), and
  *     the result space-trims (' ' only — matching SQL `trim`, not
  *     Java's control-char trim).
  *  3. A line is KEPT iff its body length ≥ 20 chars AND
  *     `2·link_chars < body_chars` — link_chars being the tag-free
  *     length of the line's `<a>…</a>` inner text. Both thresholds
  *     are EXACT INTEGER comparisons: no float density ever exists.
  *
  * The kept bodies re-join with `\n` as the cleaned article text.
  * Navigation bars ("Home | About | Contact"), footers, and
  * link-farms die on rule 3; chrome fragments and separators on the
  * length gate; code/style payloads on rule 1.
  *
  * Shape for scale: ONE codegen'd pass per document (a native kernel
  * expression, the BpeTokenize pattern — compiled regexes ride the
  * JVM, not the row), map-only, text never shuffles. A DuckDB oracle
  * replays every rule with RE2 regexes + the same replace chain
  * (patterns deliberately avoid backreferences/lookaround, the
  * Java∩RE2 subset).
  */
object BoilerplateKernel {

  val MinLen = 20

  val schema: StructType = StructType(Seq(
    StructField("clean", StringType, nullable = false),
    StructField("n_kept", IntegerType, nullable = false),
    StructField("n_dropped", IntegerType, nullable = false)))

  private val Script =
    java.util.regex.Pattern.compile("(?is)<script[^>]*>.*?</script>")
  private val Style =
    java.util.regex.Pattern.compile("(?is)<style[^>]*>.*?</style>")
  private val Anchor =
    java.util.regex.Pattern.compile("(?is)<a[^>]*>(.*?)</a>")
  private val Tag = java.util.regex.Pattern.compile("<[^>]*>")

  /** Entity decode, `&amp;` last (see object doc). */
  private def decode(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&#39;", "'").replace("&nbsp;", " ").replace("&amp;", "&")

  /** Space-only trim — SQL `trim` semantics (Java's `trim` also eats
    * control chars, which DuckDB's doesn't). */
  private def spaceTrim(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && s.charAt(i) == ' ') i += 1
    while (j > i && s.charAt(j - 1) == ' ') j -= 1
    s.substring(i, j)
  }

  /** The rule pipeline; returns (cleanText, nKept, nDropped).
    * Line endings normalize first (`\r\n`/`\r` → `\n`) so CRLF crawl
    * pages split into the same lines both engines see. */
  def clean(text0: String): (String, Int, Int) = {
    val text = text0.replace("\r\n", "\n").replace('\r', '\n')
    val noBlocks = Style.matcher(
      Script.matcher(text).replaceAll("")).replaceAll("")
    val lines = noBlocks.split("\n", -1)
    val kept = new scala.collection.mutable.ArrayBuffer[String](lines.length)
    var dropped = 0
    var li = 0
    while (li < lines.length) {
      val line = lines(li)
      var link = 0
      val m = Anchor.matcher(line)
      // CODEPOINT counts on both gates — the oracle's SQL length()
      // counts codepoints, and astral chars (emoji) are 2 UTF-16
      // units; code-unit counts would silently diverge the engines
      while (m.find()) {
        // ENTITY-DECODED anchor text, mirroring the body side: without
        // the decode, entity-heavy anchors (&amp; = 5 chars vs 1)
        // over-weight the link side of the 2·link < body gate and the
        // rule drifts from its tag-free-length intent (advisor r13)
        val a = decode(Tag.matcher(m.group(1)).replaceAll(""))
        link += a.codePointCount(0, a.length)
      }
      val body = spaceTrim(decode(Tag.matcher(line).replaceAll("")))
      val bodyCp = body.codePointCount(0, body.length)
      if (bodyCp >= MinLen && 2 * link < bodyCp) kept += body
      else dropped += 1
      li += 1
    }
    (kept.mkString("\n"), kept.size, dropped)
  }

  /** [[clean]] packaged for Catalyst. */
  def cleanRow(text: UTF8String): InternalRow = {
    val (c, k, d) = clean(text.toString)
    new GenericInternalRow(Array[Any](UTF8String.fromString(c), k, d))
  }

  /** One jusText block: cleaned body, codepoint length, anchor-text
    * codepoint length, whitespace-split words. */
  private[functions] final case class JxBlock(
      body: String, len: Int, link: Int, words: Array[String])

  /** The NON-EMPTY cleaned lines of a document as jusText blocks —
    * the same normalize/strip/decode/trim/link machinery as
    * [[clean]], with empty lines acting as paragraph separators
    * rather than blocks (see [[JustextKernel]]). */
  private[functions] def blocksOf(text0: String): Array[JxBlock] = {
    val text = text0.replace("\r\n", "\n").replace('\r', '\n')
    val noBlocks = Style.matcher(
      Script.matcher(text).replaceAll("")).replaceAll("")
    val lines = noBlocks.split("\n", -1)
    val out = new scala.collection.mutable.ArrayBuffer[JxBlock](lines.length)
    var li = 0
    while (li < lines.length) {
      val line = lines(li)
      var link = 0
      val m = Anchor.matcher(line)
      while (m.find()) {
        val a = decode(Tag.matcher(m.group(1)).replaceAll(""))
        link += a.codePointCount(0, a.length)
      }
      val body = spaceTrim(decode(Tag.matcher(line).replaceAll("")))
      if (body.nonEmpty) {
        val words = body.split("\\s+").filter(_.nonEmpty)
        out += JxBlock(body, body.codePointCount(0, body.length), link, words)
      }
      li += 1
    }
    out.toArray
  }
}

/** `boilerplate_clean(text)` → struct(clean, n_kept, n_dropped). */
case class BoilerplateClean(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BoilerplateKernel.schema
  override def prettyName: String = "boilerplate_clean"

  override protected def nullSafeEval(v: Any): Any =
    BoilerplateKernel.cleanRow(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = BoilerplateKernel.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $cls.cleanRow($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): BoilerplateClean =
    copy(child = newChild)
}

object Boilerplate {
  /** Column form of [[BoilerplateClean]]. */
  def clean(text: Column): Column =
    org.apache.spark.sql.GraftSqlShims.column(
      BoilerplateClean(org.apache.spark.sql.GraftSqlShims.expression(text)))

  /** C4's page-level containment gates (Raffel et al. 2020 §2.2): the
    * page contains neither `lorem ipsum` (case-insensitive) nor a
    * curly brace `{`. */
  def pageGate(text: Column): Column =
    !lower(text).contains("lorem ipsum") && !text.contains("{")

  /** The crawl rule clean: `textCol` rewritten to its t26 [[clean]]
    * article, then the [[pageGate]] on the rewritten text. Map-only;
    * the text never shuffles. */
  def ruleClean(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn(textCol, clean(col(textCol)).getField("clean"))
      .filter(pageGate(col(textCol)))

  /** Column form of [[JustextClean]]. */
  def justext(text: Column, cfg: JustextConfig): Column =
    org.apache.spark.sql.GraftSqlShims.column(
      JustextClean(org.apache.spark.sql.GraftSqlShims.expression(text), cfg))
}

/** jusText thresholds (Pomikálek 2011 defaults) as EXACT INTEGERS:
  * the two density gates are percents compared in cross-multiplied
  * integer space (`100·stop ≥ pct·words`, `100·link > pct·body`), so
  * no float density ever exists and the whole classifier replays in
  * DuckDB. `stopwords` is the caller's stoplist (jusText ships
  * per-language lists; the gate queries pass a corpus-matched list —
  * the t28 discipline of explicit, replayable artifacts), matched
  * case-insensitively. */
final case class JustextConfig(
    lengthLow: Int = 70,
    lengthHigh: Int = 200,
    stopLowPct: Int = 30,
    stopHighPct: Int = 32,
    maxLinkPct: Int = 20,
    stopwords: Seq[String] = Nil) {
  @transient lazy val stopSet: Set[String] =
    stopwords.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
}

/** jusText's CONTEXT-SENSITIVE block classification (Pomikálek 2011
  * §5.2; the published justext implementation's
  * `classify_paragraphs` + `revise_paragraph_classification`,
  * reimplemented from the description) — the upgrade over
  * [[BoilerplateKernel]]'s context-free line gates: blocks are first
  * classified alone (good / bad / short / near-good), then SHORT and
  * NEAR-GOOD blocks inherit from their neighbours, so a one-line
  * quote inside an article survives and an isolated stray line in a
  * nav column dies — the two errors a context-free rule must make.
  *
  * Blocks here are the NON-EMPTY cleaned lines of the document
  * (empty lines are paragraph separators, not blocks — the closest
  * line-level analogue of jusText's DOM paragraphs), sharing
  * [[BoilerplateKernel]]'s exact tag-strip/entity/trim/link
  * machinery. Context-free rules, in jusText's order:
  *
  *  1. `100·link > maxLinkPct·len` → bad (link density).
  *  2. `©` or `&copy` in the block → bad (copyright).
  *  3. `len < lengthLow`: any link chars → bad, else SHORT.
  *  4. else by stopword density (`100·stop` vs `pct·words`):
  *     ≥ high → good if `len > lengthHigh` else NEAR-GOOD;
  *     ≥ low → NEAR-GOOD; below → bad.
  *
  * (jusText's DOM-path `select` rule has no line-level analogue and
  * is omitted; its heading bonus needs `<h*>` structure the block
  * model does not carry — both documented, neither affects the four
  * core states.)
  *
  * Context passes, exactly the published two stages with `bad`
  * boundaries: SHORT blocks take good/bad from their nearest
  * non-short non-near-good neighbours (both good → good, both bad →
  * bad, mixed → good iff the bad side is reached THROUGH a near-good
  * block); then NEAR-GOOD blocks (over the revised classes) become
  * bad only between two bads. Every comparison is on class labels
  * derived from integer gates, so the full two-pass revision replays
  * in DuckDB with two window sweeps (t26b's oracle).
  *
  * Output: `(clean, n_good, n_bad, n_flipped)` — kept good-block
  * bodies joined with `\n`, final good/bad counts, and how many
  * blocks the CONTEXT passes rescued (final good, context-free not
  * good: the measured value of context over the per-line rule).
  * Shape: one codegen'd map-only pass per document, the
  * [[BoilerplateKernel]] discipline — text never shuffles. */
object JustextKernel {

  val schema: StructType = StructType(Seq(
    StructField("clean", StringType, nullable = false),
    StructField("n_good", IntegerType, nullable = false),
    StructField("n_bad", IntegerType, nullable = false),
    StructField("n_flipped", IntegerType, nullable = false)))

  // class labels as ints: the context rules only compare identities
  private final val Bad = 0
  private final val Good = 1
  private final val Short = 2
  private final val NearGood = 3

  def clean(text0: String, cfg: JustextConfig): (String, Int, Int, Int) = {
    val blocks = BoilerplateKernel.blocksOf(text0)
    val n = blocks.length
    val cf = new Array[Int](n)
    var bi = 0
    while (bi < n) {
      val b = blocks(bi)
      val nWords = b.words.length
      var stop = 0
      var wi = 0
      while (wi < nWords) {
        if (cfg.stopSet.contains(
          b.words(wi).toLowerCase(java.util.Locale.ROOT))) stop += 1
        wi += 1
      }
      cf(bi) =
        if (100L * b.link > cfg.maxLinkPct.toLong * b.len) Bad
        else if (b.body.contains('©') || b.body.contains("&copy")) Bad
        else if (b.len < cfg.lengthLow) { if (b.link > 0) Bad else Short }
        else if (100L * stop >= cfg.stopHighPct.toLong * nWords)
          { if (b.len > cfg.lengthHigh) Good else NearGood }
        else if (100L * stop >= cfg.stopLowPct.toLong * nWords) NearGood
        else Bad
      bi += 1
    }
    // pass 1: SHORT blocks — neighbours over the context-free classes
    def prevIn(i: Int, cls: Array[Int], skip: Int => Boolean): Int = {
      var j = i - 1
      while (j >= 0 && skip(cls(j))) j -= 1
      if (j < 0) Bad else cls(j)
    }
    def nextIn(i: Int, cls: Array[Int], skip: Int => Boolean): Int = {
      var j = i + 1
      while (j < n && skip(cls(j))) j += 1
      if (j >= n) Bad else cls(j)
    }
    val skipGB = (c: Int) => c == Short || c == NearGood // seek good/bad
    val skipS = (c: Int) => c == Short                   // may land near-good
    val cls1 = new Array[Int](n)
    bi = 0
    while (bi < n) {
      cls1(bi) =
        if (cf(bi) != Short) cf(bi)
        else {
          val p = prevIn(bi, cf, skipGB)
          val x = nextIn(bi, cf, skipGB)
          if (p == Good && x == Good) Good
          else if (p == Bad && x == Bad) Bad
          else if ((p == Bad && prevIn(bi, cf, skipS) == NearGood) ||
            (x == Bad && nextIn(bi, cf, skipS) == NearGood)) Good
          else Bad
        }
      bi += 1
    }
    // pass 2: NEAR-GOOD blocks — over the pass-1 classes (no shorts
    // remain, so seeking good/bad skips only near-good)
    val fin = new Array[Int](n)
    bi = 0
    while (bi < n) {
      fin(bi) =
        if (cls1(bi) != NearGood) cls1(bi)
        else if (prevIn(bi, cls1, skipGB) == Bad &&
          nextIn(bi, cls1, skipGB) == Bad) Bad
        else Good
      bi += 1
    }
    val kept = new scala.collection.mutable.ArrayBuffer[String](n)
    var nGood = 0
    var nBad = 0
    var flipped = 0
    bi = 0
    while (bi < n) {
      if (fin(bi) == Good) {
        kept += blocks(bi).body
        nGood += 1
        if (cf(bi) != Good) flipped += 1
      } else nBad += 1
      bi += 1
    }
    (kept.mkString("\n"), nGood, nBad, flipped)
  }

  def cleanRow(text: UTF8String, cfg: JustextConfig): InternalRow = {
    val (c, g, b, f) = clean(text.toString, cfg)
    new GenericInternalRow(Array[Any](UTF8String.fromString(c), g, b, f))
  }
}

/** `justext_clean(text)` → struct(clean, n_good, n_bad, n_flipped)
  * under a [[JustextConfig]] carried as an expression reference. */
case class JustextClean(child: Expression, cfg: JustextConfig)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = JustextKernel.schema
  override def prettyName: String = "justext_clean"

  override protected def nullSafeEval(v: Any): Any =
    JustextKernel.cleanRow(v.asInstanceOf[UTF8String], cfg)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = JustextKernel.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val cfgRef = ctx.addReferenceObj("justextCfg", cfg,
      classOf[JustextConfig].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $cls.cleanRow($v, $cfgRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): JustextClean =
    copy(child = newChild)
}
