package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BYTE-level BPE — the GPT-2 / tiktoken tokenizer convention
  * (Radford et al. 2019 §2.2; the openai/gpt-2 `encoder.py`
  * algorithm, reimplemented from the published description), as
  * opposed to [[Bpe]]'s subword-nmt WORD-level convention (Sennrich
  * et al. 2016). This is what modern training runs actually tokenize
  * with, and the convention differs in exactly two places:
  *
  *  1. '''Alphabet''': the base symbols are the 256 UTF-8 BYTES of
  *     the text, not its codepoints — so there is no UNK by
  *     construction (any byte sequence is encodable) and multi-byte
  *     codepoints can merge across "character" boundaries. Each byte
  *     is carried as one PRINTABLE unicode char via the reversible
  *     GPT-2 byte↔unicode table ([[byteToChar]]): printable latin
  *     bytes map to themselves, the other 68 shift to U+0100+n —
  *     e.g. space(0x20) → 'Ġ'(U+0120). The merge machinery is then
  *     IDENTICAL to the word-level kernel ([[BpeKernel.segment]] runs
  *     unchanged over the mapped chars), which is why the t21 oracle's
  *     recursive framed-replace replay gates this path too.
  *  2. '''Pre-tokenizer''': the GPT-2 regex ([[PreTokenPattern]])
  *     splits text into contraction / letter-run / digit-run /
  *     punctuation-run pre-tokens, each optionally carrying ONE
  *     leading space (which byte-maps to the 'Ġ' prefix); merges
  *     never cross pre-token boundaries. Runs of 2+ spaces stay
  *     their own pre-token except the last space, which attaches to
  *     the following word (the `\s+(?!\S)` lookahead).
  *
  * Round-trip contract: `decode(encode(s)) == s` for EVERY string —
  * byte mapping is a bijection and merges only concatenate
  * (ByteBpeSpec pins multi-byte UTF-8, emoji / CJK / combining
  * marks).
  *
  * Shape for scale (unchanged from [[Bpe]]): segmentation runs once
  * per DISTINCT pre-token (the tf/df sliver) as the same native
  * codegen'd kernel; counts join back through the (id, pre-token)
  * table; corpus text never shuffles. The byte mapping itself is
  * three codegen'd built-ins (`encode` → UTF-8 bytes, `decode`
  * ISO-8859-1 → one char per byte, `translate` → GPT-2 alphabet) —
  * no UDF anywhere.
  */
object ByteBpe {

  /** GPT-2 bytes↔unicode bijection: bytes in [33,126] ∪ [161,172] ∪
    * [174,255] map to their own codepoint; the remaining 68 bytes map
    * to U+0100+n in increasing byte order (0x00→U+0100 … 0x20→U+0120
    * 'Ġ' … 0xAD→U+0143). */
  val byteToChar: Array[Char] = {
    val out = new Array[Char](256)
    var n = 0
    var b = 0
    while (b < 256) {
      val printable = (b >= 33 && b <= 126) || (b >= 161 && b <= 172) ||
        (b >= 174 && b <= 255)
      if (printable) out(b) = b.toChar
      else { out(b) = (256 + n).toChar; n += 1 }
      b += 1
    }
    out
  }

  /** Inverse of [[byteToChar]]. */
  val charToByte: Map[Char, Int] =
    byteToChar.zipWithIndex.map { case (c, b) => c -> b }.toMap

  /** The GPT-2 pre-tokenizer regex (contractions, ` ?letters`,
    * ` ?digits`, ` ?punct`, trailing-safe whitespace). `(?U)` lifts
    * java.util.regex's ASCII-only `\s` to unicode whitespace —
    * Python-`re` parity, where the published pattern lives. */
  val PreTokenPattern: String =
    """(?U)'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"""

  @transient private lazy val prePattern =
    java.util.regex.Pattern.compile(PreTokenPattern)

  /** Default byte-level merges fixture (t21d): hand-authored rules in
    * the byte-unicode alphabet, priority order — the 'Ġ'-prefixed
    * entries are the hallmark of a real GPT-2 `merges.txt` (where
    * " t" is literally rank 0). Self-contained PUBLIC stand-in, same
    * role as [[Bpe.merges]]. */
  val merges: Seq[(String, String)] = Seq(
    "Ġ" -> "t", "Ġt" -> "a", "Ġta" -> "b",
    "t" -> "h", "th" -> "e", "Ġ" -> "s", "Ġs" -> "c",
    "Ġsc" -> "a", "a" -> "n", "Ġ" -> "a", "e" -> "r",
    "o" -> "r", "Ġa" -> "g", "r" -> "o", "Ġ" -> "w",
    "l" -> "e", "u" -> "e", "a" -> "l", "Ġs" -> "t",
    "v" -> "a", "q" -> "u", "qu" -> "er", "i" -> "g", "b" -> "ig",
    "Ġw" -> "in", "i" -> "n", "o" -> "w", "Ġ" -> "f",
    "Ġf" -> "il", "i" -> "l")

  /** SQL VALUES literal of [[merges]] for oracle construction ('Ġ'
    * spelled `chr(288)` so the SQL text stays ASCII). */
  def mergesSqlValues: String = merges.zipWithIndex
    .map { case ((a, b), i) =>
      def q(s: String) = s.map {
        case 'Ġ' => "' || chr(288) || '"
        case c => c.toString
      }.mkString("'", "", "'")
      s"($i,${q(a)},${q(b)})"
    }.mkString(", ")

  /** GPT-2 token-ID vocabulary (t21e — the `encoder.json` shape a
    * training run consumes): ids 0-255 are the byte-unicode base
    * alphabet IN BYTE ORDER, then one id per merge rank (256+rank).
    * A duplicate merged symbol (possible in a hand-authored rules
    * table; a real merges.txt has none) keeps its LOWEST id, so the
    * map is a function. */
  def idVocab(rules: Seq[(String, String)] = merges): Map[String, Int] = {
    val base = (0 until 256).map(b => byteToChar(b).toString -> b)
    val merged = rules.zipWithIndex
      .map { case ((a, b), i) => (a + b) -> (256 + i) }
    (base ++ merged).groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).min }
  }

  /** SQL VALUES literal of [[idVocab]] — `(id, sym)` rows; non-ASCII
    * and quote chars spelled `chr(n)` so the SQL text stays ASCII. */
  def idVocabSqlValues(rules: Seq[(String, String)] = merges): String =
    idVocab(rules).toSeq.sortBy(_._2).map { case (s, i) =>
      val q = s.map { c =>
        if (c == '\'') "''"
        else if (c >= 32 && c < 127) c.toString
        else s"' || chr(${c.toInt}) || '"
      }.mkString("'", "", "'")
      s"($i,$q)"
    }.mkString(", ")

  /** Scalar id encode — [[encode]] then the [[idVocab]] lookup. */
  def encodeIds(text: String,
                rules: Seq[(String, String)] = merges): Seq[Int] = {
    val v = idVocab(rules)
    encode(text, rules).map(v)
  }

  /** Inverse of [[encodeIds]]. A duplicate merged symbol in a
    * hand-authored rules table keeps its LOWEST id in [[idVocab]], so
    * the orphaned higher id has no inverse — [[encodeIds]] never
    * emits it, but a caller-supplied id stream might: fail with the
    * id named rather than a bare NoSuchElementException. */
  def decodeIds(ids: Seq[Int],
                rules: Seq[(String, String)] = merges): String = {
    val inv = idVocab(rules).map(_.swap)
    decode(ids.map { i =>
      inv.getOrElse(i, throw new IllegalArgumentException(
        s"token id $i has no symbol in this vocab (size ${256 + rules.size};" +
          " a duplicate merged symbol orphans its higher id)"))
    })
  }

  // ---------------------------------------------------------------
  // shipped-artifact I/O (round 18, t21f): GPT-2 distributes its
  // tokenizer as TWO files — `merges.txt` (rank-ordered pair lines
  // under a `#version` header) and `encoder.json` (symbol → id map).
  // A training pipeline consumes those artifacts, not an in-repo
  // literal table; these parse them into the [[merges]]/[[idVocab]]
  // shapes the whole byte-BPE family already runs on, with loud
  // failure on anything malformed (a silently mis-parsed rank
  // reorders every merge after it).

  /** The `merges.txt` text of a rules table — the shipped GPT-2
    * layout: version header, one `A B` pair line per rank. Symbols
    * are byte-unicode (never contain a raw space — space maps to
    * 'Ġ'), so the two-field split is lossless. */
  def mergesFileContent(rules: Seq[(String, String)] = merges): String =
    "#version: 0.2\n" +
      rules.map { case (a, b) => s"$a $b" }.mkString("", "\n", "\n")

  /** Parse a `merges.txt` into the rank-ordered rules table. Tolerant
    * of CRLF line endings and blank lines; ONLY the first line is
    * treated as the `#version` comment header (the HF tokenizers
    * convention) — '#' (byte 0x23) is itself a legal byte-unicode
    * symbol, so a later line like `# x` is a real rule for the pair
    * ("#","x") and skipping it would silently shift every subsequent
    * rank. LOUD, with the 1-based line number, on a data line that is
    * not exactly two non-empty space-separated fields. */
  def parseMergesFile(text: String): Seq[(String, String)] =
    text.split("\n", -1).iterator.zipWithIndex
      .map { case (l0, i) => (l0.stripSuffix("\r"), i + 1) }
      .filter { case (l, ln) => l.nonEmpty && !(ln == 1 && l.startsWith("#")) }
      .map { case (l, ln) =>
        val parts = l.split(" ", -1)
        require(parts.length == 2 && parts(0).nonEmpty && parts(1).nonEmpty,
          s"merges.txt line $ln: expected 'A B' (two space-separated " +
            s"symbols), got '${l.take(40)}'")
        (parts(0), parts(1))
      }.toSeq

  private def jsonEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c >= 32 && c < 127 => sb.append(c)
      case c => sb.append(f"\\u${c.toInt}%04x")
    }
    sb.toString
  }

  /** The `encoder.json` text of a vocab — id-ordered, ASCII-safe
    * (non-ASCII symbols as `\\u` escapes; the shipped file is plain
    * UTF-8, which [[parseEncoderJson]] reads equally). */
  def encoderJsonContent(rules: Seq[(String, String)] = merges): String =
    idVocab(rules).toSeq.sortBy(_._2)
      .map { case (s, i) => "\"" + jsonEscape(s) + "\": " + i }
      .mkString("{", ", ", "}")

  /** Parse an `encoder.json` symbol → id map (jackson — shipped with
    * Spark). Loud on non-object roots and non-integer ids. */
  def parseEncoderJson(text: String): Map[String, Int] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    require(node != null && node.isObject,
      "encoder.json: expected a JSON object of symbol -> id")
    val out = Map.newBuilder[String, Int]
    val it = node.fieldNames()
    while (it.hasNext) {
      val k = it.next()
      val v = node.get(k)
      require(v.isIntegralNumber && v.canConvertToInt,
        s"encoder.json: id for symbol '${k.take(20)}' is not an " +
          s"integer: ${v.asText().take(20)}")
      out += k -> v.intValue()
    }
    out.result()
  }

  /** Load BOTH shipped artifacts and cross-validate: the
    * `encoder.json` ids must be EXACTLY the convention the merges
    * table implies (256 byte-order base ids, then 256+rank per merge
    * — [[idVocab]]); any drift fails loudly naming the symbol and the
    * rank, because an id table inconsistent with the merge table
    * would emit well-formed-but-wrong id streams. Returns
    * `(rules, ids)` ready for [[encodeIdFingerprint]]. */
  def loadArtifacts(mergesText: String,
                    encoderText: String): (Seq[(String, String)], Map[String, Int]) =
    checkIds(parseMergesFile(mergesText), parseEncoderJson(encoderText), "encoder.json", "symbol")

  /** `(rules, enc)` if `enc` holds exactly [[idVocab]]`(rules)`;
    * otherwise fail naming the first drifted or unknown entry. `file`
    * names the id artifact and `noun` its entries in the messages. */
  private def checkIds(rules: Seq[(String, String)], enc: Map[String, Int], file: String,
                       noun: String): (Seq[(String, String)], Map[String, Int]) = {
    val expected = idVocab(rules)
    expected.foreach { case (sym, id) =>
      val got = enc.get(sym)
      require(got.contains(id),
        s"$file: symbol '$sym' has id ${got.fold("<absent>")(_.toString)}" +
          s", expected $id (${if (id < 256) s"base byte $id"
          else s"256 + merge rank ${id - 256}"})")
    }
    enc.keys.find(!expected.contains(_)).foreach { sym =>
      throw new IllegalArgumentException(
        s"$file: $noun '$sym' (id ${enc(sym)}) does not appear in " +
          "merges.txt — the artifacts disagree")
    }
    (rules, enc)
  }

  /** The `.tiktoken` text of a vocab — tiktoken's shipped format
    * (one `base64(token BYTES) rank` line per token, rank order):
    * the base64 payload is the RAW byte sequence the token stands
    * for (NOT the UTF-8 of its byte-unicode spelling — the
    * [[charToByte]] unmap applies first). */
  def tiktokenFileContent(rules: Seq[(String, String)] = merges): String =
    idVocab(rules).toSeq.sortBy(_._2).map { case (sym, id) =>
      val raw = new Array[Byte](sym.length)
      var i = 0
      while (i < sym.length) { raw(i) = charToByte(sym.charAt(i)).toByte; i += 1 }
      java.util.Base64.getEncoder.encodeToString(raw) + " " + id
    }.mkString("", "\n", "\n")

  /** Parse a `.tiktoken` file into the byte-unicode symbol → id map
    * (token bytes re-mapped through [[byteToChar]] so the result
    * plugs into the same id machinery). Loud, with the 1-based line
    * number, on malformed lines, bad base64, non-integer ranks and
    * duplicate ranks/tokens. */
  def parseTiktoken(text: String): Map[String, Int] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val seenIds = scala.collection.mutable.HashSet.empty[Int]
    text.split("\n", -1).iterator.zipWithIndex
      .map { case (l0, i) => (l0.stripSuffix("\r"), i + 1) }
      .filter { case (l, _) => l.nonEmpty }
      .foreach { case (l, ln) =>
        val parts = l.split(" ", -1)
        require(parts.length == 2 && parts(0).nonEmpty && parts(1).nonEmpty,
          s".tiktoken line $ln: expected 'base64 rank', got '${l.take(40)}'")
        val raw =
          try java.util.Base64.getDecoder.decode(parts(0))
          catch {
            case e: IllegalArgumentException => throw new IllegalArgumentException(
              s".tiktoken line $ln: bad base64 '${parts(0).take(30)}'", e)
          }
        require(parts(1).forall(_.isDigit) && parts(1).length <= 9,
          s".tiktoken line $ln: bad rank '${parts(1).take(20)}'")
        val id = parts(1).toInt
        val sb = new java.lang.StringBuilder(raw.length)
        raw.foreach(b => sb.append(byteToChar(b & 0xff)))
        val sym = sb.toString
        require(!out.contains(sym),
          s".tiktoken line $ln: duplicate token (id ${out(sym)} and $id)")
        require(seenIds.add(id), s".tiktoken line $ln: duplicate rank $id")
        out += sym -> id
      }
    out.toMap
  }

  /** [[loadArtifacts]] for the merges.txt + `.tiktoken` pairing —
    * HF-style distributions ship merges.txt, tiktoken-style ones the
    * base64 ranks; either id artifact must agree with the merge
    * table under the same 256+rank convention or fail loudly. */
  def loadTiktokenArtifacts(mergesText: String, tiktokenText: String)
  : (Seq[(String, String)], Map[String, Int]) =
    checkIds(parseMergesFile(mergesText), parseTiktoken(tiktokenText), ".tiktoken", "token")

  // ---------------------------------------------------------------
  // driver/test-side scalar path (the spec surface)

  /** GPT-2 pre-tokenization of one string. */
  def preTokenize(text: String): Seq[String] = {
    val m = prePattern.matcher(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toSeq
  }

  /** String → byte-unicode form (UTF-8 bytes, each as one char). */
  def toByteUnicode(s: String): String = {
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length)
    bytes.foreach(b => sb.append(byteToChar(b & 0xff)))
    sb.toString
  }

  /** Inverse of [[toByteUnicode]] — bytes back, decoded as UTF-8. */
  def fromByteUnicode(u: String): String = {
    val out = new Array[Byte](u.length)
    var i = 0
    while (i < u.length) {
      out(i) = charToByte(u.charAt(i)).toByte
      i += 1
    }
    new String(out, StandardCharsets.UTF_8)
  }

  /** Full GPT-2 encode: pre-tokenize → byte-map → merge loop per
    * pre-token. Returns the final subword symbols (byte-unicode
    * strings — a real deployment would join to a vocab for ids). */
  def encode(text: String,
             rules: Seq[(String, String)] = merges): Seq[String] = {
    val ranks = BpeKernel.rankMap(rules)
    preTokenize(text).flatMap { pt =>
      BpeKernel.segment(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          toByteUnicode(pt)), ranks).toSeq
    }
  }

  /** Inverse of [[encode]]: concatenate symbols, unmap, UTF-8
    * decode. Total — any encode output round-trips exactly. */
  def decode(tokens: Seq[String]): String = fromByteUnicode(tokens.mkString)

  // ---------------------------------------------------------------
  // Spark column path — builtins only, all codegen'd

  private val Latin1Alphabet: String = new String((0 until 256).map(_.toChar).toArray)
  private val ByteAlphabet: String = new String(byteToChar)

  // the scalar encode/decode above shadow the sql builtins — alias
  private def sqlEncode(c: Column, cs: String): Column =
    org.apache.spark.sql.functions.encode(c, cs)
  private def sqlDecode(c: Column, cs: String): Column =
    org.apache.spark.sql.functions.decode(c, cs)

  /** Column → its byte-unicode form: UTF-8 bytes → one ISO-8859-1
    * char per byte → `translate` into the GPT-2 alphabet. */
  def byteUnicodeCol(c: Column): Column =
    translate(sqlDecode(sqlEncode(c, "UTF-8"), "ISO-8859-1"),
      Latin1Alphabet, ByteAlphabet)

  /** Inverse of [[byteUnicodeCol]]. */
  def fromByteUnicodeCol(c: Column): Column =
    sqlDecode(sqlEncode(translate(c, ByteAlphabet, Latin1Alphabet),
      "ISO-8859-1"), "UTF-8")

  /** GPT-2 pre-tokens of a text column → array<string> (java regex —
    * the lookahead is fine here, unlike RE2). */
  def preTokens(c: Column): Column =
    regexp_extract_all(c, lit(PreTokenPattern), lit(0))

  /** Byte-level segmentation of one pre-token column →
    * array<string> of byte-unicode symbols (the [[Bpe.tokenize]]
    * kernel over the mapped chars — byte symbols ARE chars here). */
  def tokenizeBytes(preToken: Column,
                    rules: Seq[(String, String)] = merges): Column =
    Bpe.tokenize(byteUnicodeCol(preToken), rules)

  /** The byte alphabet: GPT-2 pre-tokens of byte-unicode symbols —
    * the [[Bpe.Alphabet]] every byte-level learn and encode plan
    * runs on. */
  private[graft] val Bytes =
    Bpe.Alphabet(preTokens, byteUnicodeCol, "n_pre_tokens")

  /** LEARN a byte-level merges table from the corpus — the training
    * side of the GPT-2 convention (t24e): [[Bpe.train]]'s exact
    * census → argmax → replace loop (bit-identical semantics, same
    * framing, same tie-break, same `batchMax` and `checkpointEvery`)
    * over the byte-unicode framed DISTINCT PRE-TOKEN vocabulary
    * instead of the whitespace-word one. Learned rules are
    * byte-unicode pairs — 'Ġ'-prefixed entries appear naturally (a
    * real GPT-2 merges.txt opens with "Ġ t"-shaped rules), and
    * [[encode]]/[[tokenizeBytes]] apply them directly. Same scale
    * shape as [[Bpe.train]]: one map-combined census exchange + one
    * TakeOrdered driver sliver per census over the vocab sliver.
    */
  def train(docs: DataFrame, textCol: String, rounds: Int,
            batchMax: Int = 1,
            checkpointEvery: Int = 64): Seq[Bpe.LearnedMerge] =
    Bpe.trainWithSizes(Bytes, docs, textCol, rounds, batchMax,
      checkpointEvery)._1

  /** [[train]] packaged as the t24e query form. */
  def trainDF(docs: DataFrame, textCol: String, rounds: Int,
              checkpointEvery: Int = 64): DataFrame =
    Bpe.rulesDF(docs, train(docs, textCol, rounds,
      checkpointEvery = checkpointEvery))

  /** Per-document byte-level BPE token counts over a corpus —
    * [[Bpe.tokenCount]]'s exact shape with the GPT-2 pre-tokenizer
    * and byte alphabet: segment once per DISTINCT pre-token, join
    * counts back through the (id, pre-token, tf) table. Returns
    * `(idCol, n_pre_tokens, n_bpe_tokens)`. */
  def tokenCount(docs: DataFrame, idCol: String, textCol: String,
                 rules: Seq[(String, String)] = merges): DataFrame =
    Bpe.countTokens(Bytes, docs, idCol, textCol, rules)

  /** Per-document byte-level BPE ENCODING over a corpus (t21d) —
    * [[Bpe.encodeFingerprint]]'s exact shape with the GPT-2
    * pre-tokenizer and byte alphabet: segment once per DISTINCT
    * pre-token, positional join-back, per-doc ordered piece stream
    * fingerprinted with md5. Byte-unicode pieces never contain a raw
    * space (space maps to 'Ġ'), so the space-joined fingerprint is
    * unambiguous. Returns
    * `(idCol, n_pre_tokens, n_bpe_tokens, stream_fp)`. */
  def encodeFingerprint(docs: DataFrame, idCol: String, textCol: String,
                        rules: Seq[(String, String)] = merges): DataFrame =
    Bpe.segmentOnce(Bytes, docs, idCol, textCol, rules,
      array_join(_, " "), Bpe.md5Stream, "stream_fp")

  /** Per-document token-ID stream over a corpus (t21e — the bridge
    * from [[encodeFingerprint]]'s symbol pieces to the integer ids a
    * training run consumes): the same segment-once-per-DISTINCT-
    * pre-token shape, with each piece mapped through the [[idVocab]]
    * rank join — here a ~(256+rank) literal map the executor holds,
    * `element_at` per piece (never a corpus-shaped join). A symbol
    * missing from the vocab is IMPOSSIBLE by construction
    * (segmentation only emits base chars and merge products); if it
    * ever happened the -1 sentinel fails the hash gate loudly rather
    * than `array_join` silently skipping a null. Returns
    * `(idCol, n_pre_tokens, n_bpe_tokens, id_stream_fp)` where the
    * fingerprint is md5 over the space-joined decimal id stream in
    * document order. */
  def encodeIdFingerprint(docs: DataFrame, idCol: String, textCol: String,
                          rules: Seq[(String, String)] = merges): DataFrame =
    encodeIdFingerprint(docs, idCol, textCol, rules, idVocab(rules))

  /** [[encodeIdFingerprint]] with an EXPLICIT id table — the shipped-
    * artifact path (t21f): `ids` comes from a parsed `encoder.json`
    * ([[loadArtifacts]] has already proven it consistent with
    * `rules`), so the query genuinely consumes the file's ids, not a
    * re-derivation. */
  def encodeIdFingerprint(docs: DataFrame, idCol: String, textCol: String,
                          rules: Seq[(String, String)],
                          ids: Map[String, Int]): DataFrame = {
    val idMap = typedlit(ids)
    Bpe.segmentOnce(Bytes, docs, idCol, textCol, rules,
      arr => array_join(transform(arr,
        x => coalesce(element_at(idMap, x), lit(-1)).cast("string")), " "),
      Bpe.md5Stream, "id_stream_fp")
  }

  /** The MATERIAL per-document token-id stream — where
    * [[encodeIdFingerprint]] reduces each document to an md5 for
    * hash-gating, this returns `(idCol, ids: array<int>)`, the actual
    * integer sequence a training-shard export writes
    * ([[graft.sources.MegatronSink]]). Same segment-once-per-
    * DISTINCT-pre-token plan, each pre-token's pieces mapped through
    * the id table and the per-document ordered id arrays flattened.
    * A symbol missing from `ids` is impossible by construction; if it
    * ever happened the `-1` sentinel trips the sink's range check
    * loudly rather than writing a wrapped id. */
  def encodeIdStream(docs: DataFrame, idCol: String, textCol: String,
                     rules: Seq[(String, String)] = merges): DataFrame =
    encodeIdStream(docs, idCol, textCol, rules, idVocab(rules))

  /** [[encodeIdStream]] with an EXPLICIT id table (the shipped-
    * artifact path — `ids` from a parsed `encoder.json` or
    * `.tiktoken` that [[loadArtifacts]] has already cross-validated
    * against `rules`). */
  def encodeIdStream(docs: DataFrame, idCol: String, textCol: String,
                     rules: Seq[(String, String)],
                     ids: Map[String, Int]): DataFrame = {
    val idMap = typedlit(ids)
    Bpe.segmentOnce(Bytes, docs, idCol, textCol, rules,
      transform(_, x => coalesce(element_at(idMap, x), lit(-1))),
      flatten, "ids")
      .select(col(idCol), col("ids"))
  }
}
