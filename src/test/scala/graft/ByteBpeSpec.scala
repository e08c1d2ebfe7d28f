package graft

import graft.functions.{Bpe, BpeKernel, ByteBpe}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** [[ByteBpe]] — the GPT-2 byte-level convention: byte↔unicode
  * bijection, the regex pre-tokenizer's documented edge cases, the
  * total-round-trip contract on multi-byte UTF-8 (judge r15 #2), and
  * column-path ≡ scalar-path parity.
  */
class ByteBpeSpec extends SparkSpec {

  test("byte<->unicode table is the GPT-2 bijection") {
    assert(ByteBpe.byteToChar.distinct.length == 256)
    assert(ByteBpe.byteToChar('a'.toInt) == 'a')     // printable: identity
    assert(ByteBpe.byteToChar('~'.toInt) == '~')
    assert(ByteBpe.byteToChar(0x20) == 'Ġ')     // space -> 'Ġ'
    assert(ByteBpe.byteToChar(0x00) == 'Ā')     // first shifted byte
    assert(ByteBpe.byteToChar(0x0a) == 'Ċ')     // '\n' -> 'Ċ'
    assert(ByteBpe.byteToChar(0xad) == 'Ń')     // last shifted byte
    (0 until 256).foreach { b =>
      assert(ByteBpe.charToByte(ByteBpe.byteToChar(b)) == b)
    }
  }

  test("toByteUnicode round-trips every byte sequence, incl. multi-byte UTF-8") {
    val cases = Seq(
      "hello world",
      "héllo wörld",                      // 2-byte codepoints
      "世界 こんにちは",                    // 3-byte CJK + space
      "mixed 😀 emoji 🎉🎊 end",            // 4-byte supplementary (surrogate pairs)
      "combining é mark",            // e + U+0301
      "tabs\tand\nnewlines\r\n",
      "")
    cases.foreach { s =>
      val u = ByteBpe.toByteUnicode(s)
      // every mapped char is printable-alphabet, no raw whitespace
      assert(!u.exists(_.isWhitespace), s"raw whitespace leaked: $s")
      assert(ByteBpe.fromByteUnicode(u) == s)
    }
    // multi-byte expansion: 😀 is 4 UTF-8 bytes -> 4 mapped chars
    assert(ByteBpe.toByteUnicode("😀").length == 4)
    assert(ByteBpe.toByteUnicode("é").length == 2)
  }

  test("GPT-2 pre-tokenizer golden cases") {
    assert(ByteBpe.preTokenize("Hello world") == Seq("Hello", " world"))
    assert(ByteBpe.preTokenize("don't stop") == Seq("don", "'t", " stop"))
    assert(ByteBpe.preTokenize("it's isn't") == Seq("it", "'s", " isn", "'t"))
    // a run of spaces keeps all but its LAST space; the last attaches
    // to the following word (the \s+(?!\S) lookahead)
    assert(ByteBpe.preTokenize("a   b") == Seq("a", "  ", " b"))
    assert(ByteBpe.preTokenize("  word") == Seq(" ", " word"))
    // trailing whitespace is its own token
    assert(ByteBpe.preTokenize("ab  ") == Seq("ab", "  "))
    // only a true SPACE attaches; a tab stays separate
    assert(ByteBpe.preTokenize("\tword") == Seq("\t", "word"))
    assert(ByteBpe.preTokenize("x  \tword") == Seq("x", "  ", "\t", "word"))
    // digits and punctuation split from letters, each taking one
    // optional leading space
    assert(ByteBpe.preTokenize("abc123!? x9") ==
      Seq("abc", "123", "!?", " x", "9"))
    assert(ByteBpe.preTokenize("a +2 (b)") ==
      Seq("a", " +", "2", " (", "b", ")"))
    // unicode: accented letters are \p{L}; emoji fall to the punct class
    assert(ByteBpe.preTokenize("héllo 😀!") == Seq("héllo", " 😀!"))
    assert(ByteBpe.preTokenize("") == Seq.empty)
  }

  test("decode(encode(s)) == s — total on multi-byte UTF-8") {
    val cases = Seq(
      "the table value scan",
      "Héllo, wörld! It's 42°C — naïve?",
      "日本語のテキスト and english",
      "emoji soup 😀🎉 ☃ ️ end",
      "é̂ stacked combining",
      "  leading, trailing  ",
      "tabs\tand\r\nnewlines")
    cases.foreach { s =>
      assert(ByteBpe.decode(ByteBpe.encode(s)) == s, s"round-trip: $s")
      // and with an empty merges table (pure byte alphabet)
      assert(ByteBpe.decode(ByteBpe.encode(s, Seq.empty)) == s)
    }
  }

  test("encode applies merges inside pre-tokens only, with 'Ġ' prefixes") {
    // "the table": pre-tokens "the" / " table" -> "the" / "Ġtable".
    // Fixture rules: (t,h)+(th,e) collapse "the"; (Ġ,t)+(Ġt,a)+(Ġta,b)
    // build "Ġtab"; nothing merges l+e before a+l... trace: "Ġtable"
    // symbols Ġ,t,a,b,l,e -> rank0 (Ġ,t) -> Ġt,a,b,l,e -> rank1
    // (Ġt,a) -> Ġta,b,l,e -> rank2 (Ġta,b) -> Ġtab,l,e -> rank15
    // (l,e) -> Ġtab,le.
    assert(ByteBpe.encode("the table") == Seq("the", "Ġtab", "le"))
    // merges never cross the pre-token boundary: the (t,h)(th,e)
    // chain cannot reach across "th" / " e", and no (Ġ,e) rule exists
    assert(ByteBpe.encode("th e") == Seq("th", "Ġ", "e"))
  }

  test("column path parity: byteUnicodeCol / fromByteUnicodeCol / tokenizeBytes") {
    import spark.implicits._
    val texts = Seq("the table value", "héllo wörld 😀", "世界 test",
      "don't stop", "x  \ty")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val gotU = df.select(col("id"), ByteBpe.byteUnicodeCol(col("text")).as("u"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(gotU(i.toLong) == ByteBpe.toByteUnicode(t), s"byteUnicodeCol: $t")
    }
    val rt = df.select(col("id"),
      ByteBpe.fromByteUnicodeCol(ByteBpe.byteUnicodeCol(col("text"))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) => assert(rt(i.toLong) == t) }
    // tokenizeBytes over a pre-token column == the scalar kernel
    val pts = Seq("the", " table", " value", " 😀")
    val ptDf = pts.toDF("pt")
    val gotSeg = ptDf.select(col("pt"), ByteBpe.tokenizeBytes(col("pt")).as("seg"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val ranks = BpeKernel.rankMap(ByteBpe.merges)
    pts.foreach { pt =>
      val want = BpeKernel.segment(
        UTF8String.fromString(ByteBpe.toByteUnicode(pt)), ranks).toSeq
      assert(gotSeg(pt) == want, s"tokenizeBytes: '$pt'")
    }
  }

  test("encodeFingerprint: counts match the scalar encode, fp pins the stream") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the table value scan"),
      (2L, "don't stop the stream"),
      (3L, "héllo wörld 😀")).toDF("doc_id", "text")
    val got = ByteBpe.encodeFingerprint(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    Seq((1L, "the table value scan"), (2L, "don't stop the stream"),
      (3L, "héllo wörld 😀")).foreach { case (id, t) =>
      val pre = ByteBpe.preTokenize(t)
      val enc = ByteBpe.encode(t)
      val (np, nb, fp) = got(id)
      assert(np == pre.length, s"n_pre_tokens doc $id")
      assert(nb == enc.length, s"n_bpe_tokens doc $id")
      // fingerprint = md5 of the space-joined piece stream
      val ranks = BpeKernel.rankMap(ByteBpe.merges)
      val stream = pre.map(pt => BpeKernel.segment(
        UTF8String.fromString(ByteBpe.toByteUnicode(pt)), ranks)
        .mkString(" ")).mkString(" ")
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(stream.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(fp == md, s"stream_fp doc $id")
    }
  }

  test("train: byte-level learning shares the word-level loop and learns 'Ġ' rules") {
    import spark.implicits._
    // one word per doc, ASCII, no spaces: GPT-2 pre-tokens == the
    // words and byte-unicode is the identity, so byte-level training
    // must equal word-level training EXACTLY (one shared loop)
    val solo = Seq.fill(4)("the").zipWithIndex ++
      Seq.fill(3)("tab").zipWithIndex ++ Seq.fill(2)("xy").zipWithIndex
    val soloDf = solo.zipWithIndex
      .map { case ((w, _), i) => (i.toLong, w) }.toDF("doc_id", "text")
    val wordRules = Bpe.train(soloDf, "text", rounds = 4)
    val byteRules = ByteBpe.train(soloDf, "text", rounds = 4)
    assert(byteRules.map(m => (m.a, m.b, m.count)) ==
      wordRules.map(m => (m.a, m.b, m.count)))
    // multi-word docs: the space marker enters the alphabet and
    // 'Ġ'-prefixed merges get learned (a real merges.txt's shape).
    // "the tq" ×4: pre-tokens "the"×4, "Ġtq"×4 -> round counts:
    // (t,h)=4 (h,e)=4 (Ġ,t)=4 (t,q)=4 -> lexicographic min is (Ġ,t)
    // ('Ġ' = U+0120 sorts after ascii... bytewise UTF-8 'Ġ' > 't').
    // Hand-check instead: ascii pairs sort before 'Ġ' ones, so round0
    // = (h,e)? order: (h,e) < (t,h) < (t,q) < (Ġ,t). Round 0 -> (h,e).
    val docs = (0L until 4L).map(i => (i, "the tq")).toDF("doc_id", "text")
    val rules = ByteBpe.train(docs, "text", rounds = 4)
    assert(rules.head.a == "h" && rules.head.b == "e" && rules.head.count == 4)
    assert(rules.exists(m => m.a.contains('Ġ') || m.b.contains('Ġ')),
      s"expected a 'Ġ'-prefixed learned rule, got ${rules.map(m => (m.a, m.b))}")
    // and the learned rules APPLY through the byte-level encoder
    val enc = ByteBpe.encode("the tq", rules.map(m => (m.a, m.b)))
    assert(ByteBpe.decode(enc) == "the tq")
    assert(enc.size < "Ġthe tq".length) // merges actually engaged
  }

  test("mergesSqlValues spells 'Ġ' as chr(288) and stays ASCII") {
    val sql = ByteBpe.mergesSqlValues
    assert(sql.forall(_ < 128), "oracle VALUES literal must be ASCII")
    assert(sql.contains("chr(288)"))
    assert(ByteBpe.merges.exists(_._1.contains('Ġ')))
  }

  test("idVocab: 256 base ids in byte order, 256+rank per merge, lowest id wins dups") {
    val v = ByteBpe.idVocab()
    // every base byte's symbol carries its own byte value as id
    (0 until 256).foreach { b =>
      assert(v(ByteBpe.byteToChar(b).toString) == b)
    }
    assert(v("Ġ") == 0x20) // space's byte-unicode image keeps id 32
    // merge products get 256+rank; the fixture's rank-0 product
    assert(v("Ġt") == 256)
    // ids are unique (the map is injective after min-dedup)
    assert(v.values.toSeq.distinct.size == v.size)
    // all ids in [0, 256 + |merges|)
    assert(v.values.forall(i => i >= 0 && i < 256 + ByteBpe.merges.size))
  }

  test("encodeIds golden + decodeIds round trip") {
    // "the tab" under the fixture merges: encode gives the symbol
    // pieces; ids must be exactly their vocab ranks, in order
    val text = "the tab"
    val pieces = ByteBpe.encode(text)
    val v = ByteBpe.idVocab()
    assert(ByteBpe.encodeIds(text) == pieces.map(v))
    // hand-derived: "the" = (t,h)@rk3 + (th,e)@rk4 -> one piece, id 260;
    // " tab" = (Ġ,t)@rk0 + (Ġt,a)@rk1 + (Ġta,b)@rk2 -> one piece, id 258
    assert(ByteBpe.encodeIds(text) == Seq(260, 258))
    assert(ByteBpe.decodeIds(ByteBpe.encodeIds(text)) == text)
    // multi-byte UTF-8: every byte falls back to its base id when no
    // merge applies — ids are the raw UTF-8 bytes
    val emoji = "😀"
    val ids = ByteBpe.encodeIds(emoji)
    assert(ids == emoji.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(_ & 0xff).toSeq)
    assert(ByteBpe.decodeIds(ids) == emoji)
  }

  test("encodeIdFingerprint: ids match the scalar encode per document") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the table was scanned"),
      (2L, "a quer ran over rows"),
      (3L, "big win for fil the")).toDF("doc_id", "text")
    val got = ByteBpe.encodeIdFingerprint(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    docs.collect().foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      val pre = ByteBpe.preTokenize(text)
      val ids = ByteBpe.encodeIds(text)
      val fp = java.security.MessageDigest.getInstance("MD5")
        .digest(ids.mkString(" ")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      assert(got(id) == ((pre.size.toLong, ids.size.toLong, fp)),
        s"doc $id mismatch")
    }
  }

  test("idVocabSqlValues stays ASCII and spells shifted bytes as chr(n)") {
    val sql = ByteBpe.idVocabSqlValues()
    assert(sql.forall(_ < 128))
    assert(sql.contains("(32,'' || chr(288) || '')")) // Ġ row
    assert(sql.contains("(97,a)") == false) // symbols are quoted
    assert(sql.contains("(97,'a')"))
  }

  // ------------------------------- shipped artifacts (round 18, t21f)

  test("merges.txt round trip: generated content parses back to the rules") {
    val txt = ByteBpe.mergesFileContent()
    assert(txt.startsWith("#version: 0.2\n"))
    assert(ByteBpe.parseMergesFile(txt) == ByteBpe.merges)
  }

  test("parseMergesFile tolerates CRLF and blank lines; loud on bad lines") {
    val messy = "#version: 0.2\r\n\r\nĠ t\r\nĠt a\n\nt h\r\n"
    assert(ByteBpe.parseMergesFile(messy) ==
      Seq("Ġ" -> "t", "Ġt" -> "a", "t" -> "h"))
    val e1 = intercept[IllegalArgumentException] {
      ByteBpe.parseMergesFile("Ġ t\nonefield\n")
    }
    assert(e1.getMessage.contains("line 2") &&
      e1.getMessage.contains("onefield"))
    val e2 = intercept[IllegalArgumentException] {
      ByteBpe.parseMergesFile("a b c\n") // three fields
    }
    assert(e2.getMessage.contains("line 1"))
  }

  test("only line 1 is a comment: '#' is a legal symbol, mid-file '# x' is a rule") {
    // the HF tokenizers convention — skipping every '#' line would
    // silently drop a ("#","x") rule and shift all later ranks
    assert(ByteBpe.parseMergesFile("#version: 0.2\nĠ t\n# x\nt h\n") ==
      Seq("Ġ" -> "t", "#" -> "x", "t" -> "h"))
    // a mid-file free-text note is now LOUD, not silently dropped
    val e = intercept[IllegalArgumentException] {
      ByteBpe.parseMergesFile("#version: 0.2\nĠ t\n# a mid-file note\n")
    }
    assert(e.getMessage.contains("line 3"))
    // round trip: a rules table whose left symbol is '#' keeps its rank
    val rules = Seq("Ġ" -> "t", "#" -> "x", "Ġt" -> "a")
    assert(ByteBpe.parseMergesFile(ByteBpe.mergesFileContent(rules)) == rules)
  }

  test("encoder.json round trip and id-consistency checks") {
    val (rules, ids) = ByteBpe.loadArtifacts(
      ByteBpe.mergesFileContent(), ByteBpe.encoderJsonContent())
    assert(rules == ByteBpe.merges)
    assert(ids == ByteBpe.idVocab())
    // the generated JSON is pure ASCII (\'Ġ\' as \\u0120) but parses
    // back to the unicode symbols
    assert(ByteBpe.encoderJsonContent().forall(_ < 128))
    assert(ids.contains("Ġt"))
    // a WRONG id fails loudly naming the symbol and expectation
    // ('Ġt' = merge rank 0 → id 256)
    val drifted = ByteBpe.encoderJsonContent()
      .replace("\"\\u0120t\": 256", "\"\\u0120t\": 999")
    assert(drifted != ByteBpe.encoderJsonContent()) // the edit engaged
    val e1 = intercept[IllegalArgumentException] {
      ByteBpe.loadArtifacts(ByteBpe.mergesFileContent(), drifted)
    }
    assert(e1.getMessage.contains("expected 256") &&
      e1.getMessage.contains("merge rank 0"))
    // an EXTRA symbol (present in encoder.json, absent from merges)
    val extra = ByteBpe.encoderJsonContent()
      .replaceFirst("\\{", "{\"zzGhost\": 4096, ")
    val e2 = intercept[IllegalArgumentException] {
      ByteBpe.loadArtifacts(ByteBpe.mergesFileContent(), extra)
    }
    assert(e2.getMessage.contains("zzGhost") &&
      e2.getMessage.contains("disagree"))
    // a MISSING symbol
    val missing = ByteBpe.encoderJsonContent()
      .replace("\"\\u0120t\": 256, ", "")
    val e3 = intercept[IllegalArgumentException] {
      ByteBpe.loadArtifacts(ByteBpe.mergesFileContent(), missing)
    }
    assert(e3.getMessage.contains("<absent>"))
    // malformed JSON / non-integer ids are loud
    intercept[Exception] { ByteBpe.parseEncoderJson("[1,2]") }
    intercept[IllegalArgumentException] {
      ByteBpe.parseEncoderJson("{\"a\": 1.5}")
    }
  }

  test("both id loaders name drifted, absent and unknown entries in the same words") {
    val mergesTxt = ByteBpe.mergesFileContent()
    def b64(t: String) = java.util.Base64.getEncoder.encodeToString(t.getBytes("UTF-8"))
    def msg(load: => Any): String = intercept[IllegalArgumentException](load).getMessage
    val json = ByteBpe.encoderJsonContent()
    val tik = ByteBpe.tiktokenFileContent()
    def viaJson(edit: String => String) = msg(ByteBpe.loadArtifacts(mergesTxt, edit(json)))
    def viaTik(edit: String => String) = msg(ByteBpe.loadTiktokenArtifacts(mergesTxt, edit(tik)))
    assert(viaJson(_.replace("\"a\": 97,", "\"a\": 98,")) ==
      "requirement failed: encoder.json: symbol 'a' has id 98, expected 97 (base byte 97)")
    assert(viaJson(_.replace("\"\\u0120t\": 256", "\"\\u0120t\": 999")) ==
      "requirement failed: encoder.json: symbol 'Ġt' has id 999, expected 256 (256 + merge rank 0)")
    assert(viaJson(_.replace("\"\\u0120t\": 256, ", "")) ==
      "requirement failed: encoder.json: symbol 'Ġt' has id <absent>, expected 256 (256 + merge rank 0)")
    assert(viaJson(_.replaceFirst("\\{", "{\"zzGhost\": 4096, ")) ==
      "encoder.json: symbol 'zzGhost' (id 4096) does not appear in merges.txt — the artifacts disagree")
    assert(viaTik(_.replace(b64("a") + " 97\n", b64("a") + " 9999\n")) ==
      "requirement failed: .tiktoken: symbol 'a' has id 9999, expected 97 (base byte 97)")
    assert(viaTik(_.replace(b64(" t") + " 256\n", b64(" t") + " 999\n")) ==
      "requirement failed: .tiktoken: symbol 'Ġt' has id 999, expected 256 (256 + merge rank 0)")
    assert(viaTik(_.replace(b64(" t") + " 256\n", "")) ==
      "requirement failed: .tiktoken: symbol 'Ġt' has id <absent>, expected 256 (256 + merge rank 0)")
    assert(viaTik(_ + b64("zzGhost") + " 99999\n") ==
      ".tiktoken: token 'zzGhost' (id 99999) does not appear in merges.txt — the artifacts disagree")
  }

  test("artifact-parsed tables drive the column path identically to literals") {
    import spark.implicits._
    val docs = Seq((1L, "the table was scanned"),
      (2L, "a quer ran over rows")).toDF("doc_id", "text")
    val (rules, ids) = ByteBpe.loadArtifacts(
      ByteBpe.mergesFileContent(), ByteBpe.encoderJsonContent())
    val viaFiles = ByteBpe.encodeIdFingerprint(docs, "doc_id", "text",
      rules, ids).collect().map(_.toSeq).toSet
    val viaLiteral = ByteBpe.encodeIdFingerprint(docs, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(viaFiles == viaLiteral)
  }

  test(".tiktoken round trip: base64 of RAW token bytes, ranks preserved") {
    val txt = ByteBpe.tiktokenFileContent()
    val ids = ByteBpe.parseTiktoken(txt)
    assert(ids == ByteBpe.idVocab())
    // the payload is the raw BYTES: 'Ġt' (space + t) encodes " t"
    assert(txt.contains(
      java.util.Base64.getEncoder.encodeToString(" t".getBytes) + " 256"))
    val (rules, ids2) = ByteBpe.loadTiktokenArtifacts(
      ByteBpe.mergesFileContent(), txt)
    assert(rules == ByteBpe.merges && ids2 == ids)
    // loud failures: bad base64, bad rank, duplicate token/rank,
    // drifted id, extra token
    val e1 = intercept[IllegalArgumentException] {
      ByteBpe.parseTiktoken("!!notbase64!! 7\n")
    }
    assert(e1.getMessage.contains("line 1"))
    intercept[IllegalArgumentException] {
      ByteBpe.parseTiktoken("YQ== notanumber\n")
    }
    val e2 = intercept[IllegalArgumentException] {
      ByteBpe.parseTiktoken("YQ== 1\nYQ== 2\n") // 'a' twice
    }
    assert(e2.getMessage.contains("duplicate token"))
    val e3 = intercept[IllegalArgumentException] {
      ByteBpe.parseTiktoken("YQ== 1\nYg== 1\n") // rank 1 twice
    }
    assert(e3.getMessage.contains("duplicate rank"))
    val drift = txt.replace(
      java.util.Base64.getEncoder.encodeToString(" t".getBytes) + " 256",
      java.util.Base64.getEncoder.encodeToString(" t".getBytes) + " 999")
    val e4 = intercept[IllegalArgumentException] {
      ByteBpe.loadTiktokenArtifacts(ByteBpe.mergesFileContent(), drift)
    }
    assert(e4.getMessage.contains("expected 256"))
  }

  test("trainBatched ≡ train at the byte level (interacting and disjoint rules)") {
    import spark.implicits._
    // both batch sizes against the plain-Scala Algorithm 1 over the
    // byte-unicode pre-token vocabulary (checkpointEvery = 6 crosses
    // several checkpoints), on a natural-text fixture and on the
    // word-level spec's interacting, tied-parent and pseudo-random
    // fixtures
    def check(texts: Seq[String], rounds: Int): Seq[Int] = {
      val ref = SennrichReference.learn(SennrichReference.byteVocab(texts), rounds)
      assert(ref.size == rounds, s"fixture dried up at ${ref.size} rounds")
      val sizes = Seq(1, 8).map { batchMax =>
        val (got, sizes) = Bpe.trainWithSizes(ByteBpe.Bytes,
          texts.toDF("text"), "text", rounds, batchMax, checkpointEvery = 6)
        assert(got.map(m => (m.rank, m.a, m.b, m.count)) ==
          ref.zipWithIndex.map { case ((a, b, c), r) => (r, a, b, c) },
          s"batchMax = $batchMax diverged from Algorithm 1")
        sizes
      }
      assert(sizes.head.forall(_ == 1))
      sizes.last
    }
    check(Seq(
      "the scan ran over the table the scan ran",
      "a big win for the quer over rows",
      "filter the rows filter the scan win win",
      "numbers 123 456 123 123 and 456 again"), 24)
    // the public entry point runs the same loop
    assert(ByteBpe.train(Seq("the tab the").toDF("text"), "text", 3,
      batchMax = 8, checkpointEvery = 6).map(m => (m.a, m.b, m.count)) ==
      SennrichReference.learn(SennrichReference.byteVocab(Seq("the tab the")), 3))
    assert(check(SennrichReference.interacting, 6).contains(1))
    assert(check(SennrichReference.tiedParent, 8).head == 2)
    assert(check(SennrichReference.pseudoRandom, 30).exists(_ > 1),
      "batching never engaged at the byte level")
    graft.Materialize.releaseAll()
  }

  test("decodeIds names an orphaned id instead of a bare lookup failure") {
    // rules with a DUPLICATE merged symbol: ranks 0 and 2 both form
    // 'Ġt' — idVocab keeps 256, so 258 is an orphan id
    val dup = Seq("Ġ" -> "t", "Ġt" -> "a", "Ġ" -> "t")
    val e = intercept[IllegalArgumentException] {
      ByteBpe.decodeIds(Seq(258), dup)
    }
    assert(e.getMessage.contains("258") && e.getMessage.contains("orphan"))
    // non-orphan ids still decode
    assert(ByteBpe.decodeIds(ByteBpe.encodeIds("the tab", dup), dup) ==
      "the tab")
  }
}
