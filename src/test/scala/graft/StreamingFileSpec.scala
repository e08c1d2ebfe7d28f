package graft

import graft.streaming.Streaming
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** File-source integration: a harvest store that GROWS on disk (new
  * part-files arriving) consumed as a stream — the incremental-monitor
  * story the batch engine's stores feed. Covers (1) a map-only scoring
  * stream file→file with checkpointed exactly-once across restarts,
  * and (2) a file-fed windowed aggregation matching its batch form.
  */
class StreamingFileSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-stream").toString

  /** The stages this thread's scope tracks and the RDDs the context
    * keeps persisted: a sink must leave both as it found them. */
  private def pinned(): (Int, Set[Int]) =
    (graft.Materialize.trackedCount, spark.sparkContext.getPersistentRDDs.keySet.toSet)

  test("file source -> transform -> parquet sink is exactly-once across restarts") {
    val in = tmp(); val out = tmp(); val ckpt = tmp()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def writeBatch(ids: Range): Unit =
      ids.map(i => (i.toLong, s"some text about topic $i with words"))
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in)

    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .select(col("doc_id"),
          graft.functions.TextFns.tokenCount(col("text")).as("n_words"))
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable()
      q.stop()
    }

    writeBatch(0 until 40)
    runOnce()
    writeBatch(40 until 70) // arrives while the stream is DOWN
    runOnce() // restart from the checkpoint — must pick up only the delta
    val rows = spark.read.parquet(out)
    assert(rows.count() == 70) // no loss
    assert(rows.select("doc_id").distinct().count() == 70) // no dupes
    assert(rows.filter(col("n_words") =!= 7).count() == 0)
  }

  test("cleanStream: streamed quality+redact+dedup+sample ≡ the batch stages") {
    val in = tmp(); val out = tmp(); val ckpt = tmp()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, ts TIMESTAMP, lang STRING, text STRING")
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val filler = "about the data and the words that are of fine quality in this calm prose that passes the length gate"
    val rows = Seq(
      (1L, "en", "the data is good and the words are of fine quality here today friend and more of the same calm prose to pass the length gate"),
      (2L, "en", "x!!! ??? ###"), // low quality -> gated
      (3L, "en", s"mail me at a.b@example.com $filler"),
      (4L, "en", s"mail me at z.q@other.org $filler"),
      (5L, "en", "the data is good and the words are of fine quality here today friend and more of the same calm prose to pass the length gate"), // dup of 1
      // unique de docs: the rate-0.5 hash coin bites here (ids decide)
      (6L, "de", s"unique first german-bucket doc $filler"),
      (7L, "de", s"unique second german-bucket doc $filler"),
      (8L, "de", s"unique third german-bucket doc $filler"),
      (9L, "xx", s"unconfigured language doc $filler") // no rate -> dropped
    ).map { case (id, lang, t) => (id, base, lang, t) }
    rows.toDF("doc_id", "ts", "lang", "text")
      .coalesce(1).write.mode("append").parquet(in)
    val rates = Map("en" -> 1.0, "de" -> 0.5)
    val q = Streaming.cleanStream(
      spark.readStream.schema(schema).parquet(in),
      "ts", "text", minQuality = 0.5, watermark = "1 hour",
      idCol = "doc_id", keyCol = "lang", rates = rates, salt = "clean")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(out).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!got.contains(2L), "low-quality doc must be gated")
    // 1|5 are exact dups; 3|4 differ ONLY in the email address, so
    // after redaction they too are identical — dedup-after-redact is
    // the point (PII-only variants of one doc collapse)
    assert(got.keySet.intersect(Set(1L, 5L)).size == 1, "exact dup must drop")
    assert(got.keySet.intersect(Set(3L, 4L)).size == 1,
      "PII-only variants must collapse after redaction")
    assert(got.values.forall(!_.contains("@")), "emails must be redacted")
    assert(got.values.exists(_.contains("<EMAIL>")))
    assert(!got.contains(9L), "unconfigured-language doc must be dropped")
    // the de coin is a pure function of (salt, id): stream survivors
    // must be exactly the hash-selected subset
    val deKept = Seq(6L, 7L, 8L).filter { id =>
      spark.range(1).select(graft.functions.Mixture
        .hashFraction(lit(id), "clean").as("f")).head().getDouble(0) < 0.5
    }.toSet
    assert(got.keySet.filter(_ >= 6L) == deKept,
      s"de survivors ${got.keySet.filter(_ >= 6L)} != hash-selected $deKept")
    // batch parity: the same four stages composed in batch mode give
    // the same survivor TEXT set (dedup picks one of each text class)
    val batch = graft.functions.Mixture.sampleByRate(
      rows.toDF("doc_id", "ts", "lang", "text")
        .withColumn("quality", graft.functions.TextFns.qualityScore(
          col("text"), graft.functions.TextFns.langMarkers("en")))
        .filter(col("quality") >= 0.5)
        .withColumn("text", graft.functions.TextFns.redactPii(col("text")))
        .dropDuplicates("text"),
      "doc_id", "lang", rates, "clean")
      .select("text").as[String].collect().toSet
    assert(got.values.toSet == batch, "stream and batch stages disagree")
  }

  test("temperature-mixture stream ≡ batch cp2 on the same files") {
    val in = tmp(); val out = tmp(); val ckpt = tmp()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, lang STRING, text STRING")
    def writeDocs(ids: Range): Unit =
      ids.map { i =>
        val lang = Seq("en", "de", "fr")(i % 3)
        // token counts vary by id so the per-lang totals are uneven
        (i.toLong, lang, ("tok " * (5 + i % 7)).trim)
      }.toDF("doc_id", "lang", "text")
        .coalesce(1).write.mode("append").parquet(in)

    writeDocs(0 until 60)
    // offline rate fit: the cp2 batch profile -> temperature rates,
    // FROZEN by collecting to a literal table — the artifact contract
    // (a lazy plan over the growing input dir would silently re-fit on
    // every restart; rates are a model artifact, not a live view)
    val docs0 = spark.read.parquet(in)
    val prof = docs0.select(col("lang"),
      graft.functions.TextFns.tokenCount(col("text")).cast("long").as("nt"))
      .groupBy("lang").agg(sum("nt").as("total_tokens"))
    val rateRows = graft.functions.Mixture.temperatureRates(
      prof, Seq("lang"), "total_tokens", alpha = 0.5, targetFraction = 0.4)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(rateRows.size == 3)
    val rates = rateRows.toDF("lang", "rate")

    def runOnce(): Unit = {
      val q = Streaming.temperatureMixtureStream(
        spark.readStream.schema(schema).parquet(in),
        "doc_id", "lang", rates, salt = "cp2s")
        .select("doc_id", "lang", "rate")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    writeDocs(60 until 90) // corpus grows while the stream is down
    runOnce()              // restart: exactly-once over the delta

    val streamed = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    // batch cp2 over the SAME files with the SAME frozen rates
    val batch = graft.functions.Mixture.sampleByRates(
      spark.read.parquet(in), "doc_id", Seq("lang"), rates, "cp2s")
      .select("doc_id", "lang", "rate").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(streamed == batch, "streamed mixture diverged from batch cp2")
    assert(streamed.nonEmpty && streamed.size < 90) // the coin actually bit
  }

  test("paragraph-dedup stream keeps one copy per content ≡ batch kept set") {
    val in = tmp(); val out = tmp(); val ckpt = tmp()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, ord BIGINT, ts TIMESTAMP, t STRING")
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val batch1 = Seq(
      (1L, 0L, "shared boilerplate"), (1L, 1L, "unique a"),
      (2L, 0L, "shared boilerplate"), (2L, 1L, "unique b"))
    val batch2 = Seq( // arrives later: cross-batch dups within horizon
      (3L, 0L, "shared boilerplate"), (3L, 1L, "unique c"),
      (4L, 0L, "unique b"))
    def write(rows: Seq[(Long, Long, String)]): Unit =
      rows.map { case (d, o, t) => (d, o, base, t) }
        .toDF("doc_id", "ord", "ts", "t")
        .coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = {
      val q = Streaming.dedupParagraphStream(
        spark.readStream.schema(schema).parquet(in), "ts", "t")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable(); q.stop()
    }
    write(batch1); runOnce()
    write(batch2); runOnce() // restart: state survives the checkpoint
    val kept = spark.read.parquet(out).select("t").collect()
      .map(_.getString(0)).toSeq
    // exactly one copy per distinct content, even across batches and
    // a restart (dedup state rides the checkpoint)
    assert(kept.sorted == kept.distinct.sorted, s"stream kept dups: $kept")
    // the kept CONTENT SET equals the batch pass's (keeper identity
    // legitimately differs: arrival order vs (doc, position) order)
    val batchKept = graft.functions.TextFns.dedupParagraphs(
      (batch1 ++ batch2).toDF("doc_id", "ord", "t"), "doc_id", "ord", "t")
      .filter(col("keep")).count()
    assert(kept.size.toLong == batchKept)
    assert(kept.toSet == (batch1 ++ batch2).map(_._3).toSet)
  }

  test("incremental-dedup stream ≡ batch d11 over the same files, across restart") {
    import graft.dedup.{Dedup, DedupSnapshot}
    val in = tmp(); val ckpt = tmp()
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang")
    // batch reference: the d11 from-scratch pipeline over ALL docs
    val exact = Dedup.exactSurvivors(docs, "doc_id", "text")
    val drops = Dedup.nearDupDrops(
      Dedup.minHashCandidates(exact, "doc_id", "text",
        n = 3, bands = 16, rows = 4, threshold = 0.8))
    val allSurv = exact.join(drops.select(col("drop_id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // store = harvested first 200 ids; the stream ingests the rest in
    // two crawl files, with a stream RESTART between them
    val snap = new DedupSnapshot(spark, "graft_spec_stream", nBuckets = 4)
    snap.writeCorpus(docs.filter(col("doc_id") < 200), "doc_id", "text",
      keepCols = Seq("lang"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING")
    def runOnce(): Unit = {
      val before = pinned()
      val q = Streaming.incrementalDedupSink(
        spark.readStream.schema(schema).parquet(in),
        snap, "doc_id", "text", Seq("lang"), ckpt)
      q.processAllAvailable()
      q.stop()
      assert(pinned() == before, "each batch's scope must drain when the batch ends")
    }
    docs.filter(col("doc_id") >= 200 && col("doc_id") < 350)
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    docs.filter(col("doc_id") >= 350)
      .coalesce(1).write.mode("append").parquet(in) // arrives while DOWN
    runOnce() // restart from checkpoint
    val stored = snap.corpus().select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(stored == allSurv, "streamed corpus must equal batch d11 over the union")
    assert(snap.corpus().count() == stored.size) // exactly-once: no dup rows
  }

  test("sketch-ingest stream ≡ batch d14 over the same files, across restart") {
    import graft.dedup.{Dedup, SketchStore}
    val in = tmp(); val ckpt = tmp(); val out = tmp()
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text")
    val store = docs.filter(col("doc_id") < 200)
    val delta = docs.filter(col("doc_id") >= 200)
    // batch reference: d14 over the WHOLE delta against the store
    // artifacts (pairs canonicalized least/greatest, so a cross-batch
    // d1-d2 pair and its batch-reference twin compare equal)
    val sk = graft.Materialize.reuse(
      Dedup.bottomKSketches(store, "doc_id", "text", n = 3, k = 32))
    val want = Dedup.containmentSketchDelta(sk, Dedup.bandedSketchIndex(sk),
        delta, "doc_id", "text", n = 3, k = 32, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ss = new SketchStore(spark, "graft_spec_sketch", nBuckets = 4)
    ss.build(store, "doc_id", "text")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def runOnce(): Unit = {
      val before = pinned()
      val q = Streaming.sketchIngestSink(
        spark.readStream.schema(schema).parquet(in),
        ss, "doc_id", "text", out, ckpt)
      q.processAllAvailable()
      q.stop()
      assert(pinned() == before, "each batch's scope must drain when the batch ends")
    }
    docs.filter(col("doc_id") >= 200 && col("doc_id") < 350)
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    docs.filter(col("doc_id") >= 350)
      .coalesce(1).write.mode("append").parquet(in) // arrives while DOWN
    runOnce() // restart from checkpoint picks up only the delta
    val got = spark.read.parquet(out).select("id_a", "id_b", "c_est")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want && want.nonEmpty,
      s"streamed pairs (${got.size}) must equal batch d14 (${want.size})")
    // artifacts advanced exactly-once: one sketch row per ingested doc
    val nSk = ss.sketches().count()
    assert(nSk == ss.sketches().select("id").distinct().count())
  }

  test("classifier-score stream ≡ batch scoreWith on the same files, across restart") {
    import graft.functions.QualityClassifier
    val in = tmp(); val out = tmp(); val ckpt = tmp()
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "source")
    // train ONCE offline (the production shape); the stream only scores
    val (w, batchScored) = QualityClassifier.fitScore(docs, "doc_id", "text",
      col("source").isin("src0", "src1", "src2"), dim = 32, iters = 2)
    val expected = batchScored.select("doc_id", "score_micro")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def runOnce(): Unit = {
      val q = Streaming.classifierScoreSink(
        spark.readStream.schema(schema).parquet(in),
        "doc_id", "text", w, dim = 32, salt = "t20", out, ckpt)
      q.processAllAvailable()
      q.stop()
    }
    docs.filter(col("doc_id") < 250).select("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    docs.filter(col("doc_id") >= 250).select("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in) // arrives while DOWN
    runOnce() // restart from checkpoint picks up only the delta
    val streamed = spark.read.parquet(out + "/batch=*")
      .select("doc_id", "score_micro")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.size == expected.size, "every doc scored exactly once")
    assert(streamed == expected,
      "streamed scores must be bit-identical to the batch kernel")
  }

  // count tables built ONCE offline (the KenLM artifact shape); the stream
  // only scores, and a restart from checkpoint picks up only the delta
  private def lmStreamMatchesBatch(order: Int, nCol: String,
                                   scoreCol: String): Unit = {
    import graft.functions.TextFns
    val in = tmp(); val out = tmp(); val ckpt = tmp()
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "source")
    val counts = TextFns.sbCounts(docs, "text",
      col("source").isin("src0", "src1", "src2"), order)
    val expected = TextFns.sbScoreWith(docs, "doc_id", "text", counts)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def runOnce(): Unit = {
      val q = Streaming.lmScoreSink(
        spark.readStream.schema(schema).parquet(in),
        "doc_id", "text", counts, out, ckpt)
      q.processAllAvailable()
      q.stop()
    }
    docs.filter(col("doc_id") < 250).select("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    docs.filter(col("doc_id") >= 250).select("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in) // arrives while DOWN
    runOnce() // restart from checkpoint picks up only the delta
    val streamed = spark.read.parquet(out + "/batch=*")
      .select("doc_id", nCol, scoreCol)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(streamed.size == expected.size,
      s"order $order: every doc scored exactly once")
    assert(streamed == expected,
      s"order $order: streamed LM scores must be bit-identical to the batch kernel")
  }

  test("LM-score stream ≡ batch sbScoreWith under frozen counts, across restart") {
    lmStreamMatchesBatch(3, "n_trigrams", "sb3_score")
  }

  // order-5 counts through the same sbScoreWith / lmScoreSink pair
  test("5-gram LM-score stream ≡ batch sb5ScoreWith under frozen counts, " +
       "across restart") {
    lmStreamMatchesBatch(5, "n_5grams", "sb5_score")
  }

  test("langID stream ≡ batch predictWith under a frozen profile artifact, across restart") {
    import graft.functions.LangIdNgram
    val in = tmp(); val out = tmp(); val ckpt = tmp(); val art = tmp()
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    // profiles trained ONCE offline and persisted — the stream only
    // scores under the frozen (lang, gram, rank) artifact
    LangIdNgram.profiles(docs, "lang", "text",
      col("source").isin("src0", "src1", "src2", "src3", "src4"))
      .write.mode("overwrite").parquet(art + "/langid_profiles")
    val frozen = spark.read.parquet(art + "/langid_profiles")
    val expected = LangIdNgram.predictWith(docs, "doc_id", "text", frozen)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    def runOnce(): Unit = {
      val q = Streaming.langIdScoreSink(
        spark.readStream.schema(schema).parquet(in),
        "doc_id", "text", frozen, out, ckpt)
      q.processAllAvailable()
      q.stop()
    }
    docs.filter(col("doc_id") < 250).select("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    docs.filter(col("doc_id") >= 250).select("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in) // arrives while DOWN
    runOnce() // restart from checkpoint picks up only the delta
    val streamed = spark.read.parquet(out + "/batch=*")
      .select("doc_id", "lang_pred")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed.size == expected.size, "every doc classified exactly once")
    assert(streamed == expected,
      "streamed predictions must be identical to the batch kernel")
  }

  test("ANN-ingest stream ≡ batch append across restart; tombstones honored mid-stream") {
    import graft.similarity.Similarity
    import Similarity.PersistedIndex
    val in = tmp(); val ckpt = tmp()
    val emb = spark.read.parquet(sf() + "/embeddings.parquet")
      .select("vec_id", "embedding")
    val rootS = tmp() + "/idx"; val rootB = tmp() + "/idx"
    PersistedIndex.build(emb.filter(col("vec_id") < 300), "vec_id",
      "embedding", rootS, kLists = 4, m = 4, kCodes = 8)
    // batch twin = a byte copy of the built index: identical
    // quantizers, so append-encoding parity is exact by construction
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(rootS), new java.io.File(rootB))
    // takedown BEFORE the stream: id 7 is frozen until refit
    PersistedIndex.delete(Seq(7L).toDF("vec_id"), "vec_id", rootS)
    PersistedIndex.delete(Seq(7L).toDF("vec_id"), "vec_id", rootB)
    def runOnce(): Unit = {
      val q = Streaming.annIngestSink(
        spark.readStream.schema(emb.schema).parquet(in),
        "vec_id", "embedding", rootS, ckpt)
      q.processAllAvailable(); q.stop()
    }
    // crawl file 1 RE-CRAWLS the tombstoned id 7 — it must be skipped
    // (not resurrected, not a query-killer), WARN-logged by the sink
    emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
      .union(emb.filter(col("vec_id") === 7L))
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    emb.filter(col("vec_id") >= 400)
      .coalesce(1).write.mode("append").parquet(in) // arrives while DOWN
    runOnce() // restart from checkpoint
    // batch reference: ONE append of the union (append idempotence
    // makes any split equivalent), same skip policy
    val rb = PersistedIndex.append(
      emb.filter(col("vec_id") >= 300).union(emb.filter(col("vec_id") === 7L)),
      "vec_id", "embedding", rootB, skipTombstoned = true)
    assert(rb.nSkippedTombstoned == 1L)
    val liveS = PersistedIndex.liveCorpus(spark, rootS, "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val liveB = PersistedIndex.liveCorpus(spark, rootB, "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(liveS == liveB, "streamed index must equal the batch append")
    assert(!liveS.contains(7L) && liveS.size == 499)
    // the drift counter advanced ACROSS the streamed batches: a no-op
    // re-append (all ids already stored) reads it back = 200/300
    val r = PersistedIndex.append(emb.filter(col("vec_id") === 400L),
      "vec_id", "embedding", rootS)
    assert(math.abs(r.drift - 200.0 / 300.0) < 1e-12, s"drift ${r.drift}")
    // query parity on probes off base, streamed, and deleted vectors
    val probes = emb.filter(col("vec_id").isin(310L, 420L, 7L))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (1000L + r.getLong(0),
        r.getSeq[Double](1).map(_ + 0.001): Seq[Double])).toSeq
    def top1(root: String): Map[Long, Long] = {
      val h = PersistedIndex.load(spark, root)
      Similarity.ivfAdcQueryBatch(h.ivf, h.pq,
        PersistedIndex.liveCorpus(spark, root, "vec_id"),
        "vec_id", "embedding", probes, kOut = 1, nprobe = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val (tS, tB) = (top1(rootS), top1(rootB))
    assert(tS == tB, s"stream $tS != batch $tB")
    // streamed rows are searchable (the table carries planted
    // near-dups, so the winner may be a legitimate near-neighbor of
    // the source — membership in the live corpus is the contract)
    assert(Seq(1310L, 1420L).forall(q => liveS.contains(tS(q))), s"$tS")
    assert(tS(1007L) != 7L) // the takedown stays invisible mid-stream
  }

  test("growing file source feeds the windowed aggregate incrementally") {
    val in = tmp()
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    def writeEvents(part: Int, n: Int): Unit =
      (0 until n).map { i =>
        (new java.sql.Timestamp(base + (part * n + i) * 60000L),
          s"k${i % 2}", i.toDouble)
      }.toDF("ts", "key", "value")
        .coalesce(1).write.mode("append").parquet(in)

    writeEvents(0, 30)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "ts TIMESTAMP, key STRING, value DOUBLE")
    val stream = spark.readStream.schema(schema).parquet(in)
    val q = Streaming.tumblingStats(stream, "ts", "key", "value", "1 hour")
      .writeStream.format("memory").queryName("file_win")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val afterFirst = spark.sql("SELECT sum(n) FROM file_win").collect()(0).getLong(0)
      assert(afterFirst == 30)
      writeEvents(1, 30) // store grows; stream stays up
      q.processAllAvailable()
      val total = spark.sql("SELECT sum(n) FROM file_win").collect()(0).getLong(0)
      assert(total == 60)
      // streaming result == batch recomputation over the same files
      val batch = Streaming.tumblingStats(
        spark.read.parquet(in), "ts", "key", "value", "1 hour")
        .agg(sum("n")).collect()(0).getLong(0)
      assert(total == batch)
    } finally q.stop()
  }

  test("wet-clean stream ≡ batch Wet.read + rule clean, across restart") {
    import graft.sources.{Wet, WetSink}
    val in = tmp(); val out = tmp(); val ckpt = tmp()
    val goodLines = (1 to 6).map(i =>
      s"this is fine sentence number $i about data quality and structure.")
    def page(extra: String*): String = (goodLines ++ extra).mkString("\n")
    def mkWet(docs: Seq[(String, String)], name: String): Unit = {
      val stage = tmp()
      WetSink.write(docs.toDF("uri", "text"), stage, "uri", "text",
        numFiles = 1)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(stage, "part-00000.warc.wet.gz"),
        java.nio.file.Paths.get(in, name))
    }
    mkWet(Seq(
      ("http://x.test/good1", page()),
      ("http://x.test/lorem", page("and then Lorem Ipsum dolor sit amet.")),
      ("http://x.test/chrome", goodLines.take(3).mkString("\n") +
        "\n<script>var x = 1;</script>\n<a href=\"/n\">nav nav nav nav nav</a>")),
      "crawl-0001.warc.wet.gz")
    def runOnce(): Unit = {
      val q = Streaming.wetCleanStream(
        spark.readStream.format("binaryFile")
          .schema(graft.streaming.Streaming.BinaryFileSchema)
          .option("pathGlobFilter", "*.warc.wet.gz").load(in))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    mkWet(Seq(                      // arrives while the stream is DOWN
      ("http://x.test/good2", page("one more closing sentence for the second file.")),
      ("http://x.test/short", "too short.")),
      "crawl-0002.warc.wet.gz")
    runOnce()                       // restart from checkpoint
    val got = spark.read.parquet(out).select("target_uri", "text")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // batch reference: the same parse + the same stateless chain
    val want = Streaming.ruleCleanStream(
      Wet.read(spark, in)
        .filter(col("warc_type") === "conversion")
        .select("target_uri", "text"), "text")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want, s"stream (${got.size}) must equal batch (${want.size})")
    assert(got.map(_._1) == Set("http://x.test/good1", "http://x.test/good2"),
      "page gates: lorem/chrome/short pages dropped, good pages kept")
  }

  test("warc-clean stream ≡ batch readResponses + rule clean, across restart") {
    import graft.sources.{Wet, WetSink}
    val in = tmp(); val out = tmp(); val ckpt = tmp()
    val goodLines = (1 to 6).map(i =>
      s"this is fine sentence number $i about data quality and structure.")
    def page(extra: String*): String = (goodLines ++ extra).mkString("\n")
    def html(body: String): String =
      s"<html><body>\n$body\n<nav><a href=\"/\">Home</a> nav</nav>\n</body></html>"
    val htmlCt = "text/html; charset=UTF-8"
    // rows carry (uri, status, ctype, body, chunked, enc) — the round-18
    // coded shapes (gzip, gzip-under-chunked) ride the SAME stream
    def mkWarc(docs: Seq[(String, Int, String, String, Boolean, String)],
               name: String): Unit = {
      val stage = tmp()
      WetSink.writeResponses(
        docs.toDF("uri", "status", "ctype", "body", "chunked", "enc"),
        stage, "uri", "status", "ctype", "body", numFiles = 1,
        chunkedCol = "chunked", chunkSize = 33, encodingCol = "enc")
      java.nio.file.Files.move(
        java.nio.file.Paths.get(stage, "part-00000.warc.gz"),
        java.nio.file.Paths.get(in, name))
    }
    mkWarc(Seq(
      ("http://x.test/good1", 200, htmlCt, html(page()), false, "gzip"),
      ("http://x.test/miss", 404, htmlCt,
        "<html><body>page not found</body></html>", false, ""),
      ("http://x.test/redir", 301, "", "", false, ""),
      ("http://x.test/lorem", 200, htmlCt,
        html(page("and then Lorem Ipsum dolor sit amet appears in this sentence.")),
        true, "gzip")),
      "crawl-0001.warc.gz")
    def runOnce(): Unit = {
      val q = Streaming.warcCleanStream(
        spark.readStream.format("binaryFile")
          .schema(graft.streaming.Streaming.BinaryFileSchema)
          .option("pathGlobFilter", "*.warc.gz").load(in))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    mkWarc(Seq(                     // arrives while the stream is DOWN
      ("http://x.test/good2", 200, htmlCt,
        html(page("one more closing sentence for the second file today.")),
        true, "gzip")),             // coded AND chunked after restart
      "crawl-0002.warc.gz")
    runOnce()                       // restart from checkpoint
    val got = spark.read.parquet(out).select("target_uri", "text")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // batch reference: the same parse + the same stateless chain
    val want = Streaming.ruleCleanStream(
      Wet.readResponses(spark, in)
        .filter(col("http_status") === 200 &&
          col("http_content_type").startsWith("text/html"))
        .select(col("target_uri"), col("text")),
      "text")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want, s"stream (${got.size}) must equal batch (${want.size})")
    assert(got.map(_._1) == Set("http://x.test/good1", "http://x.test/good2"),
      "status/ctype + page gates: 404/301/lorem dropped, good pages kept")
    // the boilerplate actually fired: html chrome is gone
    assert(got.forall { case (_, t) => !t.contains("<") })
  }

  test("host-gate stream: blocklist + per-host quota, state across restart") {
    val in = tmp(); val out = tmp(); val ckpt = tmp()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, url STRING")
    def url(i: Long): String =
      if (i % 7 == 3) s"https://bad.example.com/p$i"
      else s"https://h${i % 3}.example.com//p$i?utm_source=feed&a=1"
    def writeBatch(ids: Seq[Long], late: Boolean): Unit = {
      val rows = ids.map(i => (i, url(i))) ++
        (if (late) ids.map(i => (1000L + i, s"https://late.example.com/q$i"))
         else Nil)
      rows.toDF("doc_id", "url").coalesce(1).write.mode("append").parquet(in)
    }
    def runOnce(): Unit = {
      val q = Streaming.hostGateStream(
        spark.readStream.schema(schema).parquet(in),
        "doc_id", "url", quota = 4, blocklist = Set("bad.example.com"))
        .toDF().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    writeBatch(0L until 20L, late = false)
    runOnce()
    writeBatch(20L until 40L, late = true) // arrives while the stream is
    runOnce()                              // DOWN + a brand-new host
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[String]("host"), r.getAs[Long]("id"),
        r.getAs[String]("url")))
    // blocklisted host never admitted
    assert(!got.exists(_._1 == "bad.example.com"))
    // per-host admission COUNTS = min(quota, survivors) — the quota
    // semantics hold whatever the arrival order
    val all = (0L until 40L).filterNot(_ % 7 == 3)
    val counts = got.groupBy(_._1).view.mapValues(_.size).toMap
    val wantCounts = all.groupBy(i => s"h${i % 3}.example.com").view
      .mapValues(x => math.min(4, x.size)).toMap +
      ("late.example.com" -> 4)
    assert(counts == wantCounts)
    // determinism boundary, pinned: each h-host fills its quota inside
    // file 1 (ordered arrival), so the admitted SET ≡ the batch gate's
    // lowest-quota-ids; state across restart admits NOTHING more for
    // those hosts from file 2
    val perHost = got.filter(_._1.startsWith("h")).groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toSeq).toMap
    val wantIds = all.filter(_ < 20)
      .groupBy(i => s"h${i % 3}.example.com").view
      .mapValues(_.sorted.take(4).toSeq).toMap
    assert(perHost == wantIds)
    // the host seen only AFTER the restart still fills its quota
    assert(got.filter(_._1 == "late.example.com").map(_._2).sorted.toSeq ==
      (1020L to 1023L))
    // admitted urls carry the CANONICAL form (tracking dropped,
    // slashes collapsed) — the gate keys and emits the wet4 key
    assert(got.filter(_._1.startsWith("h")).forall(g =>
      !g._3.contains("utm") && !g._3.contains("//p")))
  }

  test("streamed crawl front end end-to-end: warc-clean -> url-dedup -> host-gate") {
    // The full streamed ingest as TWO checkpointed stages with a
    // parquet handoff: flatMapGroupsWithState may not follow another
    // stateful operator inside one query (Spark's multi-stateful
    // support covers window chains, not arbitrary FMGS), and the
    // handoff is the production shape anyway — each stage restarts
    // independently on its own checkpoint.
    import graft.sources.WetSink
    val in = tmp(); val mid = tmp(); val out = tmp()
    val ckpt1 = tmp(); val ckpt2 = tmp()
    val goodLines = (1 to 6).map(i =>
      s"this is fine sentence number $i about data quality and structure.")
    def html(id: Long): String =
      s"<html><body>\n${goodLines.mkString("\n")}\nthis page carries document number $id in its closing line.\n</body></html>"
    val ct = "text/html; charset=UTF-8"
    def mkWarc(rows: Seq[(String, Long)], name: String): Unit = {
      val stage = tmp()
      WetSink.writeResponses(
        rows.map { case (u, id) => (u, 200, ct, html(id)) }
          .toDF("uri", "status", "ctype", "body"),
        stage, "uri", "status", "ctype", "body", numFiles = 1)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(stage, "part-00000.warc.gz"),
        java.nio.file.Paths.get(in, name))
    }
    // file 1: one canonical-URL alias pair (doc 1), three h0 docs
    // (quota 2), one blocklisted host, one h1 doc
    mkWarc(Seq(
      ("HTTPS://H0.Example.COM:443/doc/1?utm_source=f", 1L),
      ("https://www.h0.example.com/doc/1", 1L), // same canonical URL
      ("https://h0.example.com/doc/2", 2L),
      ("https://h0.example.com/doc/3", 3L),
      ("https://bad.example.com/doc/9", 9L),
      ("https://h1.example.com/doc/4", 4L)), "crawl-0001.warc.gz")
    def stage1(): Unit = {
      val q = Streaming.urlDedupStream(
        Streaming.warcCleanStream(
          spark.readStream.format("binaryFile")
            .schema(graft.streaming.Streaming.BinaryFileSchema)
            .option("pathGlobFilter", "*.warc.gz").load(in))
          .withColumn("ts", to_timestamp(lit("2026-01-01 00:00:00"))),
        "ts", "target_uri")
        .writeStream.format("parquet")
        .option("path", mid).option("checkpointLocation", ckpt1).start()
      q.processAllAvailable(); q.stop()
    }
    def stage2(): Unit = {
      val q = Streaming.hostGateStream(
        spark.readStream.schema(org.apache.spark.sql.types.StructType
          .fromDDL("target_uri STRING, text STRING, ts TIMESTAMP"))
          .parquet(mid)
          .withColumn("doc_id",
            regexp_extract(col("target_uri"), "doc/(\\d+)", 1).cast("long")),
        "doc_id", "target_uri", quota = 2,
        blocklist = Set("bad.example.com"))
        .toDF().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt2).start()
      q.processAllAvailable(); q.stop()
    }
    stage1(); stage2()
    // file 2 arrives with both stages DOWN: a replayed canonical URL
    // (url-dedup state must drop it), an h0 doc over quota (host-gate
    // state must reject), and a fresh h1 doc (admitted)
    mkWarc(Seq(
      ("https://h0.example.com/doc/1?utm_campaign=x", 1L), // canonical dup
      ("https://h0.example.com/doc/5", 5L),                // over quota
      ("https://h1.example.com/doc/6", 6L)), "crawl-0002.warc.gz")
    stage1(); stage2()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[String]("host"), r.getAs[Long]("id"))).toSet
    assert(got == Set(("h0.example.com", 1L), ("h0.example.com", 2L),
      ("h1.example.com", 4L), ("h1.example.com", 6L)),
      s"got $got")
    // and the admitted urls are canonical (the alias pair collapsed to
    // one key; whichever alias won, its canonical form is identical)
    val urls = spark.read.parquet(out).collect()
      .map(_.getAs[String]("url")).toSet
    assert(urls.contains("https://h0.example.com/doc/1"))
    assert(urls.forall(u => !u.contains("utm") && !u.contains("www.")))
  }

  test("streamed monthly refresh ≡ batch p4 refresh, with a crash between the two commits") {
    import graft.dedup.{DedupSnapshot, SketchStore}
    import graft.functions.QualityClassifier
    val in = tmp(); val ckpt = tmp(); val pairsOut = tmp()
    val docs = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val cut = docs.agg(max("doc_id")).head.getLong(0) * 3 / 5
    val store = docs.filter(col("doc_id") <= cut)
    val delta = docs.filter(col("doc_id") > cut).select("doc_id", "lang", "text")
    // ---- shared frozen build artifacts (p4's build stage)
    val (w, storeScored) = QualityClassifier.fitScore(store, "doc_id", "text",
      col("source").isin("src0", "src1", "src2", "src3", "src4"),
      dim = 64, iters = 4)
    val mu = storeScored.agg(expr("sum(score_micro) div count(1)"))
      .head.getLong(0)
    def build(tag: String): (DedupSnapshot, SketchStore) = {
      val snap = new DedupSnapshot(spark, tag, nBuckets = 4,
        n = 3, bands = 16, rows = 4, threshold = 0.8, bucketCap = 100000)
      snap.writeCorpus(store, "doc_id", "text", keepCols = Seq("lang", "text"))
      val skst = new SketchStore(spark, tag + "sk", nBuckets = 4,
        n = 3, k = 32, threshold = 0.8, bucketCap = 100000)
      skst.build(store, "doc_id", "text")
      (snap, skst)
    }
    // ---- batch reference: p4's refresh chain over the WHOLE delta
    val (snapB, skstB) = build("graft_refb")
    val cleanedB = graft.Materialize.reuse(delta
      .withColumn("text",
        graft.functions.Boilerplate.clean(col("text")).getField("clean"))
      .filter(!lower(col("text")).contains("lorem ipsum") &&
        !col("text").contains("{")))
    val gatedB = cleanedB.join(
      QualityClassifier.scoreWith(cleanedB, "doc_id", "text", w, dim = 64)
        .filter(col("score_micro") >= mu).select("doc_id"), Seq("doc_id"))
    val survB = snapB.ingestDelta(gatedB.select("doc_id", "lang", "text"),
      "doc_id", "text", keepCols = Seq("lang", "text"), commit = true)
    val pairsB = skstB.ingestDelta(survB.select("doc_id", "text"),
        "doc_id", "text", commit = true)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val corpusB = snapB.corpus().select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // ---- streamed run: two files, a crash INJECTED between the two
    // leased commits of the first batch, restart, second file
    val (snapS, skstS) = build("graft_refs")
    val boom = new java.util.concurrent.atomic.AtomicBoolean(true)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, lang STRING, text STRING")
    def runOnce(fault: Boolean): Option[Throwable] = {
      val q = Streaming.refreshSink(
        spark.readStream.schema(schema).parquet(in),
        snapS, skstS, w, mu, "doc_id", "text", Seq("lang", "text"),
        pairsOut, ckpt,
        faultPoint = () =>
          if (fault && boom.getAndSet(false))
            throw new RuntimeException("injected crash between commits"))
      try { q.processAllAvailable(); q.stop(); None }
      catch { case e: Throwable => try q.stop() catch { case _: Throwable => }; Some(e) }
    }
    val mid = delta.agg(expr("percentile_approx(doc_id, 0.5)")).head
      .get(0).toString.toLong
    delta.filter(col("doc_id") <= mid).coalesce(1).write.mode("append").parquet(in)
    val failed = runOnce(fault = true)
    assert(failed.isDefined, "the injected crash must surface through the query")
    runOnce(fault = false)   // restart: replay lands the missed commit
    delta.filter(col("doc_id") > mid).coalesce(1).write.mode("append").parquet(in)
    runOnce(fault = false)
    // ---- convergence: stores and release artifacts equal
    val corpusS = snapS.corpus().select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(corpusS == corpusB,
      s"streamed corpus (${corpusS.size}) must equal batch (${corpusB.size})")
    assert(snapS.corpus().count() == corpusS.size) // exactly-once, no dup rows
    val pairsS = spark.read.parquet(pairsOut).select("id_a", "id_b")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsS == pairsB,
      s"streamed containment pairs (${pairsS.size}) must equal batch (${pairsB.size})")
    assert(corpusS.size > store.count().toInt, "some delta docs must land")
    // the release VIEW (corpus minus containment-flagged) matches too
    def release(snap: DedupSnapshot, pairs: Set[(Long, Long)]): Set[Long] = {
      val flagged = pairs.flatMap(p => Seq(p._1, p._2))
        .filter(_ > cut)
      snap.corpus().select("doc_id").collect().map(_.getLong(0))
        .filterNot(flagged).toSet
    }
    assert(release(snapS, pairsS) == release(snapB, pairsB))
  }
}
