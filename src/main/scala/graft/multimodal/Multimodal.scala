package graft.multimodal

import graft.dedup.Banding
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines: opaque `binary` payloads + typed metadata, processed by
  * partition-batched transforms.
  *
  * The image path is REAL end to end: [[PngCodec]] produces and
  * parses genuine PNG bytes (zlib, CRC-checked chunks) with only JVM
  * built-ins, so [[decodeFeatures]] exercises an actual decode on the
  * executors — no native libraries needed. The Scala analogue of
  * `mapInPandas`: `mapPartitions` over an iterator of rows, so codec
  * state is amortized per partition, not per row. Audio/video remain
  * opaque-binary payloads processed by the same plumbing
  * ([[sampleFrames]], [[resizeTo]]).
  */
object Multimodal {

  /** Canonical media schema: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),      // image|audio|video
    StructField("content", BinaryType, nullable = false),   // opaque payload
    StructField("mime", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  /** Wrap raw binary rows into the media schema (ingest adapter). */
  def asMedia(df: DataFrame, idCol: String, contentCol: String,
              kind: String, mime: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(kind).as("kind"),
      col(contentCol).cast("binary").as("content"),
      lit(mime).as("mime"),
      lit(null).cast("int").as("width"),
      lit(null).cast("int").as("height"),
      lit(null).cast("long").as("duration_ms"))

  /** Render a text/bytes column as real PNG media rows: the payload
    * bytes become row-major grayscale pixels at the given `width`
    * (zero-padded to fill the last row), PNG-encoded per row via
    * [[PngCodec.encode]] in one `mapPartitions` pass. The ingest
    * adapter for testing decode pipelines on data this container has
    * (documents) — a production ingest would read `binaryFile`s
    * instead; the downstream contract is identical.
    */
  def encodeAsPng(df: DataFrame, idCol: String, textCol: String,
                  width: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val h = math.max((bytes.length + width - 1) / width, 1)
          val px = java.util.Arrays.copyOf(bytes, width * h)
          (id, PngCodec.encode(px, width, h), width, h)
        }
      }
      .toDF("media_id", "content", "width", "height")
      .select(col("media_id"), lit("image").as("kind"), col("content"),
        lit("image/png").as("mime"), col("width"), col("height"),
        lit(null).cast("long").as("duration_ms"))
  }

  /** Decode + feature-extract over partition batches (the
    * `mapInPandas` shape): one iterator pass per partition, codec
    * state initialized once per partition. A GENUINE decode — PNG
    * signature/IHDR parse, zlib inflate, CRC checks — followed by a
    * feature vector of `featDim` stripe means (mean pixel value of
    * each contiguous 1/featDim slice of the image, exact integer sums
    * divided in double, so the values are reproducible in SQL).
    * Output keeps the id and adds (width, height, embedding).
    */
  def decodeFeatures(media: DataFrame, featDim: Int = 16): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("embedding", ArrayType(DoubleType, containsNull = false))))
    val idIdx = media.schema.fieldIndex("media_id")
    val cIdx = media.schema.fieldIndex("content")
    val rdd = media.queryExecution.toRdd.mapPartitions { it =>
      // per-partition codec state would init HERE; PngCodec is static
      it.map { internal =>
        val id = internal.getLong(idIdx)
        val (w, h, px) = PngCodec.decode(internal.getBinary(cIdx))
        val np = w * h
        val feats = Array.tabulate(featDim) { d =>
          val lo = (d.toLong * np / featDim).toInt
          val hi = ((d + 1).toLong * np / featDim).toInt
          var s = 0L; var i = lo
          while (i < hi) { s += px(i) & 0xff; i += 1 }
          if (hi > lo) s.toDouble / (hi - lo) else 0.0
        }
        Row(id, w, h, feats.toSeq)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Render a text/bytes column as real WAV media rows: each payload
    * byte b becomes the PCM-16 sample `b*256 - 32768` (exact, so the
    * waveform is SQL-reproducible), encoded per row via
    * [[WavCodec.encode]] in one `mapPartitions` pass. Ingest adapter
    * for testing decode pipelines — the audio twin of
    * [[encodeAsPng]]; a production ingest reads `binaryFile`s.
    */
  def encodeAsWav(df: DataFrame, idCol: String, textCol: String,
                  sampleRate: Int = 8000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val n = math.max(bytes.length, 1)
          val samples = Array.tabulate(n)(i =>
            if (i < bytes.length) (((bytes(i) & 0xff) << 8) - 32768).toShort
            else (-32768).toShort)
          val wav = WavCodec.encode(samples, sampleRate)
          (id, wav, n.toLong * 1000L / sampleRate)
        }
      }
      .toDF("media_id", "content", "duration_ms")
      .select(col("media_id"), lit("audio").as("kind"), col("content"),
        lit("audio/wav").as("mime"), lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"), col("duration_ms"))
  }

  /** Decode + feature-extract audio payloads over partition batches:
    * a GENUINE WAV parse (RIFF walk, PCM-16 validation) followed by
    * `featDim` window means (mean sample value of each contiguous
    * 1/featDim slice — exact long sums divided in double) plus the
    * peak |sample|. Output: (media_id, sample_rate, n_samples,
    * duration_ms, peak, embedding).
    */
  def decodeAudioFeatures(media: DataFrame, featDim: Int = 16): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("n_samples", IntegerType, nullable = false),
      StructField("duration_ms", LongType, nullable = false),
      StructField("peak", IntegerType, nullable = false),
      StructField("embedding", ArrayType(DoubleType, containsNull = false))))
    val idIdx = media.schema.fieldIndex("media_id")
    val cIdx = media.schema.fieldIndex("content")
    val rdd = media.queryExecution.toRdd.mapPartitions { it =>
      it.map { internal =>
        val id = internal.getLong(idIdx)
        val wav = WavCodec.decode(internal.getBinary(cIdx))
        val s = wav.samples
        var peak = 0
        var i = 0
        while (i < s.length) {
          val a = math.abs(s(i).toInt); if (a > peak) peak = a; i += 1
        }
        val feats = Array.tabulate(featDim) { d =>
          val lo = (d.toLong * s.length / featDim).toInt
          val hi = ((d + 1).toLong * s.length / featDim).toInt
          var sum = 0L; var j = lo
          while (j < hi) { sum += s(j); j += 1 }
          if (hi > lo) sum.toDouble / (hi - lo) else 0.0
        }
        Row(id, wav.sampleRate, s.length, wav.durationMs, peak, feats.toSeq)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Frame sampling for video-like payloads: split the payload into
    * `frameSize`-byte frames, keep every `stride`-th — pure
    * expression form (substring over binary), stays distributed.
    */
  def sampleFrames(media: DataFrame, frameSize: Int, stride: Int): DataFrame = {
    val nFrames = floor(length(col("content")) / frameSize).cast("int")
    media.select(col("media_id"),
      posexplode(transform(
        filter(sequence(lit(0), greatest(nFrames - 1, lit(0))),
          i => i % stride === 0),
        i => substring(col("content"), (i * frameSize + 1).cast("int"), lit(frameSize))))
        .as(Seq("frame_idx", "frame")))
      .filter(length(col("frame")) === frameSize)
  }

  /** REAL image resize: PNG decode → box-filter downsample → PNG
    * re-encode, one `mapPartitions` pass (the `mapInPandas` shape).
    * Exact integer semantics so the result is SQL-reproducible:
    * target pixel (Y,X) averages the source block rows
    * [Y·h/newH, (Y+1)·h/newH) × cols [X·w/newW, (X+1)·w/newW) (floor
    * arithmetic) as floor(sum/count); an empty block (newH > h) is 0.
    * Output rows keep the media schema with updated content payloads
    * (genuine PNGs at newW×newH) and dimensions.
    */
  def resizeTo(media: DataFrame, newW: Int, newH: Int): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("content", BinaryType, nullable = false),
      StructField("mime", StringType, nullable = true),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("duration_ms", LongType, nullable = true)))
    val idIdx = media.schema.fieldIndex("media_id")
    val cIdx = media.schema.fieldIndex("content")
    val rdd = media.queryExecution.toRdd.mapPartitions { it =>
      it.map { internal =>
        val id = internal.getLong(idIdx)
        val (w, h, px) = PngCodec.decode(internal.getBinary(cIdx))
        val out = new Array[Byte](newW * newH)
        var yy = 0
        while (yy < newH) {
          val ry0 = (yy.toLong * h / newH).toInt
          val ry1 = ((yy + 1).toLong * h / newH).toInt
          var xx = 0
          while (xx < newW) {
            val rx0 = (xx.toLong * w / newW).toInt
            val rx1 = ((xx + 1).toLong * w / newW).toInt
            var s = 0L; var cnt = 0
            var y = ry0
            while (y < ry1) {
              var x = rx0
              while (x < rx1) { s += px(y * w + x) & 0xff; cnt += 1; x += 1 }
              y += 1
            }
            out(yy * newW + xx) = if (cnt > 0) (s / cnt).toByte else 0
            xx += 1
          }
          yy += 1
        }
        Row(id, "image", PngCodec.encode(out, newW, newH), "image/png",
          newW, newH, null)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Box-filter a decoded grayscale image down to a `gw`×`gh` grid of
    * block means — the [[resizeTo]] arithmetic (floor block
    * boundaries, floor(sum/count), empty block = 0) without the PNG
    * re-encode, row-major ints. Exact integer semantics: every value
    * is SQL-reproducible. */
  private def boxGrid(px: Array[Byte], w: Int, h: Int,
                      gw: Int, gh: Int): Array[Int] = {
    val out = new Array[Int](gw * gh)
    var yy = 0
    while (yy < gh) {
      val ry0 = (yy.toLong * h / gh).toInt
      val ry1 = ((yy + 1).toLong * h / gh).toInt
      var xx = 0
      while (xx < gw) {
        val rx0 = (xx.toLong * w / gw).toInt
        val rx1 = ((xx + 1).toLong * w / gw).toInt
        var s = 0L; var cnt = 0
        var y = ry0
        while (y < ry1) {
          var x = rx0
          while (x < rx1) { s += px(y * w + x) & 0xff; cnt += 1; x += 1 }
          y += 1
        }
        out(yy * gw + xx) = if (cnt > 0) (s / cnt).toInt else 0
        xx += 1
      }
      yy += 1
    }
    out
  }

  /** Perceptual image hashes for near-dup detection (the LAION-style
    * image dedup primitive), one `mapPartitions` decode pass:
    *
    *  - `dhash`: difference hash at 60-bit width — box-resize to 7×10,
    *    bit y·6+x set iff grid[y][x+1] > grid[y][x]. 60 bits so the
    *    signature stays inside a signed BIGINT on both engines (the
    *    [[graft.dedup.Dedup.simHashFnv60]] discipline) and feeds the
    *    existing Hamming chunk-banding machinery directly.
    *  - `ahash`: average hash — box-resize to 8×8, bit y·8+x set iff
    *    grid[y][x] > floor(Σgrid/64). The classic 64-bit width: bit 63
    *    makes the value negative two's-complement, which the oracle
    *    reproduces by adding −2⁶³ for that bit (DuckDB raises on
    *    `1::BIGINT << 63`).
    *
    * pHash (DCT low-frequency signs) is deliberately absent: its float
    * cosine transform is not cross-engine bit-reproducible, which
    * would leave it outside the oracle gate; dhash/ahash carry the
    * same near-dup banding role with exact integer arithmetic.
    * All resize/compare arithmetic is integer-exact and recomputable
    * in SQL from the source pixels.
    */
  def perceptualHash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("dhash", LongType, nullable = false),
      StructField("ahash", LongType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val cIdx = media.schema.fieldIndex("content")
    val rdd = media.queryExecution.toRdd.mapPartitions { it =>
      it.map { internal =>
        val id = internal.getLong(idIdx)
        val (w, h, px) = PngCodec.decode(internal.getBinary(cIdx))
        val dg = boxGrid(px, w, h, 7, 10)
        var dhash = 0L
        var y = 0
        while (y < 10) {
          var x = 0
          while (x < 6) {
            if (dg(y * 7 + x + 1) > dg(y * 7 + x)) dhash |= 1L << (y * 6 + x)
            x += 1
          }
          y += 1
        }
        val ag = boxGrid(px, w, h, 8, 8)
        var sum = 0L
        var i = 0
        while (i < 64) { sum += ag(i); i += 1 }
        val mean = sum / 64
        var ahash = 0L
        i = 0
        while (i < 64) { if (ag(i) > mean) ahash |= 1L << i; i += 1 }
        Row(id, dhash, ahash)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Perceptual audio fingerprints for near-dup detection — the audio
    * twin of [[perceptualHash]], after Haitsma & Kalker 2002 ("A
    * Highly Robust Audio Fingerprint System"): a compact bit string of
    * SIGNS OF DIFFERENCES between coarse per-frame statistics, robust
    * to small waveform perturbations because each bit depends only on
    * an ORDERING of two frame aggregates, not their exact values. The
    * paper's frequency-band energies need an FFT, whose float
    * butterflies are not cross-engine bit-reproducible (the same
    * reason pHash is absent from [[perceptualHash]]); the two frame
    * statistics used here are integer-exact and carry the same
    * delta-sign structure:
    *
    *  - `ehash`: energy hash — the decoded PCM stream splits into 61
    *    contiguous frames (floor boundaries `f·n/61`, the [[boxGrid]]
    *    discipline); `E[f] = Σ s²` (exact: RIFF caps payloads at
    *    4 GiB → < 2³¹ samples × 2³⁰ max square < 2⁶¹); bit f set iff
    *    `E[f+1] > E[f]`. 60 bits so the signature stays inside a
    *    signed BIGINT on both engines and feeds
    *    [[graft.dedup.Dedup.simHashPairsFromSigs]] (the
    *    [[graft.dedup.Banding.Refine]] banded join) directly.
    *  - `rhash`: rising-step hash — `R[f]` counts strictly increasing
    *    consecutive-sample steps `s[i] > s[i-1]` within frame f (both
    *    endpoints inside the frame); bit f set iff `R[f+1] > R[f]`.
    *    Local-ordering texture, independent of magnitude — chosen
    *    over the classic zero-crossing count because payloads whose
    *    samples never change sign (e.g. [[encodeAsWav]] renderings of
    *    ASCII bytes, all negative) would make every zero-crossing
    *    count 0 and the hash degenerate.
    *
    * Multi-channel audio fingerprints the interleaved stream as-is —
    * deterministic, and per-frame aggregates of interleaved channels
    * are still perturbation-stable. One `mapPartitions` decode pass;
    * all arithmetic is integer-exact and recomputable in SQL from the
    * source samples.
    */
  def audioFingerprint(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ehash", LongType, nullable = false),
      StructField("rhash", LongType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val cIdx = media.schema.fieldIndex("content")
    val rdd = media.queryExecution.toRdd.mapPartitions { it =>
      it.map { internal =>
        val id = internal.getLong(idIdx)
        val s = WavCodec.decode(internal.getBinary(cIdx)).samples
        val n = s.length
        val energy = new Array[Long](61)
        val rising = new Array[Long](61)
        var f = 0
        while (f < 61) {
          val lo = (f.toLong * n / 61).toInt
          val hi = ((f + 1).toLong * n / 61).toInt
          var e = 0L; var r = 0L
          var i = lo
          while (i < hi) {
            val v = s(i).toLong
            e += v * v
            if (i > lo && s(i) > s(i - 1)) r += 1
            i += 1
          }
          energy(f) = e; rising(f) = r
          f += 1
        }
        var ehash = 0L; var rhash = 0L
        var b = 0
        while (b < 60) {
          if (energy(b + 1) > energy(b)) ehash |= 1L << b
          if (rising(b + 1) > rising(b)) rhash |= 1L << b
          b += 1
        }
        Row(id, ehash, rhash)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Per-WINDOW audio fingerprints (mm9) — the shared-clip primitive
    * [[audioFingerprint]] structurally cannot be: its 61 frames span
    * the WHOLE clip, so a jingle embedded in a long recording shifts
    * every frame boundary and flips most delta-sign bits. Here the PCM
    * stream splits into consecutive NON-OVERLAPPING windows of
    * `windowSamples` samples (trailing partial window dropped — only
    * content-complete windows are comparable across clips), and each
    * window hashes independently with the SAME 61-frame energy
    * delta-sign kernel applied to its slice: a jingle embedded at a
    * window-aligned offset reproduces the standalone jingle's window
    * hashes exactly. `hop` < `windowSamples` gives OVERLAPPING
    * windows (offsets 0, hop, 2·hop… — row volume ×
    * windowSamples/hop): an embedding aligned to the finer hop grid
    * is caught too; full shift-invariance is hop = 1 or a landmark
    * index à la Shazam — the stated boundary. A search can hop the
    * PROBE side finely while the indexed corpus stays non-overlapping
    * (the classic asymmetric-hop trick), since equal content hashes
    * equally regardless of which side produced it.
    * All arithmetic integer-exact; a SQL replay is bit-identical.
    * Output: (media_id, win_idx, whash); `win_idx` = offset ÷ hop.
    * One `mapPartitions` decode pass, map-only — the downstream
    * [[sharedFramePairs]] banded index is the only exchange.
    */
  def audioWindowHash(media: DataFrame, windowSamples: Int,
                      hop: Int = 0): DataFrame = {
    require(windowSamples >= 2, s"windowSamples must be >= 2, got $windowSamples")
    val hopN = if (hop <= 0) windowSamples else hop
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("win_idx", IntegerType, nullable = false),
      StructField("whash", LongType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val cIdx = media.schema.fieldIndex("content")
    val rdd = media.queryExecution.toRdd.mapPartitions { it =>
      it.flatMap { internal =>
        // extract eagerly: InternalRow objects are reused by the scan,
        // so nothing may close over `internal` lazily
        val id = internal.getLong(idIdx)
        val s = WavCodec.decode(internal.getBinary(cIdx)).samples
        val nw = if (s.length < windowSamples) 0
                 else (s.length - windowSamples) / hopN + 1
        (0 until nw).iterator.map { wi =>
          val off = wi * hopN
          val energy = new Array[Long](61)
          var f = 0
          while (f < 61) {
            val lo = off + (f.toLong * windowSamples / 61).toInt
            val hi = off + ((f + 1).toLong * windowSamples / 61).toInt
            var e = 0L
            var i = lo
            while (i < hi) { val v = s(i).toLong; e += v * v; i += 1 }
            energy(f) = e
            f += 1
          }
          var wh = 0L
          var b = 0
          while (b < 60) {
            if (energy(b + 1) > energy(b)) wh |= 1L << b
            b += 1
          }
          Row(id, wi, wh)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Per-frame difference hash over RAW grayscale frames (mm7) — the
    * [[perceptualHash]] dHash applied to [[sampleFrames]] output:
    * each `w`×`h` frame (row-major bytes, no container decode — the
    * frame extractor already stripped it) box-resizes to the same
    * 7×10 grid with the same floor arithmetic (blocks that floor to
    * empty are 0, exactly as [[boxGrid]] pins) and hashes to the same
    * 60-bit delta-sign signature. Integer-exact throughout, so a SQL
    * oracle rebuilds every bit from the source bytes. One
    * `mapPartitions` pass; input rows are (media_id, frame_idx,
    * frame).
    */
  def frameDHash(frames: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = frames.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("dhash", LongType, nullable = false)))
    val idIdx = frames.schema.fieldIndex("media_id")
    val fiIdx = frames.schema.fieldIndex("frame_idx")
    val cIdx = frames.schema.fieldIndex("frame")
    val rdd = frames.queryExecution.toRdd.mapPartitions { it =>
      it.map { internal =>
        val px = internal.getBinary(cIdx)
        require(px.length == w * h,
          s"frame is ${px.length} bytes, want ${w * h} ($w x $h)")
        val g = boxGrid(px, w, h, 7, 10)
        var dhash = 0L
        var y = 0
        while (y < 10) {
          var x = 0
          while (x < 6) {
            if (g(y * 7 + x + 1) > g(y * 7 + x)) dhash |= 1L << (y * 6 + x)
            x += 1
          }
          y += 1
        }
        Row(internal.getLong(idIdx), internal.getInt(fiIdx), dhash)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Shared-clip pairs (mm8): videos sharing ≥ `minShared` DISTINCT
    * per-frame hashes — the PARTIAL-overlap detector mm7's whole-video
    * majority fingerprint structurally cannot be (a 10-second clip
    * embedded in an hour-long video flips most majority bits but its
    * frames still hash identically). Per video the distinct frame-hash
    * SET (bounded by frame count) aggregates once; candidates come
    * from the (hash → id) inverted index under the standard
    * [[graft.dedup.Banding]] bucketCap salting (linear in
    * the hash stream — a hash shared by a crowd is exactly the
    * flooded-bucket case the cap bounds); the verify is one
    * `array_intersect` of the two bounded sets. Exact integers
    * throughout — a SQL replay is bit-identical.
    */
  def sharedFramePairs(hashes: DataFrame, idCol: String, hashCol: String,
                       minShared: Int, bucketCap: Int = 100000): DataFrame = {
    val va = graft.Materialize.reuse( // feeds the index AND both verify sides
      hashes.groupBy(col(idCol).as("id"))
        .agg(sort_array(collect_set(col(hashCol))).as("hs")))
    val pairs = Banding.selfPairs(Banding.invertedIndex(va, "hs"),
      Banding.guard(bucketCap))
    Banding.attach(pairs, va, "hs")
      .withColumn("shared",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .filter(col("shared") >= minShared)
      .select("id_a", "id_b", "shared")
  }

  /** Majority-bit video fingerprint (mm7): per video, bit `b` of the
    * output is set iff a STRICT majority of its frames set bit `b` of
    * their per-frame hash — each bit depends only on an ordering of
    * two exact integers (2·count vs n_frames), so perturbing a single
    * frame of a long clip flips nothing (the Haitsma-Kalker
    * robustness argument lifted to the frame axis) and a SQL replay
    * is bit-identical. ONE map-combined aggregate: `bits` long
    * counters + a count per video, no shuffle of the frames beyond
    * it. Output: (idCol, n_frames, vhash).
    */
  def majorityFingerprint(hashes: DataFrame, idCol: String,
                          hashCol: String, bits: Int = 60): DataFrame = {
    val sums = (0 until bits).map(b =>
      sum(shiftright(col(hashCol), b).bitwiseAND(lit(1L))).as(s"__b$b"))
    val vhash = (0 until bits).map(b =>
      when(col(s"__b$b") * 2 > col("n_frames"), lit(1L << b))
        .otherwise(lit(0L))).reduce(_ + _)
    hashes.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_frames"), sums: _*)
      .select(col(idCol), col("n_frames"), vhash.as("vhash"))
  }

  /** Decode PNG payloads and fingerprint every pixel: md5 over the
    * comma-joined unsigned pixel values (row-major) — the byte-exact
    * gate for resize/codec round trips, reproducible in any SQL
    * engine that can rebuild the pixel list.
    */
  def pixelSignature(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("sig", StringType, nullable = false)))
    val idIdx = media.schema.fieldIndex("media_id")
    val cIdx = media.schema.fieldIndex("content")
    val rdd = media.queryExecution.toRdd.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { internal =>
        val id = internal.getLong(idIdx)
        val (w, h, px) = PngCodec.decode(internal.getBinary(cIdx))
        val s = px.iterator.map(b => (b & 0xff).toString).mkString(",")
        md.reset()
        val dig = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Row(id, w, h, dig.map("%02x".format(_)).mkString)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
