package graft

import graft.expand.Grid
import graft.spec._
import graft.store.Merge
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks of the expansion/merge algebra (SURVEY §5 —
  * an upgrade over the reference's example-based tests). Kept to few
  * Spark-sized cases per property (each case is a full Spark job);
  * raw ScalaCheck generators drawn with fixed seeds for determinism.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = Gen.Parameters.default.withSize(6)

  /** Draw `n` deterministic samples from a generator and check each. */
  private def forAll[A](g: Gen[A], n: Int = 5)(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      check(g.pureApply(params, Seed(42L + i)))
    }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(check: (A, B) => Unit): Unit =
    (0 until 5).foreach { i =>
      check(ga.pureApply(params, Seed(42L + i)),
        gb.pureApply(params, Seed(1042L + i)))
    }

  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])
                             (check: (A, B, C) => Unit): Unit =
    (0 until 5).foreach { i =>
      check(ga.pureApply(params, Seed(42L + i)),
        gb.pureApply(params, Seed(1042L + i)),
        gc.pureApply(params, Seed(2042L + i)))
    }

  private val axisGen: Gen[Seq[Long]] = for {
    n <- Gen.choose(1, 4)
    vs <- Gen.pick(n, 1L to 12L)
  } yield vs.toSeq

  test("property: winnowing shares a selected window for every ≥ w+s−1 " +
       "duplicate at ANY pair of offsets (200 random trials, kernel-level)") {
    // the detection guarantee behind substringSpans(stride = s): both
    // copies of a duplicate select at least one identical interior
    // window, independent of each copy's byte offset — the property a
    // positional every-s-th stride does NOT have. Kernel-level (no
    // Spark jobs), so the trial count is cheap.
    import org.apache.spark.unsafe.types.UTF8String
    val alpha = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).toIndexedSeq
    val rnd = new scala.util.Random(13)
    def rs(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(alpha.size))).mkString
    def sel(t: String, w: Int, s: Int): Seq[(Int, Long)] = {
      val arr = graft.functions.WinnowedWindowHashes
        .compute(UTF8String.fromString(t), w, s)
      (0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 2); (r.getInt(0), r.getLong(1))
      }
    }
    for (trial <- 1 to 200) {
      val w = 8 + rnd.nextInt(12)          // 8..19
      val s = 2 + rnd.nextInt(9)           // 2..10
      val len = w + s - 1 + rnd.nextInt(12) // threshold .. threshold+11
      val dup = rs(len)
      val pa = rnd.nextInt(30); val pb = rnd.nextInt(30)
      val a = rs(pa) + dup + rs(rnd.nextInt(30))
      val b = rs(pb) + dup + rs(rnd.nextInt(30))
      val hA = sel(a, w, s); val hB = sel(b, w, s)
      // a shared selected window fully inside BOTH planted copies
      val shared = hA.exists { case (p, h) =>
        p >= pa && p + w <= pa + len &&
          hB.exists { case (q, h2) =>
            h2 == h && q >= pb && q + w <= pb + len }
      }
      assert(shared,
        s"trial $trial: w=$w s=$s len=$len pa=$pa pb=$pb — no shared window")
    }
  }

  test("property: |expand(combos)| = ∏ |axis| and rows are distinct") {
    forAll(axisGen, axisGen) { (as, bs) =>
      val g = Grid.expand(spark, ComboSpec.of("a" -> as, "b" -> bs))
      assert(g.count() == as.size.toLong * bs.size)
      assert(g.distinct().count() == g.count())
    }
  }

  test("property: missing(grid, store) ∪ store-keys = grid, disjointly") {
    forAll(axisGen, axisGen, Gen.choose(0, 10)) { (as, bs, nStore) =>
      val grid = Grid.expand(spark, ComboSpec.of("a" -> as, "b" -> bs))
      val store = grid.orderBy("a", "b").limit(nStore)
      val miss = Grid.missing(grid, store, Seq("a", "b"))
      assert(miss.count() + store.count() == grid.count())
      assert(miss.join(store, Seq("a", "b"), "inner").count() == 0)
    }
  }

  test("property: missing(grid, store) ignores duplicate store keys") {
    // the store side is not de-duplicated before the left-anti join;
    // duplicated keys (with differing values) must give the same missing
    // set as the de-duplicated key set, and as a plain-Scala model
    val storeGen = Gen.listOf(for {
      a <- Gen.choose(1L, 12L); b <- Gen.choose(1L, 12L); copies <- Gen.choose(1, 3)
    } yield (a, b, copies))
    forAll(axisGen, axisGen, storeGen) { (as, bs, keys) =>
      val grid = Grid.expand(spark, ComboSpec.of("a" -> as, "b" -> bs))
      val dup = keys.flatMap { case (a, b, n) => (1 to n).map(i => (a, b, i.toDouble)) }
        .toDF("a", "b", "v")
      val miss = collectSorted(Grid.missing(grid, dup, Seq("a", "b")))
      assert(miss == collectSorted(Grid.missing(grid, dup.select("a", "b").distinct(), Seq("a", "b"))))
      val stored = keys.map { case (a, b, _) => Seq[Any](a, b) }.toSet
      val model = for (a <- as; b <- bs; k = Seq[Any](a, b) if !stored(k)) yield k
      assert(miss == model.sortBy(_.mkString("|")))
    }
  }

  test("property: merge is idempotent and NewWins/OldWins agree on disjoint stores") {
    forAll(axisGen, axisGen) { (as, bs) =>
      val a = as.map(x => (x, x * 2.0)).toDF("k", "v")
      val b = bs.map(x => (x + 100L, x * 3.0)).toDF("k", "v") // disjoint keys
      assert(collectSorted(Merge.merge(a, a, Seq("k"))) == collectSorted(a))
      val nw = Merge.merge(a, b, Seq("k"), Merge.NewWins)
      val ow = Merge.merge(a, b, Seq("k"), Merge.OldWins)
      assert(collectSorted(nw) == collectSorted(ow))
      assert(nw.count() == a.count() + b.count())
    }
  }

  test("property: sample(grid, n) ⊆ grid with exactly min(n,|grid|) distinct rows") {
    forAll(axisGen, Gen.choose(1, 8), Gen.choose(0L, 1000L)) { (as, n, seed) =>
      val grid = Grid.expand(spark, ComboSpec.of("a" -> as))
      val s = Grid.sample(grid, n, seed)
      val expected = math.min(n.toLong, grid.count())
      assert(s.count() == expected)
      assert(s.except(grid).count() == 0)
    }
  }

  test("property: dedupParagraphs == first-(doc,ord)-per-content map model") {
    val paraGen: Gen[Seq[(Long, Long, String)]] = for {
      n <- Gen.choose(3, 14)
      rows <- Gen.listOfN(n, for {
        d <- Gen.choose(1L, 4L)
        o <- Gen.choose(0L, 3L)
        c <- Gen.oneOf("aa", "bb", "cc")
      } yield (d, o, c))
      // (doc, ord) is a position — it holds exactly one content
    } yield rows.distinctBy(r => (r._1, r._2))
    forAll(paraGen) { rows =>
      val got = graft.functions.TextFns.dedupParagraphs(
        rows.toDF("doc_id", "ord", "t"), "doc_id", "ord", "t")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getBoolean(2), r.getLong(3))).toMap
      val byContent = rows.groupBy(_._3)
      val model = rows.map { case (d, o, c) =>
        val copies = byContent(c)
        (d, o) -> (copies.map(x => (x._1, x._2)).min == ((d, o)),
          copies.size.toLong)
      }.toMap
      assert(got == model, s"rows: $rows")
    }
  }

  test("property: capped bandedPairs never invents pairs and covers every sub-bucket pair") {
    import graft.dedup.{Banding, Dedup}
    val bandedGen: Gen[Seq[(Long, Int, Long)]] = for {
      n <- Gen.choose(5, 40)
      rows <- Gen.listOfN(n, for {
        id <- Gen.choose(0L, 30L)
        b <- Gen.choose(0, 2)
        bk <- Gen.choose(0L, 1L)
      } yield (id, b, bk))
    } yield rows.distinct
    // a coin per id: the ids that arrive as the delta
    val deltaGen: Gen[Set[Long]] = Gen.listOfN(31, Gen.oneOf(true, false))
      .map(_.zipWithIndex.collect { case (true, id) => id.toLong }.toSet)
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    forAll(bandedGen, Gen.choose(2, 6), deltaGen) { (rows, cap, deltaIds) =>
      val banded = rows.toDF("id", "band", "bucket")
      def pairs(g: Banding.Guard) = collectPairs(Banding.selfPairs(banded, g))
      val capped = pairs(Banding.guard(cap))
      val uncapped = pairs(Banding.Off)
      // soundness: salting can only DROP candidate pairs, never add
      assert(capped.subsetOf(uncapped),
        s"invented pairs: ${capped -- uncapped} (cap=$cap rows=$rows)")
      // small buckets are untouched: pairs whose every shared bucket
      // is under the cap must all survive
      val byBucket = rows.groupBy(r => (r._2, r._3))
      val smallPairs = (for {
        ((_, _), g) <- byBucket if g.size <= cap
        a <- g; b <- g if a._1 < b._1
      } yield (a._1, b._1)).toSet
      assert(smallPairs.subsetOf(capped),
        s"dropped small-bucket pairs: ${smallPairs -- capped}")
      // split census = union census: probing store ∪ delta with the
      // delta finds exactly the delta-touching self-join pairs
      val (d, st) = rows.partition(r => deltaIds(r._1))
      for (salt <- Seq(Dedup.BucketSalt.XxHash, Dedup.BucketSalt.Md5("prop"))) {
        val guard = Banding.Salt(cap, salt)
        val probed = collectPairs(Banding.probePairs(
          st.toDF("id", "band", "bucket"), d.toDF("id", "band", "bucket"), guard))
        val touching = pairs(guard).filter { case (a, b) =>
          deltaIds(a) || deltaIds(b) }
        assert(probed == touching, s"probe vs self-join under $salt " +
          s"(cap=$cap delta=$deltaIds rows=$rows): " +
          s"only probed ${probed -- touching}, only self ${touching -- probed}")
      }
    }
  }

  test("property: Welford merge associativity across random splits") {
    import graft.stats.WelfordState
    forAll(Gen.nonEmptyListOf(Gen.choose(-100.0, 100.0)), Gen.choose(0, 20)) {
      (xs, at) =>
        val (l, r) = xs.splitAt(at % math.max(xs.size, 1))
        val merged = WelfordState.of(l).merge(WelfordState.of(r))
        val whole = WelfordState.of(xs)
        assert(merged.n == whole.n)
        assert(math.abs(merged.mean - whole.mean) < 1e-9)
        assert(math.abs(merged.m2 - whole.m2) < 1e-6 * math.max(1.0, whole.m2))
    }
  }
  test("property: each Lloyd pass never increases within-cluster SSE") {
    import graft.similarity.Clustering
    val vecGen = Gen.listOfN(3, Gen.choose(-10.0, 10.0))
    forAll(Gen.listOfN(24, vecGen), n = 3) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      def sse(cents: Array[Array[Double]]): Double =
        vs.map { v =>
          cents.map(c => c.zip(v).map { case (a, b) =>
            (a - b) * (a - b) }.sum).min
        }.sum
      val seeds = Clustering.spacedSeeds(df, "id", "v", k = 3)
      // roundDecimals high enough that rounding can't mask a real
      // SSE increase (1e-9 vs coordinate scale 10)
      val one = Clustering.lloyd(df, "v", seeds, iters = 1, roundDecimals = 9)
      val two = Clustering.lloyd(df, "v", one, iters = 1, roundDecimals = 9)
      assert(sse(one) <= sse(seeds) + 1e-6)
      assert(sse(two) <= sse(one) + 1e-6)
    }
  }

  test("property: distributed assign matches driver-side argmin") {
    import graft.similarity.Clustering
    val vecGen = Gen.listOfN(4, Gen.choose(-5.0, 5.0))
    forAll(Gen.listOfN(12, vecGen), Gen.listOfN(3, vecGen)) { (vs, cs) =>
      val cents = cs.map(_.toArray).toArray
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      val got = Clustering.assign(df, "v", cents)
        .select("id", "centroid").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      vs.zipWithIndex.foreach { case (v, i) =>
        val want = cents.zipWithIndex.map { case (c, ci) =>
          (c.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum, ci)
        }.minBy(t => (t._1, t._2))._2
        assert(got(i.toLong) == want)
      }
    }
  }

  test("property: pruned partitioned mergeIn ≡ full unpartitioned merge") {
    // the partition-pruned write path must be semantically invisible:
    // same keys+values as merging the same deltas into a flat store
    val storeGen = for {
      rows <- Gen.nonEmptyListOf(for {
        p <- Gen.choose(1L, 4L); k <- Gen.choose(1L, 6L)
      } yield (p, k))
    } yield rows.distinct.map { case (p, k) => (p, k, p * 100.0 + k) }
    forAll(storeGen, storeGen) { (base0, delta0) =>
      // deltas that collide with base keys keep base's VALUE formula so
      // NoConflicts semantics hold on both paths
      val base = base0
      val delta = delta0.map { case (p, k, _) => (p, k, p * 100.0 + k) }
      val dir = java.nio.file.Files.createTempDirectory("graft-prop").toString
      val part = new graft.store.ParquetStore(spark, s"$dir/p", Seq("p", "k"),
        partitionCols = Seq("p"))
      val flat = new graft.store.ParquetStore(spark, s"$dir/f", Seq("p", "k"))
      part.mergeIn(base.toDF("p", "k", "v")); part.mergeIn(delta.toDF("p", "k", "v"))
      flat.mergeIn(base.toDF("p", "k", "v")); flat.mergeIn(delta.toDF("p", "k", "v"))
      val a = collectSorted(part.load().select("p", "k", "v"))
      val b = collectSorted(flat.load().select("p", "k", "v"))
      assert(a == b && a.size == (base ++ delta).distinct.size)
    }
  }

  test("property: BloscCodec inverts lz4-java-compressed shuffled chunks") {
    // container built here with REAL lz4 streams (matches + literals,
    // not the fixtures' handcrafted sequences): random i64 payloads,
    // c-blosc layout (split policy, bstarts, raw-store rule), decode
    // must return the exact original bytes
    val lz4c = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    def buildChunk(data: Array[Byte], typesize: Int, blocksize: Int): Array[Byte] = {
      val nbytes = data.length
      val nblocks = (nbytes + blocksize - 1) / blocksize
      val leftover = nbytes % blocksize
      val blocks = (0 until nblocks).map { j =>
        val isLeft = j == nblocks - 1 && leftover > 0
        val ne = if (isLeft) leftover else blocksize
        val raw = java.util.Arrays.copyOfRange(data, j * blocksize, j * blocksize + ne)
        val shuf = new Array[Byte](ne) // byte-shuffle per block
        val n = ne / typesize
        for (i <- 0 until n; b <- 0 until typesize)
          shuf(b * n + i) = raw(i * typesize + b)
        val nsplits = if (!isLeft && typesize > 1 && typesize <= 16 &&
          blocksize / typesize >= 128) typesize else 1
        val slen = ne / nsplits
        (0 until nsplits).map { s =>
          val stream = java.util.Arrays.copyOfRange(shuf, s * slen, (s + 1) * slen)
          val comp = lz4c.compress(stream)
          if (comp.length >= slen) (slen, stream) else (comp.length, comp)
        }
      }
      val hdrLen = 16 + 4 * nblocks
      val bstarts = blocks.scanLeft(hdrLen)((p, ss) => p + ss.map(4 + _._1).sum)
      val total = bstarts.last
      val bb = java.nio.ByteBuffer.allocate(total)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(2.toByte).put(1.toByte).put((0x01 | (1 << 5)).toByte)
        .put(typesize.toByte)
        .putInt(nbytes).putInt(blocksize).putInt(total)
      bstarts.init.foreach(bb.putInt)
      for (ss <- blocks; (cb, payload) <- ss) { bb.putInt(cb); bb.put(payload) }
      bb.array()
    }
    val dataGen = for {
      n <- Gen.choose(130, 400) // elements of 8 bytes
      // mix of runs (compressible) and noise (raw-stored streams)
      vs <- Gen.listOfN(n, Gen.oneOf(Gen.const(7L), Gen.choose(Long.MinValue, Long.MaxValue)))
    } yield vs.toArray
    forAll(dataGen) { vals =>
      val raw = new Array[Byte](vals.length * 8)
      val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putLong)
      for (blocksize <- Seq(1024, 1536)) {
        val chunk = buildChunk(raw, 8, blocksize)
        val out = graft.sources.BloscCodec.decode(chunk, raw.length)
        assert(java.util.Arrays.equals(out, raw), s"blocksize $blocksize")
      }
    }
  }

  /** Test-side blosclz encoder (greedy over a candidate-distance set,
    * mirroring the spec): literal runs, short matches, extended
    * lengths, the 16-bit far escape. Fuzzes the main decoder far
    * beyond the 5 committed fixtures.
    */
  private def blosclzCompress(data: Array[Byte], dists: Seq[Int]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer[Byte]()
    val lit = scala.collection.mutable.ArrayBuffer[Byte]()
    def flushLit(): Unit = {
      var j = 0
      while (j < lit.length) {
        val run = math.min(32, lit.length - j)
        out += (run - 1).toByte
        out ++= lit.slice(j, j + run)
        j += run
      }
      lit.clear()
    }
    def lenBytes(l: Int): Unit = {
      if (l < 6) () // encoded in the token
      else { var rem = l - 6; while (rem >= 255) { out += 255.toByte; rem -= 255 }; out += rem.toByte }
    }
    lit += data(0)
    var i = 1
    while (i < data.length) {
      var bestLen = 0; var bestD = 0
      for (d <- dists if d <= i) {
        var l = 0
        while (i + l < data.length && data(i + l - d) == data(i + l) && l < 300) l += 1
        if (l >= 3 && l > bestLen) { bestLen = l; bestD = d }
      }
      if (bestLen >= 3) {
        flushLit()
        val L = bestLen - 3
        val tokenLen = if (L < 6) L + 1 else 7
        if (bestD <= 8191) {
          val ofs = bestD - 1
          out += ((tokenLen << 5) | (ofs >> 8)).toByte
          lenBytes(L)
          out += (ofs & 0xff).toByte
        } else {
          val o16 = bestD - 8191
          out += ((tokenLen << 5) | 31).toByte
          lenBytes(L)
          out += 255.toByte
          out += ((o16 >> 8) & 0xff).toByte
          out += (o16 & 0xff).toByte
        }
        i += bestLen
      } else { lit += data(i); i += 1 }
    }
    flushLit()
    out.toArray
  }

  test("property: BloscLz inverts spec-encoded streams (RLE, short, far, extended)") {
    val segGen = for {
      period <- Gen.oneOf(1, 5, 37, 300)
      reps <- Gen.choose(2, 6)
      base <- Gen.listOfN(period, Gen.choose(-128, 127).map(_.toByte))
      noise <- Gen.listOfN(40, Gen.choose(-128, 127).map(_.toByte))
    } yield (Seq.fill(reps)(base).flatten ++ noise).toArray
    forAll(segGen, n = 8) { data =>
      val comp = blosclzCompress(data, Seq(1, 5, 37, 300))
      val out = new Array[Byte](data.length)
      val n = graft.sources.BloscLz.decompress(comp, 0, comp.length, out, 0, data.length)
      assert(n == data.length && java.util.Arrays.equals(out, data))
    }
    // deterministic far-distance case: period 9000 > MAX_DISTANCE 8191
    val far = Array.tabulate[Byte](20000)(i => (((i % 9000) * 31 + (i % 9000) / 7) & 0xff).toByte)
    val comp = blosclzCompress(far, Seq(9000))
    val out = new Array[Byte](far.length)
    val n = graft.sources.BloscLz.decompress(comp, 0, comp.length, out, 0, far.length)
    assert(n == far.length && java.util.Arrays.equals(out, far))
    // the stream must actually contain a far escape, or this test is a no-op
    // first 9000 bytes have no match candidate (all literals); the
    // remaining 11000 must compress into a handful of far-match tokens
    assert(comp.length < 9000 + 300 * 3 + 700, "far matches not emitted")
  }

  test("property: bit-shuffle inverts for all typesizes incl. non-8-aligned tails") {
    def bitShuffle(data: Array[Byte], typesize: Int): Array[Byte] = {
      val nelem = data.length / typesize
      val n8 = nelem - nelem % 8
      val plane = n8 / 8
      val out = new Array[Byte](data.length)
      for (b <- 0 until typesize; k <- 0 until 8; g <- 0 until plane) {
        var v = 0
        for (e <- 0 until 8)
          v |= (((data((g * 8 + e) * typesize + b) >> k) & 1) << e)
        out((b * 8 + k) * plane + g) = v.toByte
      }
      System.arraycopy(data, n8 * typesize, out, n8 * typesize,
        data.length - n8 * typesize)
      out
    }
    val gen = for {
      typesize <- Gen.oneOf(1, 2, 4, 8)
      nelem <- Gen.choose(5, 60)
      bytes <- Gen.listOfN(nelem * typesize, Gen.choose(-128, 127).map(_.toByte))
    } yield (typesize, bytes.toArray)
    forAll(gen, n = 8) { case (typesize, data) =>
      val shuf = bitShuffle(data, typesize)
      val comp = {
        val d = new java.util.zip.Deflater()
        d.setInput(shuf); d.finish()
        val buf = new Array[Byte](shuf.length * 2 + 64)
        val m = d.deflate(buf); d.end()
        java.util.Arrays.copyOf(buf, m)
      }
      val stored = if (comp.length >= shuf.length) (shuf.length, shuf)
        else (comp.length, comp)
      val total = 16 + 4 + 4 + stored._1
      val bb = java.nio.ByteBuffer.allocate(total)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(2.toByte).put(1.toByte)
        .put((0x04 | (3 << 5)).toByte).put(typesize.toByte) // bitshuffle+zlib
        .putInt(data.length).putInt(data.length).putInt(total)
        .putInt(16 + 4).putInt(stored._1)
      bb.put(stored._2)
      val out = graft.sources.BloscCodec.decode(bb.array(), data.length)
      assert(java.util.Arrays.equals(out, data), s"typesize $typesize n ${data.length}")
    }
  }

  test("property: chunkTokens covers every token; stride-strided heads rebuild the doc") {
    import graft.functions.TextFns
    val cfg = for {
      nTok <- Gen.choose(1, 120)
      chunk <- Gen.choose(2, 16)
      stride <- Gen.choose(1, chunk)
    } yield (nTok, chunk, stride)
    forAll[(Int, Int, Int)](cfg, n = 6) { case (nTok, chunk, stride) =>
      val toks = (1 to nTok).map(i => s"w$i")
      val docs = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val rows = TextFns.chunkTokens(docs, "doc_id", "text", chunk, stride)
        .orderBy("chunk_id").collect()
      // chunk count = #multiples of stride below nTok
      assert(rows.length == (nTok - 1) / stride + 1)
      // chunk i = tokens [i*stride, i*stride+chunk)
      rows.zipWithIndex.foreach { case (r, i) =>
        val want = toks.slice(i * stride, i * stride + chunk)
        assert(r.getAs[String]("chunk_text") == want.mkString(" "))
        assert(r.getAs[Long]("n_chunk_tokens") == want.length.toLong)
      }
      // taking the first `stride` tokens of every chunk rebuilds the doc
      val rebuilt = rows.flatMap(
        _.getAs[String]("chunk_text").split(" ").take(stride)).toSeq
      assert(rebuilt == toks)
    }
  }

  test("property: packSequences offsets are contiguous per shard, seq ids consistent") {
    import graft.functions.TextFns
    val docGen = Gen.listOfN(20, Gen.choose(1, 40))
    forAll(docGen, Gen.choose(1, 4)) { (lens, shards) =>
      val docs = lens.zipWithIndex.map { case (len, i) =>
        (i.toLong, ("x " * len).trim) }.toDF("doc_id", "text")
      val budget = 16
      val rows = TextFns.packSequences(docs, "doc_id", "text", shards, budget)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
      rows.groupBy(_._2).foreach { case (_, rs) =>
        // in id order: each doc starts where the previous one ended
        var expect = 0L
        rs.sortBy(_._1).foreach { case (_, _, n, start, sFirst, sLast) =>
          assert(start == expect)
          assert(sFirst == start / budget)
          assert(sLast == (start + n - 1) / budget)
          expect = start + n
        }
      }
      assert(rows.map(_._3).sum == lens.map(_.toLong).sum)
    }
  }
}

/** Black-box Scala-closure evaluation — the reference's arbitrary-fn
  * parity (V1 with a genuinely opaque function): a Scala closure as a
  * UDF, and the typed-Dataset flatMap path for Dataset-returning fns
  * (combo_runner.py:493-503).
  */
class BlackBoxEvalSpec extends SparkSpec {
  import spark.implicits._

  test("opaque Scala closure over the grid via udf") {
    def mystery(a: Long, b: Long): Double = { // pretend we can't see inside
      var acc = 0.0
      for (i <- 0L until (a % 7)) acc += math.sin(i * b)
      acc + a * b
    }
    val u = udf(mystery _)
    val g = Grid.expand(spark, ComboSpec.of("a" -> (1L to 5L), "b" -> (1L to 4L)))
    val out = g.withColumn("y", u(col("a"), col("b"))).collect()
    out.foreach(r => assert(r.getDouble(2) == mystery(r.getLong(0), r.getLong(1))))
  }

  test("property: ZarrSink round-trips random sparse grids exactly — v2, " +
       "v3, and v3 sharded, across chunk/shard splits") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(20260813)
    for (trial <- 0 until 6) {
      val na = 2 + rnd.nextInt(7)      // dim-0 extent 2..8
      val nt = 1 + rnd.nextInt(4)      // inner extent 1..4
      // sparse float cells: each present with p=0.7 (absent -> NaN)
      val cells = for (a <- 0 until na; t <- 0 until nt
                       if rnd.nextDouble() < 0.7)
        yield (a.toLong, t.toLong, rnd.nextInt(1000) / 8.0)
      if (cells.nonEmpty) {
        // EVERY axis value must appear in some row (axes derive from
        // the data); missing axis values just shrink the grid
        val df = spark.createDataFrame(cells).toDF("a", "t", "v")
        val expect = cells.map { case (a, t, v) => (a, t) -> v }.toMap
        val aVals = cells.map(_._1).distinct.sorted
        val tVals = cells.map(_._2).distinct.sorted
        val configs = Seq(
          (2, 0, 8L * nt * (1 + rnd.nextInt(3))), // v2, 1-3 rows/chunk
          (3, 0, 8L * nt * (1 + rnd.nextInt(3))), // v3 plain
          (3, 1 + rnd.nextInt(2),                  // v3 sharded
            8L * nt * (2 + rnd.nextInt(4))))
        for ((fmt, innerRows, target) <- configs) {
          val dir = java.nio.file.Files
            .createTempDirectory(s"zprop$trial-$fmt").toString
          graft.sources.ZarrSink.writeDataset(df, dir, Seq("a", "t"),
            chunkTargetBytes = target, compress = trial % 2 == 0,
            zarrFormat = fmt, shardInnerRows = innerRows)
          val back = graft.sources.ZarrSource.readDataset(spark, dir)
            .select(col("a"), col("t"), col("v")).collect()
            .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
          // dense read over the derived axes: every (a,t) cell present,
          // absent long-form rows as NaN
          assert(back.size == aVals.size * tVals.size,
            s"trial $trial fmt $fmt inner $innerRows: ${back.size} cells, " +
              s"want ${aVals.size * tVals.size}")
          for (a <- aVals; t <- tVals) {
            val got = back((a, t))
            expect.get((a, t)) match {
              case Some(v) => assert(got == v,
                s"trial $trial fmt $fmt ($a,$t): $got != $v")
              case None => assert(got.isNaN,
                s"trial $trial fmt $fmt ($a,$t): $got not NaN")
            }
          }
        }
      }
    }
  }

  test("property: dtype bridge round-trips random string axes + " +
       "string/bool/complex variables exactly (zarr v2)") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(20260814)
    // alphabet spans 1-byte, 2-byte, 3-byte UTF-8 and a supplementary
    // (2-char) code point — every UCS-4 packing shape
    val alphabet = Seq("a", "Z", "é", "ж", "中", new String(Character.toChars(0x1D11E)))
    def randStr(maxLen: Int): String =
      (0 until rnd.nextInt(maxLen + 1)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    for (trial <- 0 until 4) {
      val sAxis = (0 until 2 + rnd.nextInt(3))
        .map(i => s"k$i" + randStr(3)).distinct
      val nk = 1 + rnd.nextInt(3)
      // total grid: string/bool vars have no fill
      val cells = for (s <- sAxis; k <- 0 until nk) yield {
        val tg = randStr(4)
        val fl = rnd.nextBoolean()
        val z = (rnd.nextInt(100) / 4.0, rnd.nextInt(100) / 8.0)
        (s, k.toLong, tg, fl, z._1, z._2)
      }
      val df = spark.createDataFrame(cells)
        .toDF("s", "k", "tg", "fl", "zre", "zim")
        .select(col("s"), col("k"), col("tg"), col("fl"),
          graft.functions.ComplexFns.complex(col("zre"), col("zim")).as("z"))
      val dir = java.nio.file.Files
        .createTempDirectory(s"zdtprop$trial").toString + "/st.zarr"
      graft.sources.ZarrSink.writeDataset(df, dir, Seq("s", "k"),
        compress = trial % 2 == 0)
      val back = graft.sources.ZarrSource.readDataset(spark, dir)
        .collect().map { r =>
          val z = r.getStruct(r.fieldIndex("z"))
          (r.getString(r.fieldIndex("s")), r.getLong(r.fieldIndex("k"))) ->
            ((r.getString(r.fieldIndex("tg")),
              r.getBoolean(r.fieldIndex("fl")),
              z.getDouble(0), z.getDouble(1)))
        }.toMap
      val expect = cells.map { case (s, k, tg, fl, re, im) =>
        (s, k) -> ((tg, fl, re, im))
      }.toMap
      assert(back.size == expect.size, s"trial $trial: ${back.size} cells")
      for ((key, want) <- expect)
        assert(back(key) == want, s"trial $trial $key: ${back(key)} != $want")
    }
  }

  test("Dataset-returning fn via typed flatMap (inner dims become rows)") {
    val g = Grid.expand(spark, ComboSpec.of("a" -> (1L to 3L)))
    val out = g.as[Long].flatMap { a =>
      (0 until a.toInt).map(t => (a, t, a * 10.0 + t)) // per-point time series
    }.toDF("a", "t", "y")
    assert(out.count() == 6) // 1 + 2 + 3
    assert(out.filter($"a" === 3L).select("t").as[Int].collect().sorted.toSeq
      == Seq(0, 1, 2))
  }

}
