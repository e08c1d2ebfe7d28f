package graft

import graft.collect.Collect
import graft.expand.Grid
import graft.functions.TextFns
import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.stats.CovState
import graft.store.Merge
import org.apache.spark.sql.functions._

/** Direct tests for the smaller utilities exercised only indirectly
  * elsewhere. */
class CoverageSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCountBpeIsh counts words, digit runs and punctuation") {
    val df = Seq("hello, world 42!").toDF("text")
    // tokens: hello , world 42 !  → 5
    assert(df.select(TextFns.tokenCountBpeIsh(col("text"))).head().getInt(0) == 5)
  }

  test("punctRatio and meanTokenLen") {
    val df = Seq("ab, cd!").toDF("text") // 2 punct / 7 chars
    val r = df.select(TextFns.punctRatio(col("text")),
      TextFns.meanTokenLen(col("text"))).head()
    assert(math.abs(r.getDouble(0) - 2.0 / 7) < 1e-12)
    assert(r.getDouble(1) == 3.0) // "ab," and "cd!" both length 3
  }

  test("wordSetHits counts repeats") {
    val df = Seq("the cat the dog").toDF("text")
    assert(df.select(TextFns.wordSetHits(col("text"), Seq("the"))).head()
      .getInt(0) == 2)
  }

  test("sampleEveryK keeps exactly the k-residue class") {
    val g = Grid.expand(spark, graft.spec.ComboSpec.of("a" -> (0L to 9L)))
    val s = Grid.sampleEveryK(g, "a", k = 3, offset = 1)
    assert(s.as[Long].collect().sorted.toSeq == Seq(1L, 4L, 7L))
  }

  test("mergeAll folds N stores left to right") {
    val stores = Seq(
      Seq((1L, Some(1.0))).toDF("k", "v"),
      Seq((2L, Some(2.0))).toDF("k", "v"),
      Seq((3L, Some(3.0))).toDF("k", "v"))
    val m = Merge.mergeAll(stores, Seq("k"))
    assert(m.count() == 3)
  }

  test("CovState.merge equals single-pass state") {
    val pts = Seq((1.0, 2.0), (2.0, 1.0), (3.0, 5.0), (4.0, 3.0))
    val (l, r) = pts.splitAt(2)
    def of(xs: Seq[(Double, Double)]) =
      xs.foldLeft(CovState.zero) { case (s, (x, y)) => s.add(x, y) }
    val merged = of(l).merge(of(r))
    assert(math.abs(merged.covSamp - of(pts).covSamp) < 1e-12)
    assert(CovState.zero.merge(of(pts)).covSamp == of(pts).covSamp)
  }

  test("CovState.covPop matches covar_pop (S2 without Bessel's correction)") {
    val pts = Seq((1.0, 2.0), (2.0, 1.0), (3.0, 5.0), (4.0, 3.0), (6.0, 4.0))
    val st = pts.foldLeft(CovState.zero) { case (s, (x, y)) => s.add(x, y) }
    val ref = pts.toDF("x", "y").agg(covar_pop("x", "y")).head().getDouble(0)
    assert(math.abs(st.covPop - ref) < 1e-12)
    assert(math.abs(st.covPop - st.covSamp * 4 / 5) < 1e-12)
    assert(CovState.zero.covPop.isNaN)
  }

  test("CaseSpec.fromTuples and fromMaps build the same cases (xyzpy's tuple and dict cases)") {
    val byTuple = graft.spec.CaseSpec.fromTuples(Seq("a", "b"), Seq((1, "x"), (2, "y")))
    val byMap = graft.spec.CaseSpec.fromMaps(Seq("a", "b"),
      Seq(Map("b" -> "x", "a" -> 1), Map("a" -> 2, "b" -> "y")))
    assert(byTuple == graft.spec.CaseSpec(Seq("a", "b"), Seq(Seq(1, "x"), Seq(2, "y"))))
    assert(byMap == byTuple)
    intercept[IllegalArgumentException](
      graft.spec.CaseSpec.fromTuples(Seq("a", "b"), Seq(Tuple1(1))))
  }

  test("l2Normalize produces unit vectors") {
    val df = Seq(Seq(3.0, 4.0)).toDF("v")
    val n = df.select(graft.functions.VectorExprs.l2Normalize(col("v"))).head().getSeq[Double](0)
    assert(n == Seq(0.6, 0.8))
  }

  test("jitter preserves the mean roughly and the count exactly") {
    val df = spark.range(1000).select(lit(10.0).as("x"))
    val j = graft.reduce.Reduce.jitter(df, "x", scale = 0.1, seed = 7)
    assert(j.count() == 1000)
    val mean = j.agg(avg("x")).head().getDouble(0)
    assert(math.abs(mean - 10.0) < 0.05)
  }

  test("stackDims fuses dims into a composite key") {
    val df = Seq((1L, "x", 5.0)).toDF("a", "b", "v")
    val s = Collect.stackDims(df, Seq("a", "b"), "ab")
    assert(s.select("ab").head().getString(0) == "1|x")
  }

  test("resizeTo box-filters real PNGs to the target dims (exact means)") {
    // 4x2 image with known pixels -> 2x1: each output pixel is the
    // floor-mean of its 2x2 source block
    val px = Array[Byte](10, 20, 30, 40,
                         50, 60, 70, 81)
    val png = graft.multimodal.PngCodec.encode(px, 4, 2)
    val media = Multimodal.asMedia(
      Seq((1L, png)).toDF("id", "c"), "id", "c", "image", "image/png")
    val r = Multimodal.resizeTo(media, 2, 1).collect()(0)
    assert(r.getInt(4) == 2 && r.getInt(5) == 1)
    val (w, h, out) = graft.multimodal.PngCodec.decode(r.getAs[Array[Byte]](2))
    assert((w, h) == (2, 1))
    // blocks: {10,20,50,60} -> 35; {30,40,70,81} -> floor(221/4)=55
    assert(out.map(_ & 0xff).toSeq == Seq(35, 55))
    // upsample degenerate: newH > h leaves empty blocks as 0
    val up = Multimodal.resizeTo(media, 2, 3).collect()(0)
    val (_, h3, out3) = graft.multimodal.PngCodec.decode(up.getAs[Array[Byte]](2))
    assert(h3 == 3 && out3.length == 6)
  }

  test("winnowFingerprint shorter than shingle count, non-empty") {
    val text = (1 to 40).map(i => s"t$i").mkString(" ")
    val df = Seq(text).toDF("text")
    val fp = df.select(TextFns.winnowFingerprint(col("text")).as("fp"))
      .head().getSeq[Long](0)
    assert(fp.nonEmpty && fp.size <= 40)
  }
}
