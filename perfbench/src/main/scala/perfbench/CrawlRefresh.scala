package perfbench

import graft.Materialize
import graft.dedup.{DedupSnapshot, SketchStore}
import graft.functions.{Boilerplate, QualityClassifier, TextFns}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}
import scala.collection.mutable

/** The crawl refresh lifecycle: set-up builds the dedup snapshot, the
  * sketch store and the quality classifier over a seeded store; each
  * round refreshes one seeded delta through clean, quality gate,
  * snapshot and sketch ingest (both committing), then the release: the
  * 5-gram perplexity buckets and a census over the released corpus. */
final class CrawlRefresh(ctx: Ctx, hashDir: String) extends Workload {
  import Inputs.Crawl._

  private val spark = ctx.spark
  private val dir = s"${ctx.work}/crawl"
  override val maxRounds = 8
  private lazy val storeDocs0 = store(ctx.seed)
  private lazy val deltas = (0 until maxRounds).map(delta(ctx.seed, _, storeDocs0))

  private var snap: DedupSnapshot = _
  private var skst: SketchStore = _
  private var weights: Array[Long] = _
  private var mu = 0L
  private val contained = mutable.Set.empty[Long]
  private val ingested = mutable.ArrayBuffer.empty[Int]
  private val hashes = mutable.ArrayBuffer.empty[String]
  private var uniqueEveryRound = true

  // traced-run counters
  private var gatedDocs = 0L
  private var droppedDocs = 0L
  private var plantedGated = 0L
  private var plantedDropped = 0L

  def generate(): Unit = {
    import spark.implicits._
    storeDocs0.toDF().write.mode("overwrite").parquet(s"$dir/store.parquet")
    deltas.zipWithIndex.flatMap { case (d, r) => d.docs.map(x => (r, x)) }
      .map { case (r, x) => (r, x.doc_id, x.text, x.lang, x.source) }
      .toDF("round", "doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/deltas.parquet")
  }

  def setup(rep: Int): Unit = {
    val docs = spark.read.parquet(s"$dir/store.parquet")
    snap = new DedupSnapshot(spark, "pb_snap", nBuckets = ctx.cores, n = 3, bands = 16,
      rows = 4, threshold = 0.8, bucketCap = 100000)
    ctx.call("dedup", "DedupSnapshot.writeCorpus")(
      snap.writeCorpus(docs, "doc_id", "text", keepCols = Seq("lang", "text")))
    skst = new SketchStore(spark, "pb_sk", nBuckets = ctx.cores, n = 3, k = 32,
      threshold = 0.8, bucketCap = 100000)
    ctx.call("dedup", "SketchStore.build")(skst.build(docs, "doc_id", "text"))
    val (w, scored) = ctx.call("functions", "QualityClassifier.fitScore")(
      QualityClassifier.fitScore(docs, "doc_id", "text",
        col("source").isin((0 until 5).map(i => s"src$i"): _*), dim = 64, iters = 4))
    weights = w
    mu = ctx.call("functions", "gate mean")(
      scored.agg(expr("sum(score_micro) div count(1)")).head().getLong(0))
    ctx.call("materialize", "Materialize.releaseAll")(Materialize.releaseAll())
    contained.clear(); ingested.clear(); hashes.clear()
  }

  def round(i: Int): Long = {
    val d = deltas(i)
    val raw = spark.read.parquet(s"$dir/deltas.parquet")
      .filter(col("round") === i).drop("round")
    val cleaned = ctx.call("functions", "Boilerplate.clean") {
      val c = Materialize.reuse(raw
        .withColumn("text", Boilerplate.clean(col("text")).getField("clean"))
        .filter(!lower(col("text")).contains("lorem ipsum") &&
          !col("text").contains("{")))
      c.count()
      c
    }
    val gated = ctx.call("functions", "QualityClassifier.scoreWith") {
      val g = Materialize.reuse(cleaned.join(
        QualityClassifier.scoreWith(cleaned, "doc_id", "text", weights, dim = 64)
          .filter(col("score_micro") >= mu).select("doc_id"), Seq("doc_id")))
      g.count()
      g
    }
    val surv = ctx.call("dedup", "DedupSnapshot.ingestDelta")(
      snap.ingestDelta(gated.select("doc_id", "lang", "text"), "doc_id", "text",
        keepCols = Seq("lang", "text"), commit = true))
    if (ctx.tracing) countDrops(d, gated, surv)
    ingested += i
    val cont = ctx.call("dedup", "SketchStore.ingestDelta")(Materialize.truncate(
      skst.ingestDelta(surv.select("doc_id", "text"), "doc_id", "text", commit = true)
        .select(col("id_b").as("doc_id")).distinct()))
    contained ++= ctx.call("dedup", "contained ids")(cont.collect().map(_.getLong(0)))
    val released = Materialize.reuse(snap.corpus().select("doc_id", "lang", "text")
      .join(broadcast(spark.createDataFrame(contained.toSeq.map(Tuple1(_)))
        .toDF("doc_id")), Seq("doc_id"), "left_anti"))
    val buckets = ctx.call("functions", "TextFns.perplexityBuckets5")(
      TextFns.perplexityBuckets5(released, "doc_id", "text", "lang")
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n"), bit_xor(xxhash64(col("doc_id"))).as("h"))
        .collect())
    val census = ctx.call("functions", "release census")(
      released.groupBy("lang").agg(count(lit(1)).as("n_docs"),
        countDistinct("doc_id").as("n_ids"),
        sum(size(TextFns.tokens(col("text"))).cast("long")).as("total_tokens"),
        sum((col("doc_id") >= storeDocs).cast("long")).as("n_new"),
        bit_xor(xxhash64(col("doc_id"), col("lang"), col("text"))).as("h"))
        .collect())
    ctx.call("materialize", "Materialize.releaseAll")(Materialize.releaseAll())
    if (census.exists(r => r.getLong(1) != r.getLong(2))) uniqueEveryRound = false
    hashes += md5((census.map(_.toString) ++ buckets.map(_.toString)).sorted.mkString("|"))
    deltaDocs.toLong
  }

  /** Docs and planted duplicates the snapshot ingest dropped. */
  private def countDrops(d: Inputs.Delta, gated: DataFrame, surv: DataFrame): Unit = {
    val in = gated.select("doc_id").collect().map(_.getLong(0)).toSet
    val out = surv.select("doc_id").collect().map(_.getLong(0)).toSet
    val planted = in.intersect(d.exactDups ++ d.nearDups)
    gatedDocs += in.size
    droppedDocs += (in -- out).size
    plantedGated += planted.size
    plantedDropped += (planted -- out).size
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  def check(): Unit = {
    val ids = snap.corpus().select("doc_id").collect().map(_.getLong(0))
    ctx.ledger.check("released doc_ids are unique")(
      uniqueEveryRound && ids.distinct.length == ids.length)
    val exact = ingested.flatMap(r => deltas(r).exactDups).toSet
    ctx.ledger.check("every planted exact duplicate is removed")(
      exact.nonEmpty && !ids.exists(exact.contains))
    ctx.ledger.check("fresh delta documents are released")(
      ids.exists(_ >= storeDocs))
    ctx.ledger.check("artifact hash is identical across runs of the seed")(
      sameHashesAsEarlierRuns())
  }

  /** Per-round artifact hashes of this seed, compared with (and
    * extending) the ones earlier runs recorded. */
  private def sameHashesAsEarlierRuns(): Boolean = {
    val f = Paths.get(hashDir, s"crawl_refresh-${ctx.seed}.txt")
    JFiles.createDirectories(f.getParent)
    val earlier =
      if (JFiles.exists(f)) new String(JFiles.readAllBytes(f), StandardCharsets.UTF_8)
        .split('\n').filter(_.nonEmpty).toSeq
      else Nil
    val agree = earlier.zip(hashes).forall { case (a, b) => a == b }
    if (agree && hashes.size > earlier.size)
      JFiles.write(f, hashes.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    agree && hashes.nonEmpty
  }

  override def extras(): Map[String, Double] = Map(
    "dedup.removed_frac" ->
      (if (gatedDocs > 0) droppedDocs.toDouble / gatedDocs else 0.0),
    "dedup.planted_recall" ->
      (if (plantedGated > 0) plantedDropped.toDouble / plantedGated else 0.0))
}
