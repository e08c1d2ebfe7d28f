package graft

import graft.batch.Crop
import graft.expand.Grid
import graft.run.{Farming, Harvester, Runner, Sampler}
import graft.spec._
import graft.store.{ConcurrentWriteException, ParquetStore}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class FarmingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-farm").toString

  test("Harvester: harvest, then missing_only skips stored points") {
    val h = Farming.harvester(spark, tmp() + "/h", Seq("a", "b"),
      "y" -> (col("a") * col("b")))
    val ds1 = h.harvestCombos(Seq(
      "a" -> Some(Seq(1L, 2L)), "b" -> Some(Seq(10L, 20L))))
    assert(ds1.count() == 4)

    // widen axis a; missing_only should evaluate ONLY the new points
    val ds2 = h.harvestCombos(Seq(
      "a" -> Some(Seq(1L, 2L, 3L)), "b" -> Some(Seq(10L, 20L))),
      missingOnly = true)
    assert(ds2.count() == 6)
    val y = ds2.filter(col("a") === 3L && col("b") === 20L)
      .select("y").as[Long].head()
    assert(y == 60L)
  }

  test("Harvester: Ellipsis axis reuses store coordinates (M10)") {
    val h = Farming.harvester(spark, tmp() + "/h2", Seq("a", "b"),
      "y" -> (col("a") + col("b")))
    h.harvestCombos(Seq("a" -> Some(Seq(1L, 2L)), "b" -> Some(Seq(5L))))
    // b -> None means "all b values the store has seen"
    val ds = h.harvestCombos(Seq("a" -> Some(Seq(3L)), "b" -> None),
      missingOnly = true)
    assert(ds.count() == 3)
    assert(ds.filter(col("a") === 3L).select("b").as[Long].head() == 5L)
  }

  test("Harvester: re-harvest same grid is a no-op under missing_only") {
    val h = Farming.harvester(spark, tmp() + "/h3", Seq("a"),
      "y" -> (col("a") * 2))
    h.harvestCombos(Seq("a" -> Some(Seq(1L, 2L))))
    val again = h.harvestCombos(Seq("a" -> Some(Seq(1L, 2L))), missingOnly = true)
    assert(again.count() == 2)
  }

  /** A harvester over `a × b` whose evaluation counts, in a UDF, every
    * point it evaluates; `built` records that `fn` was called at all. */
  private final class CountingHarvester(path: String) {
    val evaluated = spark.sparkContext.longAccumulator("evaluated")
    @volatile var built = false
    private val y = { val acc = evaluated; udf { (a: Long, b: Long) => acc.add(1); a * b } }
    val h = new Harvester(new Runner({ df => built = true; df.withColumn("y", y(col("a"), col("b"))) }),
      new ParquetStore(spark, path, Seq("a", "b")))
    def harvest(as: Seq[Long], bs: Seq[Long]) =
      h.harvestCombos(Seq("a" -> Some(as), "b" -> Some(bs)), missingOnly = true)
  }

  test("Harvester: missing_only evaluates only the missing points, once each") {
    val c = new CountingHarvester(tmp() + "/ev")
    assert(c.harvest(Seq(1L, 2L), Seq(10L, 20L)).count() == 4)
    assert(c.evaluated.value == 4)
    c.evaluated.reset()
    val ds = c.harvest(Seq(1L, 2L, 3L), Seq(10L, 20L, 30L))
    assert(c.evaluated.value == 5) // 9 requested, 4 stored
    assert(ds.count() == 9)
    assert(ds.filter(col("y") =!= col("a") * col("b")).count() == 0)
    c.evaluated.reset()
    c.harvest(Seq(1L, 3L), Seq(30L))  // fully stored: nothing to evaluate
    assert(c.evaluated.value == 0)
  }

  test("Harvester: missing_only under a foreign lease fails before evaluating") {
    val path = tmp() + "/lease"
    val c = new CountingHarvester(path)
    c.harvest(Seq(1L), Seq(10L))
    c.built = false; c.evaluated.reset()
    val lock = new java.io.FileWriter(s"$path.__lock")
    lock.write("pid=9999 op=mergeIn at=2026-08-13T00:00:00Z host=other"); lock.close()
    assertThrows[ConcurrentWriteException](c.harvest(Seq(1L, 2L), Seq(10L)))
    assert(!c.built && c.evaluated.value == 0, "eval ran without the lease")
    assert(c.h.store.load().count() == 1)
  }

  test("Runner constants reach every harvest and sample") {
    // y reads the recorded constant c, so any path that evaluates
    // without attaching it fails analysis
    val runner = Runner.ofColumns(Constants(recorded = Map("c" -> 5L)),
      "y" -> col("a") * col("c"))
    def rows(df: org.apache.spark.sql.DataFrame) = collectSorted(df.select("a", "c", "y"))
    def expect(as: Long*) = as.map(a => Seq(a, 5L, 5L * a))
    val h = new Harvester(runner, new ParquetStore(spark, tmp() + "/k", Seq("a")))
    assert(rows(h.harvestCombos(Seq("a" -> Some(Seq(1L, 2L))))) == expect(1L, 2L))
    assert(rows(h.harvestCombos(Seq("a" -> Some(Seq(1L, 2L, 3L))),
      missingOnly = true)) == expect(1L, 2L, 3L))
    assert(rows(h.harvestCases(CaseSpec(Seq("a"), Seq(Seq(4L))))) ==
      expect(1L, 2L, 3L, 4L))
    // missing_only on a store that does not exist yet (the create path)
    val fresh = new Harvester(runner, new ParquetStore(spark, tmp() + "/k2", Seq("a")))
    assert(rows(fresh.harvestCombos(Seq("a" -> Some(Seq(7L))), missingOnly = true)) ==
      expect(7L))
    val sm = new Sampler(runner, new ParquetStore(spark, tmp() + "/ks", Seq("a")))
    val sampled = sm.sample(ComboSpec.of("a" -> (1L to 10L)), 3, seed = 1)
    assert(sampled.count() == 3)
    assert(sampled.filter(col("c") =!= 5L || col("y") =!= col("a") * 5L).count() == 0)
  }

  test("Sampler: n rows appended per sample call, all from the grid") {
    val sm = Farming.sampler(spark, tmp() + "/s", Seq("a", "b"),
      "y" -> (col("a") - col("b")))
    val combos = ComboSpec.of("a" -> (1L to 10L), "b" -> (1L to 10L))
    sm.sample(combos, 5, seed = 1)
    val after = sm.sample(combos, 5, seed = 2)
    assert(after.count() == 10)
    assert(after.filter(col("y") =!= col("a") - col("b")).count() == 0)
  }
}

class CropSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-crop").toString

  private val evalFn: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    df => df.withColumn("y", col("a") * 100 + col("b"))

  test("B2: batch-count math incl. remainder (cropping.py:236-288)") {
    val c = new Crop(spark, tmp(), Seq("a"))
    assert(c.numBatchesFor(10, Some(3), None) == 4)
    assert(c.numBatchesFor(10, None, Some(4)) == 4)
    assertThrows[IllegalArgumentException](c.numBatchesFor(10, None, None))
    assertThrows[IllegalArgumentException](c.numBatchesFor(10, Some(2), Some(5)))
  }

  test("sow/grow/reap round-trip equals the in-memory run (cropping.py:104-144)") {
    val crop = new Crop(spark, tmp(), Seq("a", "b"))
    val combos = ComboSpec.of("a" -> (1L to 4L), "b" -> (1L to 3L))
    val grid = Grid.expand(spark, combos)
    val nb = crop.sow(grid, batchSize = Some(5))
    assert(nb == 3 && crop.isSown)
    assert(crop.missingBatches() == Seq(0L, 1L, 2L))

    crop.grow(0L, evalFn)
    assert(crop.progress() == ((1, 3)))
    assert(crop.missingBatches() == Seq(1L, 2L))

    // incomplete reap: unvisited points come back with NULL y
    // (batchSize=5 over 12 rows → 3 balanced batches of 4 — remainder
    // spread, cropping.py:236-288; batch 0 grown → 8 points pending)
    val partial = crop.reap(allowIncomplete = true)
    assert(partial.count() == 12)
    assert(partial.filter(col("y").isNull).count() == 8)
    assertThrows[IllegalStateException](crop.reap())

    crop.growMissing(evalFn)
    assert(crop.progress() == ((3, 3)))
    val full = crop.reap()
    val direct = evalFn(grid)
    assert(collectSorted(full.select("a", "b", "y")) ==
      collectSorted(direct.select("a", "b", "y")))
  }

  test("B4/B8: regrow overwrites a batch idempotently") {
    val crop = new Crop(spark, tmp(), Seq("a"))
    crop.sow(Seq(1L, 2L, 3L, 4L).toDF("a"), numBatches = Some(2))
    crop.growMissing(df => df.withColumn("y", col("a")))
    crop.grow(0L, df => df.withColumn("y", col("a") * 10)) // regrow
    val ys = crop.reap().orderBy("a").select("y").as[Long].collect().toSeq
    // batch 0 (a=1,2) regrown with *10; batch 1 untouched
    assert(ys == Seq(10L, 20L, 3L, 4L))
    assert(crop.checkBad().isEmpty)
  }

  test("B8: checkBad flags unreadable result partitions, not ungrown batches") {
    val dir = tmp()
    val crop = new Crop(spark, dir, Seq("a"))
    crop.sow((1L to 6L).toDF("a"), numBatches = Some(3))
    crop.grow(0L, evalFn2)
    crop.grow(1L, evalFn2)
    // half grown: batch 2 has no result partition yet — missing, not bad
    assert(crop.missingBatches() == Seq(2L))
    assert(crop.checkBad().isEmpty)
    // a corrupted part file in a grown batch must still be flagged
    val part = new java.io.File(s"$dir/results/batch_id=1").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.write(part.toPath, "not parquet".getBytes("UTF-8"))
    assert(crop.checkBad() == Seq(1L))
    crop.grow(1L, evalFn2) // regrowth overwrites the bad partition
    assert(crop.checkBad().isEmpty)
  }

  test("growMissingBulk: one job, same results and resumability as per-batch") {
    val crop = new Crop(spark, tmp(), Seq("a"))
    crop.sow((1L to 8L).toDF("a"), numBatches = Some(4))
    crop.grow(0L, evalFn2) // one batch already done
    val grown = crop.growMissingBulk(evalFn2)
    assert(grown == Seq(1L, 2L, 3L))
    assert(crop.progress() == ((4, 4)))
    assert(collectSorted(crop.reap().select("a", "y")) ==
      collectSorted(evalFn2((1L to 8L).toDF("a")).select("a", "y")))
  }

  private val evalFn2: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    df => df.withColumn("y", col("a") * 7)

  test("E7 weighted: sampleWeighted respects support and rough proportions") {
    val df = Grid.sampleWeighted(spark, 2000,
      Seq("a" -> Seq((1L, 0.8), (2L, 0.2)), "b" -> Seq(("x", 1.0))), seed = 5)
    assert(df.count() == 2000)
    assert(df.select("b").distinct().collect().map(_.getString(0)).toSeq == Seq("x"))
    val counts = df.groupBy("a").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(1L, 2L))
    val p1 = counts(1L).toDouble / 2000
    assert(p1 > 0.7 && p1 < 0.9, s"p(a=1) = $p1")
  }

  test("E7 weighted: >=3-value axis proportions are unbiased") {
    // regression for the rand-reuse bias: each when-branch re-drawing its
    // own uniform skews 0.6/0.2/0.2 towards ~0.6/0.32/0.08 — a 2-value
    // axis can't see it because there is only one branch
    val n = 20000L
    val df = Grid.sampleWeighted(spark, n,
      Seq("a" -> Seq((1L, 0.6), (2L, 0.2), (3L, 0.2))), seed = 11)
    val counts = df.groupBy("a").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(1L, 2L, 3L))
    val (p1, p2, p3) = (counts(1L).toDouble / n, counts(2L).toDouble / n,
      counts(3L).toDouble / n)
    // 3-sigma at n=20k is ~±0.010; use ±0.03 for slack
    assert(math.abs(p1 - 0.6) < 0.03, s"p1=$p1")
    assert(math.abs(p2 - 0.2) < 0.03, s"p2=$p2")
    assert(math.abs(p3 - 0.2) < 0.03, s"p3=$p3")
  }

  test("B11: loadCrops discovers sown crops") {
    val parent = tmp()
    val c1 = new Crop(spark, s"$parent/c1", Seq("a"))
    c1.sow(Seq(1L).toDF("a"), numBatches = Some(1))
    new Crop(spark, s"$parent/not-sown", Seq("a")) // never sown
    assert(Crop.loadCrops(spark, parent, Seq("a")).size == 1)
  }
}
