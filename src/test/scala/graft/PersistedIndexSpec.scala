package graft

import graft.similarity.Similarity
import graft.similarity.Similarity.PersistedIndex
import org.apache.spark.sql.functions._

/** Incremental persisted-index lifecycle: build → append (no refit) →
  * drift accounting → refit, with answer parity between the
  * incrementally-maintained index and a from-scratch rebuild on the
  * planted probes.
  */
class PersistedIndexSpec extends SparkSpec {
  import spark.implicits._

  // deterministic 16-dim corpus: 4 well-separated direction blobs with
  // per-row jitter LARGE enough that every row's direction is unique
  // (cosine gaps ≫ the 1e-3 probe perturbation — near-tie sources
  // would make "nearest neighbor" ill-defined across quantizers)
  private def corpus(n: Int) = {
    val rows = (0 until n).map { i =>
      val blob = i % 4
      val v = Array.tabulate(16) { j =>
        val base = if (j / 4 == blob) 10.0 else 0.0
        base + 0.5 * (((i * 2654435761L + j * 40503L) % 1000L) / 500.0 - 1.0)
      }
      (i.toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-pidx").toString

  test("build -> append stores every row exactly once and tracks drift") {
    val all = corpus(200)
    val base = all.filter(col("vec_id") < 150)
    val delta = all.filter(col("vec_id") >= 150)
    val root = tmp()
    PersistedIndex.build(base, "vec_id", "embedding", root,
      kLists = 4, m = 4, kCodes = 8)
    assert(PersistedIndex.corpus(spark, root).count() == 150)
    val r = PersistedIndex.append(delta, "vec_id", "embedding", root)
    assert(PersistedIndex.corpus(spark, root).count() == 200)
    assert(math.abs(r.drift - 50.0 / 150.0) < 1e-12)
    assert(!r.needsRefit)
    // appended rows carry the same schema: centroid + code columns
    val cols = PersistedIndex.corpus(spark, root).columns.toSet
    assert(cols.contains("centroid") && cols.contains("code_0"))
  }

  test("drift accumulates across appends and trips the refit threshold") {
    val all = corpus(200)
    val base = all.filter(col("vec_id") < 100)
    val root = tmp()
    PersistedIndex.build(base, "vec_id", "embedding", root,
      kLists = 4, m = 4, kCodes = 8)
    val r1 = PersistedIndex.append(
      all.filter(col("vec_id") >= 100 && col("vec_id") < 140),
      "vec_id", "embedding", root)
    assert(math.abs(r1.drift - 0.4) < 1e-12 && !r1.needsRefit)
    val r2 = PersistedIndex.append(
      all.filter(col("vec_id") >= 140 && col("vec_id") < 160),
      "vec_id", "embedding", root)
    assert(math.abs(r2.drift - 0.6) < 1e-12 && r2.needsRefit)
    // refit: rebuilds on the full 160-row store, resets the counter
    PersistedIndex.refit(spark, root, "vec_id", "embedding",
      kLists = 4, m = 4, kCodes = 8)
    assert(PersistedIndex.corpus(spark, root).count() == 160)
    val r3 = PersistedIndex.append(
      all.filter(col("vec_id") >= 160 && col("vec_id") < 168),
      "vec_id", "embedding", root)
    assert(math.abs(r3.drift - 8.0 / 160.0) < 1e-12 && !r3.needsRefit)
  }

  test("append is leased: a concurrent holder fails loudly, breakLease recovers") {
    val all = corpus(60)
    val root = tmp()
    PersistedIndex.build(all.filter(col("vec_id") < 40), "vec_id", "embedding",
      root, kLists = 4, m = 4, kCodes = 8)
    // simulate a concurrent writer: plant the index-root lease
    val lock = graft.store.WriteLease.lockPathFor(root)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lock, false)
    out.write("pid=other op=index-append".getBytes); out.close()
    val e = intercept[graft.store.ConcurrentWriteException] {
      PersistedIndex.append(all.filter(col("vec_id") >= 40),
        "vec_id", "embedding", root)
    }
    assert(e.getMessage.contains("breakLease"))
    // nothing was appended under contention
    assert(PersistedIndex.corpus(spark, root).count() == 40)
    PersistedIndex.breakLease(spark, root)
    assert(!fs.exists(lock))
    val r = PersistedIndex.append(all.filter(col("vec_id") >= 40),
      "vec_id", "embedding", root)
    assert(PersistedIndex.corpus(spark, root).count() == 60)
    assert(math.abs(r.drift - 0.5) < 1e-12 && r.needsRefit)
  }

  test("delete tombstones: query excludes, re-append fails loudly, refit compacts") {
    val all = corpus(120)
    val root = tmp()
    PersistedIndex.build(all, "vec_id", "embedding", root,
      kLists = 4, m = 4, kCodes = 8)
    // probe at source vector 8; delete id 8 -> its nearest LIVE
    // neighbor must win instead
    val probe = all.filter(col("vec_id") === 8L)
      .collect().map(r => (9008L, r.getSeq[Double](1).map(_ + 0.001): Seq[Double])).toSeq
    def top1(c: org.apache.spark.sql.DataFrame): Long = {
      val h = PersistedIndex.load(spark, root)
      Similarity.ivfAdcQueryBatch(h.ivf, h.pq, c, "vec_id", "embedding",
        probe, kOut = 1, nprobe = 4).collect().head.getLong(1)
    }
    assert(top1(PersistedIndex.liveCorpus(spark, root, "vec_id")) == 8L)
    PersistedIndex.delete(Seq(8L).toDF("vec_id"), "vec_id", root)
    val next = top1(PersistedIndex.liveCorpus(spark, root, "vec_id"))
    assert(next != 8L)
    // next-best matches a rebuild-without-deleted oracle
    val rootOracle = tmp()
    PersistedIndex.build(all.filter(col("vec_id") =!= 8L), "vec_id",
      "embedding", rootOracle, kLists = 4, m = 4, kCodes = 8)
    val hO = PersistedIndex.load(spark, rootOracle)
    val oracleNext = Similarity.ivfAdcQueryBatch(hO.ivf, hO.pq,
      PersistedIndex.corpus(spark, rootOracle), "vec_id", "embedding",
      probe, kOut = 1, nprobe = 4).collect().head.getLong(1)
    assert(next == oracleNext)
    // append of a tombstoned id FAILS LOUDLY (advisor r12: a silent
    // discard looked like data loss for a legitimate re-add; the id is
    // frozen until refit compacts it out of the physical store)
    val ex = intercept[graft.store.TombstonedIdsException] {
      PersistedIndex.append(all.filter(col("vec_id") === 8L),
        "vec_id", "embedding", root)
    }
    assert(ex.n == 1L)
    // ...unless skipping is requested EXPLICITLY, which surfaces the
    // count instead of throwing and leaves the tombstone in force
    val skipped = PersistedIndex.append(all.filter(col("vec_id") === 8L),
      "vec_id", "embedding", root, skipTombstoned = true)
    assert(skipped.nSkippedTombstoned == 1L)
    assert(top1(PersistedIndex.liveCorpus(spark, root, "vec_id")) == next)
    // refit folds tombstones: physical row gone, tombstone dir gone
    PersistedIndex.refit(spark, root, "vec_id", "embedding",
      kLists = 4, m = 4, kCodes = 8)
    assert(PersistedIndex.corpus(spark, root).count() == 119)
    assert(PersistedIndex.corpus(spark, root)
      .filter(col("vec_id") === 8L).isEmpty)
    assert(PersistedIndex.tombstones(spark, root).isEmpty)
    assert(top1(PersistedIndex.liveCorpus(spark, root, "vec_id")) == next)
    // ...and the id can genuinely return after compaction
    PersistedIndex.append(all.filter(col("vec_id") === 8L),
      "vec_id", "embedding", root)
    assert(top1(PersistedIndex.liveCorpus(spark, root, "vec_id")) == 8L)
  }

  test("string-keyed index: delete stores ids as written; live corpus and append honour them") {
    val all = corpus(40).select(
      concat(lit("v"), col("vec_id").cast("string")).as("vec_id"), col("embedding"))
    val root = tmp()
    PersistedIndex.build(all, "vec_id", "embedding", root,
      kLists = 2, m = 4, kCodes = 4)
    PersistedIndex.delete(Seq("v3", "v8").toDF("vec_id"), "vec_id", root)
    val live = PersistedIndex.liveCorpus(spark, root, "vec_id")
      .select("vec_id").as[String].collect().toSet
    assert(live == (0 until 40).map(i => s"v$i").toSet -- Set("v3", "v8"))
    val ex = intercept[graft.store.TombstonedIdsException] {
      PersistedIndex.append(all.filter(col("vec_id") === "v8"),
        "vec_id", "embedding", root)
    }
    assert(ex.n == 1L)
    assert(PersistedIndex.corpus(spark, root).count() == 40)
  }

  test("incrementally-appended index answers match a from-scratch rebuild") {
    val all = corpus(200)
    val base = all.filter(pmod(col("vec_id"), lit(4L)) =!= 0L)
    val delta = all.filter(pmod(col("vec_id"), lit(4L)) === 0L)
    // planted probes off both base and delta source vectors
    val probes = all.filter(col("vec_id") < 12)
      .collect().map { r =>
        val v = r.getSeq[Double](1)
        (1000L + r.getLong(0), v.map(_ + 0.001): Seq[Double])
      }.toSeq
    def top1(h: PersistedIndex.Handle, c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfAdcQueryBatch(h.ivf, h.pq, c, "vec_id", "embedding",
        probes, kOut = 1, nprobe = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rootInc = tmp()
    PersistedIndex.build(base, "vec_id", "embedding", rootInc,
      kLists = 4, m = 4, kCodes = 8)
    PersistedIndex.append(delta, "vec_id", "embedding", rootInc)
    val hInc = PersistedIndex.load(spark, rootInc)
    val gotInc = top1(hInc, PersistedIndex.corpus(spark, rootInc))
    val rootFull = tmp()
    val hFull = PersistedIndex.build(all, "vec_id", "embedding", rootFull,
      kLists = 4, m = 4, kCodes = 8)
    val gotFull = top1(hFull, PersistedIndex.corpus(spark, rootFull))
    assert(gotInc == gotFull)
    // and both find the planted source vector
    probes.foreach { case (qid, _) => assert(gotInc(qid) == qid - 1000L) }
  }
}
