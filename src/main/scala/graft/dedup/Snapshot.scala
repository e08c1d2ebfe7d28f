package graft.dedup

import graft.functions.TextFns
import graft.stats.Benchmarking
import graft.store.{StoreWrite, WriteLease}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental cross-snapshot deduplication: dedup a NEW crawl delta
  * against an EXISTING harvested corpus without re-scanning all pairs
  * — the monthly-crawl-refresh shape every production pipeline runs
  * (the reference's harvesting loop merges new runs into an on-disk
  * store the same way, `manage.py` merge/sync; here the store carries
  * the dedup side-indexes a 100 TB refresh needs).
  *
  * Four catalog tables, all written ONCE at corpus build and reused by
  * every delta, through the bucket-aligned catalog-table writer
  * [[graft.store.StoreWrite.writeBucketed]] that [[graft.store.BucketedStore]]
  * uses too (bucketed+sorted tables join/aggregate store-side with NO
  * exchange), under one [[graft.store.WriteLease]] for all of them:
  *
  *  - `<prefix>_corpus`  (doc_id, <keep cols>, fp): the surviving
  *    corpus rows, bucketed by fp.
  *  - `<prefix>_seen`    (id, fp), bucketed by fp: the exact-dedup
  *    census over every doc the pipeline has ACCEPTED INTO THE EXACT
  *    STAGE so far (exact survivors — includes docs later dropped as
  *    near-dups; a delta doc equal to either must still drop).
  *  - `<prefix>_sigs`    (id, band, bucket), bucketed by (band,
  *    bucket): MinHash band buckets of the same population — the
  *    delta's banded join probes these without touching corpus text.
  *  - `<prefix>_shingles` (id, h array<long>), bucketed by id: hashed
  *    shingle sets for exact-Jaccard verification of cross pairs.
  *    ~1% the corpus size (the d2/d3 materialization argument).
  *
  * [[ingestDelta]] touches ONLY the three side tables — the stored
  * corpus is never re-read, re-tokenized, or re-shingled (spec-pinned:
  * dropping the corpus table does not affect delta dedup). Per-delta
  * cost is O(|delta| + matched buckets), not O(|store|).
  *
  * Survivor-set contract (the d11 oracle): with store ids < delta ids
  * (crawl ids are monotone across snapshots), `ingestDelta` returns
  * EXACTLY the delta rows a from-scratch run of the same pipeline
  * (exact keep-first per fingerprint, then near-dup connected
  * components keeping each cluster's min id) over store ∪ delta would
  * keep. Sketch: a delta doc is dropped from-scratch iff its CC
  * cluster contains a smaller id; every delta→store path's first
  * store contact is a cross edge the incremental graph also has, so
  * the two graphs agree on "cluster contains a store id", and
  * delta-only clusters have identical edges. Store-internal edges only
  * merge clusters that already drop their delta members.
  */
final class DedupSnapshot(val spark: SparkSession, val prefix: String,
                          val nBuckets: Int = 8, val n: Int = 3,
                          val bands: Int = 16, val rows: Int = 4,
                          val threshold: Double = 0.8,
                          val bucketCap: Int = 100000) {
  private val corpusT = s"${prefix}_corpus"
  private val seenT = s"${prefix}_seen"
  private val sigsT = s"${prefix}_sigs"
  private val shinglesT = s"${prefix}_shingles"
  private val tombsT = s"${prefix}_tombs"

  /** What the single-writer lease over all five tables is keyed on
    * (the store contract): a concurrent build/commit fails loudly,
    * never silently interleaves. */
  private[graft] val leaseDest =
    spark.conf.get("spark.sql.warehouse.dir") + s"/graft-snap-$prefix"

  /** Remove a verified-stale lease left by a crashed writer. */
  def breakLease(): Unit = WriteLease.breakLease(spark, leaseDest)

  private def writeBucketed(df: DataFrame, tbl: String,
                            keys: Seq[String], mode: SaveMode): Unit =
    StoreWrite.writeBucketed(spark, df, tbl, nBuckets, keys, mode)

  def corpus(): DataFrame = spark.table(corpusT)

  /** The pending tombstone ids `(id)` — empty until a [[takedown]],
    * cleared by the next [[writeCorpus]] rebuild. Public so a release
    * AUDIT (cp9) can count erased ids in downstream artifacts — the
    * check a data-protection officer actually asks for. */
  def tombstones(): DataFrame =
    if (spark.catalog.tableExists(tombsT)) spark.table(tombsT)
    else spark.range(0).select(col("id"))

  /** [[corpus]] minus tombstoned ids — the read every consumer should
    * use after any [[takedown]]; `idCol` names the id column the
    * corpus was written with. */
  def liveCorpus(idCol: String): DataFrame =
    minusTombs(spark.table(corpusT), idCol)

  /** Right-to-erasure for the SNAPSHOT (d15) — the n10 contract
    * applied to the dedup store: deletion is a delta-sized tombstone
    * append under the lease (never a store rewrite — at 10¹¹ rows a
    * physical delete re-shuffles four tables to drop a handful of
    * ids), and every subsequent read — [[liveCorpus]] and ALL of
    * [[ingestDelta]]'s side-table probes — anti-joins the tombstone
    * sliver (broadcast at any realistic takedown size). A removed
    * doc therefore vanishes from dedup memory: an identical or
    * near-identical delta doc arriving later SURVIVES ingestion
    * instead of being dropped against the erased row.
    *
    * Fidelity boundary (stated, the n10 refit discipline): the
    * snapshot persists only exact-stage KEEPERS, so a store doc that
    * was an exact twin of a removed keeper (dropped at build, its
    * text never persisted) is NOT resurrected as the fp's new census
    * row until the next full [[writeCorpus]] rebuild — the
    * compaction point, which also clears the tombstone table.
    * Near-dup memory has no such gap: near-dup-dropped docs DO keep
    * their sigs/shingles rows, so only the removed ids' own rows
    * leave the candidate space.
    */
  def takedown(ids: DataFrame, idCol: String): Unit =
    WriteLease.withLease(spark, leaseDest, "snapshot-takedown") {
      // id stored AS WRITTEN — a long cast would NULL out string ids
      // and the anti-join would silently erase nothing (review r13)
      val out = ids.select(col(idCol).as("id")).distinct()
      if (spark.catalog.tableExists(tombsT))
        writeBucketed(out, tombsT, Seq("id"), SaveMode.Append)
      else {
        StoreWrite.dropTable(spark, tombsT) // a prior session's location
        writeBucketed(out, tombsT, Seq("id"), SaveMode.ErrorIfExists)
      }
    }

  /** Anti-join the tombstone sliver (no-op when none exists). */
  private def minusTombs(df: DataFrame, idName: String): DataFrame =
    if (!spark.catalog.tableExists(tombsT)) df
    else df.join(
      broadcast(spark.table(tombsT).select(col("id").as(idName))),
      Seq(idName), "left_anti")

  /** Full (re)build: run the complete dedup pipeline over `docs` and
    * persist corpus + side tables. One shingle pass: the (id, h) stage
    * feeds the signature banding, the pair verification, AND the
    * persisted shingle table.
    */
  def writeCorpus(docs: DataFrame, idCol: String, textCol: String,
                  keepCols: Seq[String] = Nil): Unit =
    WriteLease.withLease(spark, leaseDest, "snapshot-build") {
      // tombstones clear too: rebuild IS the compaction point
      Seq(corpusT, seenT, sigsT, shinglesT, tombsT).foreach(StoreWrite.dropTable(spark, _))
      val fp = TextFns.fingerprint(col(textCol))
      val w = Window.partitionBy(fp).orderBy(col(idCol))
      val exact = graft.Materialize.reuse(
        docs.withColumn("fp", fp)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn"))
      val sh = Dedup.hashedShingles(exact, idCol, textCol, n, Nil)
      val banded = graft.Materialize.reuse(Dedup.minHashBanded(sh, bands, rows))
      val drops = Dedup.nearDupDrops(
        Dedup.verifyJaccard(Dedup.bandedPairs(banded, bucketCap), sh, threshold))
      val surv = exact.join(
        drops.select(col("drop_id").as(idCol)), Seq(idCol), "left_anti")
      writeBucketed(surv.select((idCol +: keepCols :+ "fp").map(col): _*),
        corpusT, Seq("fp"), SaveMode.ErrorIfExists)
      writeBucketed(exact.select(col(idCol).as("id"), col("fp")),
        seenT, Seq("fp"), SaveMode.ErrorIfExists)
      writeBucketed(banded, sigsT, Seq("band", "bucket"), SaveMode.ErrorIfExists)
      writeBucketed(sh, shinglesT, Seq("id"), SaveMode.ErrorIfExists)
    }

  /** Dedup `delta` against the snapshot (and against itself) and
    * return the surviving delta rows. Reads ONLY the seen/sigs/
    * shingles side tables — never the stored corpus. With
    * `commit = true` the snapshot is advanced under the lease: the
    * survivors append to the corpus and the delta's exact survivors
    * append to all three side tables (each append is delta-sized,
    * bucketed to match — the store is never rewritten).
    *
    * `idempotentCommit` makes a REPLAYED commit of the same delta
    * converge instead of duplicating (the at-least-once `foreachBatch`
    * contract of [[graft.streaming.Streaming.incrementalDedupSink]]):
    * every append is anti-joined by id against its target table
    * first. Replay after a crash at ANY point between the four
    * appends lands exactly the missing rows — the dedup verdicts
    * recompute identically (a half-committed delta's own store rows
    * can't pair with themselves: same id is filtered; delta-delta
    * pairs dedupe through `distinct`), each append is job-atomic
    * (file-commit protocol), and the id anti-join skips whatever
    * already landed. Cost: one column-pruned id scan per table per
    * commit — a batch pipeline committing once should leave it off; a
    * production stream with monotone ids would prune the scan to the
    * batch's id range.
    */
  def ingestDelta(delta: DataFrame, idCol: String, textCol: String,
                  keepCols: Seq[String] = Nil,
                  commit: Boolean = false,
                  idempotentCommit: Boolean = false): DataFrame =
    Benchmarking.span(spark, "snapshot-ingest") {
    // TOMBSTONED IDS ARE FROZEN UNTIL REBUILD (the n10 batch
    // contract): re-ingesting a taken-down id would land new rows the
    // idempotent anti-joins skip while the tombstone keeps every read
    // hiding it — silent half-visibility. Fail loudly; the remedy is
    // a writeCorpus rebuild (the compaction point).
    if (spark.catalog.tableExists(tombsT)) {
      val nT = delta.select(col(idCol)).distinct()
        .join(spark.table(tombsT).select(col("id").as(idCol)),
          Seq(idCol), "left_semi").count()
      if (nT > 0) throw new IllegalArgumentException(
        s"$nT delta id(s) have pending snapshot tombstones " +
          s"(prefix $prefix): tombstoned ids are frozen until a " +
          "writeCorpus rebuild compacts them out; drop them from the " +
          "delta or rebuild first")
    }
    val fp = TextFns.fingerprint(col(textCol))
    val w = Window.partitionBy(fp).orderBy(col(idCol))
    // exact stage: keep-first per fingerprint WITHIN the delta, then
    // anti-join the seen-fp census (bucketed on fp: store side reads
    // with no exchange; the delta side shuffles to match — the
    // asymmetric cost a refresh actually wants)
    // commit path: lineage TRUNCATED, not just persisted — appending to
    // the seen/sigs/shingles tables below makes Spark's CacheManager
    // RECACHE (= recompute) every cached plan that references them, and
    // a recomputed anti-join against the just-updated census would
    // erase the survivors it is about to return
    val matz: DataFrame => DataFrame =
      if (commit) graft.Materialize.truncate else graft.Materialize.reuse
    val dNew = matz(
      delta.withColumn("fp", fp)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .join(minusTombs(spark.table(seenT), "id").select("fp"),
          Seq("fp"), "left_anti"))
    val dsh = Dedup.hashedShingles(dNew, idCol, textCol, n, Nil)
    val dBanded = graft.Materialize.reuse(Dedup.minHashBanded(dsh, bands, rows))
    // delta-vs-(store ∪ delta) banded candidates: the cap census reads
    // the sigs table (bucketed on (band, bucket)) exchange-free
    val pairs = Dedup.asymmetricBandedPairs(
      minusTombs(spark.table(sigsT), "id"), dBanded, bucketCap)
    // verification shingles: store side from the persisted table
    // (the corpus is NOT re-shingled), delta side from this pass
    val allSh = minusTombs(spark.table(shinglesT), "id").unionByName(dsh)
    val verified = Dedup.verifyJaccard(pairs, allSh, threshold)
    // CC over delta-touching pairs only; a cluster's min is a store id
    // whenever any store doc is reachable (store ids < delta ids), so
    // "id != cluster" is exactly the from-scratch drop rule
    val drops = Dedup.connectedComponents(verified.select("id_a", "id_b"))
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    val surv = dNew.join(drops, Seq(idCol), "left_anti")
    if (!commit) surv.select((idCol +: keepCols).map(col): _*)
    else WriteLease.withLease(spark, leaseDest, "snapshot-commit") {
      // truncated for the same recache reason as dNew: surv's lineage
      // reads sigs/shingles, which the appends below update
      val kept = graft.Materialize.truncate(
        surv.select((idCol +: keepCols :+ "fp").map(col): _*))
      // replay-idempotent append: rows whose id the target already
      // holds are skipped (truncated BEFORE the write — the append
      // must not re-scan its own target mid-job)
      def appendFresh(df: DataFrame, tbl: String, bucketKeys: Seq[String],
                      dfIdCol: String): Unit = {
        val out =
          if (!idempotentCommit) df
          else graft.Materialize.truncate(df.join(
            spark.table(tbl).select(col(dfIdCol)), Seq(dfIdCol), "left_anti"))
        writeBucketed(out, tbl, bucketKeys, SaveMode.Append)
      }
      appendFresh(kept, corpusT, Seq("fp"), idCol)
      appendFresh(dNew.select(col(idCol).as("id"), col("fp")),
        seenT, Seq("fp"), "id")
      appendFresh(dBanded, sigsT, Seq("band", "bucket"), "id")
      appendFresh(dsh, shinglesT, Seq("id"), "id")
      kept.drop("fp")
    }
  }
}

/** Persisted artifacts of the CONTAINMENT-SKETCH family (d13/d14) —
  * the [[DedupSnapshot]] discipline (one lease, the shared
  * [[graft.store.StoreWrite.writeBucketed]] writer) applied to the
  * bottom-k sketches: two catalog tables written once at corpus build
  * and probed by every refresh, so the store is never re-sketched (the
  * d14 contract, now with a durable home instead of caller-held frames):
  *
  *  - `<prefix>_sk`    (id, sz, sk array<bigint>), bucketed by id —
  *    the [[Dedup.bottomKSketches]] table (verify side).
  *  - `<prefix>_skidx` (id, band, bucket), bucketed by bucket — its
  *    [[Dedup.bandedSketchIndex]] (probe side; bucketed on the join
  *    key, so delta probes read store slivers with no exchange).
  *
  * [[ingestDelta]] returns the delta-touching inclusion pairs
  * (bit-identical to a batch [[Dedup.containmentSketchDelta]] against
  * the same artifacts) and, with `commit = true`, advances both
  * tables under the single-writer lease with delta-sized appends.
  *
  * Replay determinism (the at-least-once `foreachBatch` contract of
  * [[graft.streaming.Streaming.sketchIngestSink]]): the store side is
  * id-ANTI-JOINED against the incoming delta before the union, so a
  * replayed batch whose commit already landed probes EXACTLY the
  * pre-commit artifact state (its own committed rows are replaced by
  * the fresh delta copies, never doubled — doubled sketch rows would
  * duplicate pair rows through the estimate join) and recomputes the
  * identical pair set; `idempotentCommit` then lands zero rows. The
  * anti-join costs one broadcast of the delta id sliver per batch.
  */
final class SketchStore(val spark: SparkSession, val prefix: String,
                        val nBuckets: Int = 8, val n: Int = 3,
                        val k: Int = 32, val threshold: Double = 0.8,
                        val bucketCap: Int = 100000,
                        val salt: Dedup.BucketSalt = Dedup.BucketSalt.XxHash) {
  private val skT = s"${prefix}_sk"
  private val idxT = s"${prefix}_skidx"

  /** What the single-writer lease over both tables is keyed on. */
  private[graft] val leaseDest =
    spark.conf.get("spark.sql.warehouse.dir") + s"/graft-sketch-$prefix"

  /** Remove a verified-stale lease left by a crashed writer. */
  def breakLease(): Unit = WriteLease.breakLease(spark, leaseDest)

  private def writeBucketed(df: DataFrame, tbl: String,
                            keys: Seq[String], mode: SaveMode): Unit =
    StoreWrite.writeBucketed(spark, df, tbl, nBuckets, keys, mode)

  def sketches(): DataFrame = spark.table(skT)
  def index(): DataFrame = spark.table(idxT)

  /** Full (re)build: sketch `docs` once, persist table + index. */
  def build(docs: DataFrame, idCol: String, textCol: String): Unit =
    WriteLease.withLease(spark, leaseDest, "sketch-build") {
      Seq(skT, idxT).foreach(StoreWrite.dropTable(spark, _))
      val sk = graft.Materialize.reuse(
        Dedup.bottomKSketches(docs, idCol, textCol, n, k))
      writeBucketed(sk, skT, Seq("id"), SaveMode.ErrorIfExists)
      writeBucketed(Dedup.bandedSketchIndex(sk), idxT, Seq("bucket"),
        SaveMode.ErrorIfExists)
    }

  /** Probe the store with a delta and return the delta-touching
    * inclusion pairs (id_a, id_b, c_est). With `commit = true` the
    * delta's sketch + index rows append under the lease;
    * `idempotentCommit` anti-joins each append by id first (the
    * replayed-batch path). */
  def ingestDelta(delta: DataFrame, idCol: String, textCol: String,
                  commit: Boolean = false,
                  idempotentCommit: Boolean = false): DataFrame =
    Benchmarking.span(spark, "sketch-ingest") {
    // commit path truncates (the DedupSnapshot recache discipline: the
    // appends below update the very tables the pair plan reads)
    val matz: DataFrame => DataFrame =
      if (commit) graft.Materialize.truncate else graft.Materialize.reuse
    val dsk = matz(Dedup.bottomKSketches(delta, idCol, textCol, n, k))
    val dIds = dsk.select(col("id"))
    // replay determinism: a delta row already committed by a crashed
    // attempt must not appear on BOTH sides of the union. No broadcast
    // HINT: the anti-join key set is the WHOLE delta id column — a
    // micro-batch is sliver-sized and AQE broadcasts it, but a bulk
    // monthly delta (10⁹ rows) must fall back to a hash anti-join,
    // which a forced broadcast would OOM instead (the tombstone
    // slivers elsewhere are bounded by takedown volume; this one is
    // bounded only by the caller's batch size)
    def minusDelta(df: DataFrame): DataFrame =
      df.join(dIds, Seq("id"), "left_anti")
    val pairs = Dedup.containmentSketchDeltaFromSketches(
      minusDelta(sketches()), minusDelta(index()), dsk,
      k, threshold, bucketCap, salt)
    if (!commit) pairs
    else WriteLease.withLease(spark, leaseDest, "sketch-commit") {
      val out = graft.Materialize.truncate(pairs)
      def appendFresh(df: DataFrame, tbl: String, keys: Seq[String]): Unit = {
        val fresh =
          if (!idempotentCommit) df
          else graft.Materialize.truncate(df.join(
            spark.table(tbl).select(col("id")), Seq("id"), "left_anti"))
        writeBucketed(fresh, tbl, keys, SaveMode.Append)
      }
      appendFresh(dsk, skT, Seq("id"))
      appendFresh(Dedup.bandedSketchIndex(dsk), idxT, Seq("bucket"))
      out
    }
  }
}
