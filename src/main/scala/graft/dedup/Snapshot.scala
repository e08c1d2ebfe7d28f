package graft.dedup

import graft.functions.TextFns
import graft.stats.Benchmarking
import graft.store.{Artifact, TombstoneSet}
import graft.store.Artifact.{Fresh, Table}
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
  * every delta, plus a tombstone table; the persisted-artifact core
  * [[graft.store.Artifact]] holds their one lease, their bucketed writer
  * (bucketed+sorted tables join/aggregate store-side with NO exchange)
  * and the append rules, and [[graft.store.TombstoneSet]] the
  * tombstones:
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
  private val corpusT = Table(s"${prefix}_corpus", Seq("fp"))
  private val seenT = Table(s"${prefix}_seen", Seq("fp"))
  private val sigsT = Table(s"${prefix}_sigs", Banding.Keys)
  private val shinglesT = Table(s"${prefix}_shingles", Seq("id"))
  private val tombsT = Table(s"${prefix}_tombs", Seq("id"))
  private val art = new Artifact(spark, spark.conf.get("spark.sql.warehouse.dir") +
    s"/graft-snap-$prefix", Seq(corpusT, seenT, sigsT, shinglesT, tombsT), nBuckets)
  private val tombs = new TombstoneSet(spark, s"snapshot $prefix",
    "a writeCorpus rebuild compacts them out; drop them from the delta or rebuild first")(
    Option.when(spark.catalog.tableExists(tombsT.name))(art.read(tombsT)),
    art.write(_, tombsT, SaveMode.Append))

  /** What the single-writer lease over all five tables is keyed on. */
  private[graft] val leaseDest = art.leaseDest

  /** Remove a verified-stale lease left by a crashed writer. */
  def breakLease(): Unit = art.breakLease()

  def corpus(): DataFrame = art.read(corpusT)

  /** The pending tombstone ids `(id)` — empty until a [[takedown]],
    * cleared by the next [[writeCorpus]] rebuild. Public so a release
    * AUDIT (cp9) can count erased ids in downstream artifacts — the
    * check a data-protection officer actually asks for. */
  def tombstones(): DataFrame = tombs.ids()

  /** [[corpus]] minus tombstoned ids — the read every consumer should
    * use after any [[takedown]]; `idCol` names the id column the
    * corpus was written with. */
  def liveCorpus(idCol: String): DataFrame = tombs.minus(corpus(), idCol)

  /** Right-to-erasure for the SNAPSHOT (d15) — the n10 contract
    * applied to the dedup store, through the artifact core's
    * [[graft.store.TombstoneSet]]: [[liveCorpus]] and ALL of
    * [[ingestDelta]]'s side-table probes read minus the tombstones, so
    * a removed doc vanishes from dedup memory: an identical or
    * near-identical delta doc arriving later SURVIVES ingestion
    * instead of being dropped against the erased row, and a delta
    * carrying a tombstoned id itself fails with
    * [[graft.store.TombstonedIdsException]].
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
    art.withLease("snapshot-takedown")(tombs.add(ids, idCol))

  /** The exact stage: the first row by `idCol` per text fingerprint,
    * which it carries as `fp`. */
  private def keepFirst(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = TextFns.fingerprint(col(textCol))
    docs.withColumn("fp", fp)
      .withColumn("__rn", row_number().over(Window.partitionBy(fp).orderBy(col(idCol))))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Full (re)build: run the complete dedup pipeline over `docs` and
    * persist corpus + side tables. One shingle pass: the (id, h) stage
    * feeds the signature banding, the pair verification, AND the
    * persisted shingle table.
    */
  def writeCorpus(docs: DataFrame, idCol: String, textCol: String,
                  keepCols: Seq[String] = Nil): Unit =
    art.withLease("snapshot-build") {
      // tombstones clear too: rebuild IS the compaction point
      art.dropTables()
      val exact = graft.Materialize.reuse(keepFirst(docs, idCol, textCol))
      val sh = Dedup.hashedShingles(exact, idCol, textCol, n, Nil)
      val banded = graft.Materialize.reuse(Dedup.minHashBanded(sh, bands, rows))
      val drops = Dedup.nearDupDrops(
        Dedup.verifyJaccard(Banding.selfPairs(banded, Banding.guard(bucketCap)),
          sh, threshold))
      val surv = exact.join(
        drops.select(col("drop_id").as(idCol)), Seq(idCol), "left_anti")
      art.write(surv.select((idCol +: keepCols :+ "fp").map(col): _*),
        corpusT, SaveMode.ErrorIfExists)
      art.write(exact.select(col(idCol).as("id"), col("fp")), seenT, SaveMode.ErrorIfExists)
      art.write(banded, sigsT, SaveMode.ErrorIfExists)
      art.write(sh, shinglesT, SaveMode.ErrorIfExists)
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
    * each append lands only its fresh ids
    * ([[graft.store.Artifact.appendFresh]]). Replay after a crash at
    * ANY point between the four appends lands exactly the missing
    * rows — the dedup verdicts recompute identically (a
    * half-committed delta's own store rows can't pair with themselves:
    * same id is filtered; delta-delta pairs dedupe through
    * `distinct`), each append is job-atomic
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
    tombs.frozen(delta, idCol)
    // exact stage: keep-first per fingerprint WITHIN the delta, then
    // anti-join the seen-fp census (bucketed on fp: store side reads
    // with no exchange; the delta side shuffles to match — the
    // asymmetric cost a refresh actually wants)
    val dNew = art.stage(keepFirst(delta, idCol, textCol)
      .join(tombs.minus(art.read(seenT), "id").select("fp"), Seq("fp"), "left_anti"), commit)
    val dsh = Dedup.hashedShingles(dNew, idCol, textCol, n, Nil)
    val dBanded = graft.Materialize.reuse(Dedup.minHashBanded(dsh, bands, rows))
    // delta-vs-(store ∪ delta) banded candidates: the cap census reads
    // the sigs table (bucketed on (band, bucket)) exchange-free
    val pairs = Banding.probePairs(
      tombs.minus(art.read(sigsT), "id"), dBanded, Banding.guard(bucketCap))
    // verification shingles: store side from the persisted table
    // (the corpus is NOT re-shingled), delta side from this pass
    val allSh = tombs.minus(art.read(shinglesT), "id").unionByName(dsh)
    val verified = Dedup.verifyJaccard(pairs, allSh, threshold)
    // CC over delta-touching pairs only; a cluster's min is a store id
    // whenever any store doc is reachable (store ids < delta ids), so
    // "id != cluster" is exactly the from-scratch drop rule
    val drops = Dedup.connectedComponents(verified.select("id_a", "id_b"))
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    val surv = dNew.join(drops, Seq(idCol), "left_anti")
    if (!commit) surv.select((idCol +: keepCols).map(col): _*)
    else art.withLease("snapshot-commit") {
      val kept = graft.Materialize.truncate(
        surv.select((idCol +: keepCols :+ "fp").map(col): _*))
      art.appendFresh(idempotentCommit)(
        Fresh(kept, corpusT, idCol),
        Fresh(dNew.select(col(idCol).as("id"), col("fp")), seenT),
        Fresh(dBanded, sigsT),
        Fresh(dsh, shinglesT))
      kept.drop("fp")
    }
  }
}

/** Persisted artifacts of the CONTAINMENT-SKETCH family (d13/d14) —
  * the [[DedupSnapshot]] discipline (the [[graft.store.Artifact]] core:
  * one lease, the bucketed writer, the fresh-rows append) applied to the
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
  private val skT = Table(s"${prefix}_sk", Seq("id"))
  private val idxT = Table(s"${prefix}_skidx", Seq("bucket"))
  private val art = new Artifact(spark,
    spark.conf.get("spark.sql.warehouse.dir") + s"/graft-sketch-$prefix", Seq(skT, idxT), nBuckets)

  /** What the single-writer lease over both tables is keyed on. */
  private[graft] val leaseDest = art.leaseDest

  /** Remove a verified-stale lease left by a crashed writer. */
  def breakLease(): Unit = art.breakLease()

  def sketches(): DataFrame = art.read(skT)
  def index(): DataFrame = art.read(idxT)

  /** Full (re)build: sketch `docs` once, persist table + index. */
  def build(docs: DataFrame, idCol: String, textCol: String): Unit =
    art.withLease("sketch-build") {
      art.dropTables()
      val sk = graft.Materialize.reuse(
        Dedup.bottomKSketches(docs, idCol, textCol, n, k))
      art.write(sk, skT, SaveMode.ErrorIfExists)
      art.write(Dedup.bandedSketchIndex(sk), idxT, SaveMode.ErrorIfExists)
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
    val dsk = art.stage(Dedup.bottomKSketches(delta, idCol, textCol, n, k), commit)
    // replay determinism: a delta row already committed by a crashed
    // attempt must not appear on BOTH sides of the union. No broadcast
    // HINT: the anti-join key set is the WHOLE delta id column — a
    // micro-batch is sliver-sized and AQE broadcasts it, but a bulk
    // monthly delta (10⁹ rows) must fall back to a hash anti-join,
    // which a forced broadcast would OOM instead (the tombstone
    // slivers elsewhere are bounded by takedown volume; this one is
    // bounded only by the caller's batch size)
    def minusDelta(df: DataFrame) = df.join(dsk.select(col("id")), Seq("id"), "left_anti")
    val pairs = Dedup.containmentSketchDeltaFromSketches(
      minusDelta(sketches()), minusDelta(index()), dsk,
      k, threshold, bucketCap, salt)
    if (!commit) pairs
    else art.withLease("sketch-commit") {
      // probed now, under the lease: a caller's later action would
      // probe a store that other writers may have moved since
      val out = graft.Materialize.truncate(pairs)
      art.appendFresh(idempotentCommit)(
        Fresh(dsk, skT), Fresh(Dedup.bandedSketchIndex(dsk), idxT))
      out
    }
  }
}
