package graft.store

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Merge conflict found by the strict (no-overwrite) merge mode. */
final class MergeConflictException(msg: String) extends RuntimeException(msg)

/** A second writer tried to mutate a store while another held the
  * write lease. */
final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

/** A write whose column type differs from the stored one: appended as
  * is, it would leave files that make every later read of the store
  * fail. Thrown before anything is written. */
final class StoreSchemaException(val path: String, val column: String,
                                 val storeType: DataType, val deltaType: DataType)
  extends RuntimeException(
    s"column '$column' is ${deltaType.simpleString} in the rows to write but " +
      s"${storeType.simpleString} in the store at '$path'; nothing was written")

/** Single-writer lease for store mutations (round-7 directive).
  *
  * The harvest merge is read-merge-write: two concurrent `mergeIn`s
  * into the same store race that cycle and the second overwrite
  * silently drops the first's rows (a lost update — xyzpy's
  * single-process file dance, farming.py:549-580, never faced this;
  * a 1000-executor deployment with several harvest drivers will).
  * Guard: an atomically-created lease FILE next to the store
  * (`fs.create(..., overwrite = false)` — atomic on HDFS and object
  * stores with conditional put). Holding it is required for every
  * mutating op; a concurrent attempt fails LOUDLY with the holder's
  * identity rather than corrupting the store. A crashed writer leaves
  * its lease behind by design (auto-expiry would reintroduce the race
  * as split-brain); `break()` removes a verified-stale lease, and the
  * exception message says exactly that. Semantics: ONE writer per
  * store at a time; readers are never blocked (parquet reads are
  * immutable-file snapshots).
  */
private[graft] object WriteLease {
  /** THE lock-path convention for every leased artifact (store dirs,
    * catalog-table stores, zarr stores, netCDF files) — single
    * definition so writers and breakLease helpers can never disagree
    * on the path. */
  def lockPathFor(dest: String): Path = sibling(dest, ".__lock")

  /** `<dest><suffix>` beside `dest` (normalized first, so a trailing
    * slash cannot put it inside `dest`). */
  private def sibling(dest: String, suffix: String): Path =
    new Path(new Path(dest).toString + suffix)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Remove a verified-stale write lease left by a crashed writer. */
  def breakLease(spark: SparkSession, dest: String): Unit = {
    val lock = lockPathFor(dest)
    fsOf(spark, lock).delete(lock, true)
  }

  /** Run `body` holding the write lease of `dest` (the file at
    * [[lockPathFor]]); a concurrent holder makes it throw
    * [[ConcurrentWriteException]] before `body` starts. `op` names the
    * mutation in the lease file and is the [[graft.stats.Benchmarking.span]]
    * `body` runs in. */
  def withLease[T](spark: SparkSession, dest: String, op: String)(body: => T): T = {
    val lock = lockPathFor(dest)
    val fs = fsOf(spark, lock)
    val payload = s"pid=${ProcessHandle.current().pid()} op=$op " +
      s"at=${java.time.Instant.now()} host=${java.net.InetAddress.getLocalHost.getHostName}"
    // Only "the lock file already exists" means a concurrent writer.
    // A transient FS failure (permissions, quota, network) must NOT be
    // retyped as a held lease — its message would instruct the operator
    // to breakLease(), and following that advice against a REAL holder
    // reintroduces the lost-update race. Typed signal first; for FS
    // implementations that throw a bare IOException on create-no-
    // overwrite, an existence probe decides, and anything else rethrows
    // as what it is. Known window on such untyped FSes only: if the
    // holder releases between the failed create and the probe, the
    // contention surfaces as the raw IOException (callers retrying on
    // ConcurrentWriteException simply retry one level up); local and
    // HDFS FileSystems throw the typed FileAlreadyExistsException, so
    // they never enter the probe branch.
    def heldBy(): Nothing = {
      val holder =
        try {
          val in = fs.open(lock)
          try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        } catch { case _: Throwable => "<unreadable>" }
      throw new ConcurrentWriteException(
        s"store at '$dest' is being " +
          s"written by another process [$holder]; concurrent store " +
          "mutation would lose updates. If that writer crashed, clear " +
          s"the stale lease with breakLease() (removes $lock).")
    }
    val out =
      try fs.create(lock, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => heldBy()
        case _: java.nio.file.FileAlreadyExistsException        => heldBy()
        case e: java.io.IOException =>
          if (try fs.exists(lock) catch { case _: Throwable => false }) heldBy()
          else throw e
      }
    try {
      out.write(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
      graft.stats.Benchmarking.span(spark, op)(body)
    } finally fs.delete(lock, true)
  }

  /** Produce the new artifact at `<dest>.__tmp` via `write`, then swap
    * it in with CHECKED renames (dest → `.__bak`, tmp → dest, drop bak).
    * Every rename's result is checked: proceeding past a failed swap
    * (dest recreated concurrently, cross-FS rename quirk) and then
    * deleting `.__bak` would destroy the only surviving copy. On
    * failure the artifact is left recoverable — untouched at `dest` or
    * intact at `.__bak` — and the caller gets an IOException naming the
    * failed step. `what` names the artifact in error messages. Callers
    * hold the lease of `dest`. */
  def swapUnlocked(spark: SparkSession, dest: String,
                   what: String)(write: Path => Unit): Unit = {
    val to = new Path(dest)
    val fs = fsOf(spark, to)
    val tmp = sibling(dest, ".__tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    write(tmp)
    val bak = sibling(dest, ".__bak")
    def renameOrAbort(from: Path, into: Path, keep: String): Unit =
      if (!fs.rename(from, into))
        throw new java.io.IOException(
          s"$what swap: rename $from -> $into failed; $keep")
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(to))
      renameOrAbort(to, bak, s"$what left untouched at $to")
    renameOrAbort(tmp, to,
      s"previous $what preserved at $bak (restore by renaming it back)")
    if (fs.exists(bak)) fs.delete(bak, true)
  }

  /** [[swapUnlocked]] under the lease of `dest` — the save-side sinks'
    * shared discipline: a second writer throws
    * [[ConcurrentWriteException]], and a killed write leaves the old
    * artifact (or none) at `dest`, never a mix. */
  def stageAndSwap(spark: SparkSession, dest: String, op: String,
                   what: String)(write: Path => Unit): Unit =
    withLease(spark, dest, op)(swapUnlocked(spark, dest, what)(write))
}

/** The write steps every store flavour shares: the bucket-aligned
  * catalog-table writer and its drop, the stored-schema rule, the
  * stage-preserving commit and the partition-pruned merge. Callers
  * hold the artifact's write lease. */
private[graft] object StoreWrite {

  /** `saveAsTable` with `bucketBy(nBuckets, keys) + sortBy(keys)`,
    * aligned with the bucket spec: `repartition(nBuckets, keys)` uses
    * the same murmur3 pmod as the bucketing, so each task holds exactly
    * one bucket and writes ONE file per (partition dir, bucket) —
    * without it every upstream task wrote a file per bucket it touched
    * (32 tasks × 8 buckets ≈ 250 tiny files per table), paying
    * per-file open cost on every later probe of the table. Measured
    * (sf0.1 snapshot build): sigs 3.1 → 0.9 s, shingles 2.0 → 0.9 s
    * per write; table CONTENT is identical — only file layout changes.
    */
  def writeBucketed(spark: SparkSession, df: DataFrame, table: String,
                    nBuckets: Int, keys: Seq[String], mode: SaveMode,
                    partitionCols: Seq[String] = Nil): Unit = {
    val w0 = df.repartition(nBuckets, keys.map(col): _*).write.mode(mode)
    val w = if (partitionCols.nonEmpty) w0.partitionBy(partitionCols: _*) else w0
    w.bucketBy(nBuckets, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
      .format("parquet").saveAsTable(table)
    // the write may run on a DIFFERENT SparkSession than `spark` (a
    // foreachBatch micro-batch executes on a session CLONE, and `df`
    // carries it) — that session's saveAsTable does not invalidate
    // THIS session's cached table relation, so later reads through
    // `spark.table` would list the pre-append files forever. Refresh
    // unconditionally: metadata-only, and a no-op when sessions match.
    spark.catalog.refreshTable(table)
  }

  /** Drop `table` AND its warehouse location: a FRESH session's catalog
    * doesn't know a previous session's managed table, so DROP alone
    * leaves the location behind and the next create fails with
    * LOCATION_ALREADY_EXISTS. */
  def dropTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val p = new Path(spark.conf.get("spark.sql.warehouse.dir") + s"/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Columns `neu` shares with the stored schema `old` under another
    * type, as (name, stored type, new type); nullability aside.
    * Partition columns are exempt: their values live in directory
    * names, and a read infers their type from those. */
  private def retyped(old: StructType, neu: StructType,
                      partitionCols: Seq[String]): Seq[(String, DataType, DataType)] =
    neu.fields.toSeq.flatMap { f =>
      old.fields.find(_.name == f.name)
        .filter(o => !partitionCols.contains(f.name) &&
          !DataType.equalsIgnoreNullability(o.dataType, f.dataType))
        .map(o => (f.name, o.dataType, f.dataType))
    }

  /** Throw [[StoreSchemaException]] (naming the store `where`) if `neu`
    * re-types a stored column: appended as is, it would be cast to, or
    * leave files at odds with, the stored type. */
  def refuseRetyped(where: String, old: StructType, neu: StructType,
                    partitionCols: Seq[String]): Unit =
    retyped(old, neu, partitionCols).headOption.foreach {
      case (c, stored, given) => throw new StoreSchemaException(where, c, stored, given)
    }

  /** `neu` adds no column to the stored schema `old` and re-types none. */
  def fitsStored(old: StructType, neu: StructType, partitionCols: Seq[String]): Boolean =
    neu.fieldNames.forall(old.fieldNames.contains) && retyped(old, neu, partitionCols).isEmpty

  /** A merge of `neu` into `old` may be scoped to the partitions `neu`
    * touches: the store is partitioned by key columns (any store row
    * that can match or conflict with a delta key shares the delta's
    * partition values), and `neu` fits the stored schema (a
    * partition-scoped write of a widened or re-typed schema would leave
    * untouched partitions on the old one, or cast the delta down). */
  def prunable(old: StructType, neu: StructType, keys: Seq[String],
               partitionCols: Seq[String]): Boolean =
    partitionCols.nonEmpty && partitionCols.forall(keys.contains) &&
      fitsStored(old, neu, partitionCols)

  /** Write `df` to `stage`, then `commit` the staged files as read back
    * — the read-before-overwrite barrier for a store that is both the
    * source and the sink of `df`: on-disk, lineage-free, reliable under
    * executor loss (unlike a localCheckpoint, whose blocks die with
    * their executor). Until `commit` succeeds the stage may be the only
    * complete copy of the rows (a failed catalog-table Overwrite has
    * already dropped the table), so a failed commit KEEPS it and names
    * it in the error; a successful one deletes it. */
  def stagedCommit(spark: SparkSession, df: DataFrame, stage: Path)
                  (commit: DataFrame => Unit): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(stage.toString)
    // read back as written (no imposed schema: a store read infers
    // partition-col types from dir names, which can be narrower than
    // the staged data columns)
    try commit(spark.read.parquet(stage.toString))
    catch {
      case e: Throwable =>
        throw new java.io.IOException(
          s"store commit failed after staging; the staged copy at $stage is " +
            "preserved and holds every row the commit was writing — re-run " +
            "the mutation or restore from the stage", e)
    }
    stage.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(stage, true)
  }

  /** Merge `neu` into the partitions of `old` it touches (see
    * [[prunable]]): the store side is loaded partition-pruned by the
    * delta's partition tuples (a null-safe disjunction the scan takes
    * as a PartitionFilter), only those rows join, and the merged delta
    * — aligned to `old`'s column order — is staged through
    * [[stagedCommit]] before `commit` overwrites exactly those
    * partitions of the store it was read from. Conflicts fire while
    * staging, before any mutation. */
  def prunedMerge(spark: SparkSession, old: DataFrame, neu: DataFrame,
                  keys: Seq[String], partitionCols: Seq[String],
                  mode: Merge.Mode, stage: Path)(commit: DataFrame => Unit): Unit = {
    // bounded collect: the distinct partition tuples of ONE delta
    val touched = neu.select(partitionCols.map(col): _*).distinct().collect()
    if (touched.nonEmpty) {
      val pred = touched.map { r =>
        partitionCols.zipWithIndex
          .map { case (c, i) => col(c) <=> lit(r.get(i)) }
          .reduce(_ && _)
      }.reduce(_ || _)
      Merge.orConflict(stagedCommit(spark,
        Merge.merge(old.filter(pred), neu, keys, mode)
          .select(old.columns.map(col).toIndexedSeq: _*), stage)(commit))
    }
  }
}

/** Harvest-store merge family (SURVEY §2.4, M1-M12).
  *
  * Reference semantics: farming.py:602-670 (`Harvester.add_ds` three
  * overwrite modes), manage.py:172-208 (`save_merge_ds`),
  * farming.py:478-580 (disk sync + atomic save). xyzpy's merges are
  * coordinate-aligned upserts of result stores; here they are
  * full-outer equi-joins on the axis (key) columns with per-variable
  * `coalesce`, which Catalyst plans as a shuffled or broadcast hash
  * join — at 100 TB the store is partitioned by its leading axis
  * columns so the join co-locates, and the *new* side of a harvest is
  * usually tiny → broadcast.
  */
object Merge {

  /** Which side wins where both stores have a non-null value. */
  sealed trait Mode
  /** M1 `overwrite=None`: raise on conflicting non-null values. */
  case object NoConflicts extends Mode
  /** M2 `overwrite=True`: new wins (`new.combine_first(full)`). */
  case object NewWins extends Mode
  /** M3 `overwrite=False`: old wins (`full.combine_first(new)`). */
  case object OldWins extends Mode

  /** Full-outer merge of two long-form stores on `keys`.
    *
    * Value columns present in both sides are coalesced per `mode`;
    * one-sided columns pass through. With `NoConflicts` the conflict
    * assert rides INSIDE the data pass: each shared cell is wrapped in
    * `when(conflict, raise_error(keys)).otherwise(coalesce)`, so the
    * full-outer join executes exactly ONCE (no pre-flight probe job —
    * at 100 TB a separate probe would shuffle the entire store twice)
    * and a conflicting cell fails the materializing action loudly,
    * naming the column and the offending key values
    * (xyzpy `compat="no_conflicts"`, farming.py:655-661). Store-level
    * entry points ([[ParquetStore.mergeIn]]) rethrow that runtime
    * error as a typed [[MergeConflictException]].
    */
  def merge(old: DataFrame, neu: DataFrame, keys: Seq[String],
            mode: Mode = NoConflicts): DataFrame = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val oldVals = old.columns.filterNot(keys.contains)
    val neuVals = neu.columns.filterNot(keys.contains)
    val shared = oldVals.filter(neuVals.contains)

    val o = oldVals.foldLeft(old)((d, c) => d.withColumnRenamed(c, s"__o_$c"))
    val n = neuVals.foldLeft(neu)((d, c) => d.withColumnRenamed(c, s"__n_$c"))
    val joined = o.join(n, keys, "full_outer")

    val valueCols =
      shared.map { c =>
        val (a, b) = mode match {
          case OldWins => (s"__o_$c", s"__n_$c")
          case _       => (s"__n_$c", s"__o_$c") // NewWins; NoConflicts guarded below
        }
        val merged = coalesce(col(a), col(b))
        if (mode == NoConflicts) {
          // per-cell guard: evaluated in the same (single) join pass as
          // the coalesce itself, so no second execution of the join.
          // raise_error's NullType coerces to the cell type under when.
          val conflict = col(a).isNotNull && col(b).isNotNull &&
            col(a) =!= col(b)
          when(conflict, raise_error(concat(
            lit(s"$conflictTag '$c' at keys ("),
            concat_ws(",", keys.map(k => col(k).cast("string")): _*),
            lit(")"))))
            .otherwise(merged).as(c)
        } else merged.as(c)
      } ++
        oldVals.filterNot(shared.contains).map(c => col(s"__o_$c").as(c)) ++
        neuVals.filterNot(shared.contains).map(c => col(s"__n_$c").as(c))

    joined.select(keys.map(col) ++ valueCols: _*)
  }

  /** Marker prefix of the in-plan conflict `raise_error` message; the
    * store entry points use it to recognize and retype the failure. */
  val conflictTag = "graft merge conflict on"

  /** Run `action`; if a NoConflicts `raise_error` guard fired anywhere
    * in the cause chain, rethrow it as a typed
    * [[MergeConflictException]] carrying the column + offending keys. */
  def orConflict[T](action: => T): T =
    try action catch {
      case e: Throwable =>
        var c: Throwable = e
        while (c != null) {
          val m = c.getMessage
          if (m != null && m.contains(conflictTag))
            throw new MergeConflictException(
              m.substring(m.indexOf(conflictTag)).takeWhile(_ != '\n'))
          c = c.getCause
        }
        throw e
    }

  /** M6: fold-merge N stores (conflict datasets glob,
    * manage.py:349-402). */
  def mergeAll(stores: Seq[DataFrame], keys: Seq[String],
               mode: Mode = NoConflicts): DataFrame =
    stores.reduce((a, b) => merge(a, b, keys, mode))

  /** M12 align+fillna: outer-align, fill one side's NULLs from the
    * other (test_case_runner.py:134-190) — exactly NewWins. */
  def alignFill(base: DataFrame, fill: DataFrame, keys: Seq[String]): DataFrame =
    merge(fill, base, keys, NewWins)
}

/** On-disk parquet store with harvest semantics (M4/M5/M7-M11 + IO1/IO5).
  *
  * The store path is a parquet directory. Every mutator runs under the
  * store's [[WriteLease]]; whole-store rewrites go through the shared
  * staged swap ([[WriteLease.swapUnlocked]]: temp dir + checked
  * renames, xyzpy's backup-and-rename, farming.py:549-580 — Spark's
  * output committer makes the write itself atomic; the rename swap
  * makes the *replacement* atomic). At scale: `partitionBy` the
  * leading axis columns so merges prune partitions
  * ([[StoreWrite.prunedMerge]]). A `missing_only` harvest
  * ([[insertMissing]]) rewrites no stored file at all: its keys are
  * new by construction, so it commits as one append.
  */
final class ParquetStore(val spark: SparkSession, val path: String,
                         val keys: Seq[String],
                         val partitionCols: Seq[String] = Nil) {

  /** Remove a stale write lease left by a CRASHED writer (never call
    * while a live writer holds it — that reintroduces the lost-update
    * race the lease exists to prevent). */
  def breakLease(): Unit = WriteLease.breakLease(spark, path)

  def exists: Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def load(): DataFrame = spark.read.parquet(path)

  private def writer(df: DataFrame) = {
    val w = df.write.mode(SaveMode.Overwrite)
    if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w
  }

  /** Atomic replace: write to `<path>.__tmp`, swap, keep `<path>.__bak`
    * until the swap succeeds (IO5, farming.py:549-580). */
  def replaceWith(df: DataFrame): Unit =
    WriteLease.withLease(spark, path, "replace")(replaceWithUnlocked(df))

  private def replaceWithUnlocked(df: DataFrame): Unit =
    WriteLease.swapUnlocked(spark, path, "store")(tmp => writer(df).parquet(tmp.toString))

  /** M4/M5: merge `neu` into the store (creates it if absent).
    *
    * Read-before-overwrite discipline (round-7 fault-tolerance fix —
    * no `localCheckpoint` anywhere on this path): the unpruned branch
    * needs no explicit materialization at all, because [[replaceWith]]
    * writes the merged frame to `<path>.__tmp` while the source dir is
    * still intact and only then swaps — the tmp write IS the staging
    * barrier, streams through the executors without pinning the whole
    * merged store in block storage, and recovers from executor loss by
    * plain lineage recompute (the read path still exists). The pruned
    * branch overwrites partitions of the SAME directory it reads, so
    * the merged delta is staged to `<path>.__stage` first and the
    * dynamic-partition overwrite re-reads the staged files — on-disk,
    * lineage-free-but-reliable, executor-loss-safe.
    *
    * With `partitionCols` set (and ⊆ `keys`), the merge is restricted
    * to the partitions whose values appear in `neu`
    * ([[StoreWrite.prunedMerge]]): untouched partitions are never read
    * OR rewritten, so a harvest loop that merges a KB-sized sweep delta
    * into a 100 TB store pays O(|touched partitions|), not O(|store|),
    * per merge. The full read-merge-swap path remains for unpartitioned
    * stores and for deltas that introduce new or re-typed value
    * columns ([[StoreWrite.prunable]]).
    *
    * This is the upsert path: it rewrites every touched partition (or
    * the whole store). Deltas whose keys are new by construction take
    * [[insertMissing]], which rewrites nothing. */
  def mergeIn(neu: DataFrame, mode: Merge.Mode = Merge.NoConflicts): Unit =
    WriteLease.withLease(spark, path, "mergeIn")(mergeInUnlocked(neu, mode))

  private def mergeInUnlocked(neu: DataFrame, mode: Merge.Mode): Unit = {
    if (!exists) writer(neu).parquet(path)
    else {
      val old = load()
      if (!StoreWrite.prunable(old.schema, neu.schema, keys, partitionCols))
        // replaceWith writes to <path>.__tmp BEFORE touching <path> —
        // the write is the materialization point, and a NoConflicts
        // raise_error fires during it (before any mutation) → rethrow
        Merge.orConflict(replaceWithUnlocked(Merge.merge(old, neu, keys, mode)))
      else
        StoreWrite.prunedMerge(spark, old, neu, keys, partitionCols, mode,
          new Path(path + ".__stage")) {
          _.write.mode(SaveMode.Overwrite)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partitionCols: _*)
            .parquet(path)
        }
    }
  }

  /** M11 `Sampler.add_df`: append rows (long table, no alignment).
    * Rows whose column types differ from the store's are refused with
    * a [[StoreSchemaException]] before anything is written. */
  def append(rows: DataFrame): Unit = WriteLease.withLease(spark, path, "append") {
    if (!exists) writer(rows).parquet(path)
    else {
      StoreWrite.refuseRetyped(path, load().schema, rows.schema, partitionCols)
      appendUnlocked(rows)
    }
  }

  private def appendUnlocked(rows: DataFrame): Unit =
    rows.write.mode(SaveMode.Append).partitionBy(partitionCols: _*).parquet(path)

  /** M9 `missing_only` as one insert-only commit: evaluate `eval` on the
    * points of `grid` the store does not hold yet, and append them.
    *
    * Under the write lease, the grid is anti-joined against the store's
    * keys once; the missing keys are cached for the commit, and an
    * emptiness test on the cache (it builds the cache whole, then reads
    * one row) decides "nothing to do" without running `eval` or writing
    * anything (an empty append would leave an empty part file in an
    * unpartitioned store). `eval` then runs once on those keys, and the
    * result is appended under the store's `partitionBy`. The new keys
    * are disjoint from the stored ones, so no stored file is read back
    * or rewritten, there is nothing to conflict with, and the cost is
    * one store-key scan plus an O(delta) write, partitioned or not.
    *
    * A delta whose schema adds a column or re-types one falls back to
    * [[mergeIn]]'s full rewrite, so the widened schema reaches every
    * file; a stored column the delta lacks is appended as NULLs, as a
    * merge would fill it. On a store that does not exist yet the whole
    * grid is evaluated and written. */
  def insertMissing(grid: DataFrame, eval: DataFrame => DataFrame): Unit =
    WriteLease.withLease(spark, path, "insertMissing") {
      if (!exists) writer(eval(grid)).parquet(path)
      else {
        val old = load()
        graft.Materialize.withReuse(graft.expand.Grid.missing(grid, old, keys)) { todo =>
          if (!todo.isEmpty) {
            val neu = eval(todo)
            if (StoreWrite.fitsStored(old.schema, neu.schema, partitionCols))
              appendUnlocked(neu.select(old.schema.fields.toIndexedSeq.map { f =>
                if (neu.columns.contains(f.name)) col(f.name)
                else lit(null).cast(f.dataType).as(f.name)
              }: _*))
            else mergeInUnlocked(neu, Merge.NoConflicts)
          }
        }
      }
    }

  /** M7 `expand_dims`: add a constant coordinate to the whole store.
    * (No checkpoint: replaceWith's tmp write reads the intact store.) */
  def expandDims(name: String, value: Any): Unit =
    WriteLease.withLease(spark, path, "expandDims") {
      replaceWithUnlocked(load().withColumn(name, lit(value)))
    }

  /** M8 `drop_sel`: delete coordinate values from a dimension. */
  def dropSel(dim: String, values: Seq[Any]): Unit =
    WriteLease.withLease(spark, path, "dropSel") {
      replaceWithUnlocked(load().filter(!col(dim).isin(values: _*)))
    }

  /** M10 Ellipsis axis: the store's own coordinates for `axis`. */
  def coords(axis: String): DataFrame =
    load().select(axis).distinct().orderBy(axis)

  /** M9 `missing_only`: grid points not yet in the store, as a lazy
    * anti-join against the store read now. A harvest that evaluates
    * and commits them in one step uses [[insertMissing]], which runs
    * this anti-join under the write lease. */
  def missing(grid: DataFrame): DataFrame =
    if (!exists) grid
    else graft.expand.Grid.missing(grid, load(), keys)
}

/** Bucketed catalog-table variant of the harvest store: the long-term
  * accumulator for a harvest loop that merges thousands of times.
  *
  * `bucketBy(n, keys) + sortBy(keys)` persists the store pre-hashed
  * and pre-sorted on its axis columns, so every `mergeIn`'s full-outer
  * sort-merge join reads the store side with NO exchange and NO sort —
  * only the (small) new harvest shuffles to match the bucketing. At
  * 100 TB that converts the per-harvest cost from "re-shuffle the
  * accumulated store" to "shuffle the delta": the asymmetric join
  * shape the harvest loop actually has. The path-based [[ParquetStore]]
  * can't express this — parquet files alone carry no bucketing
  * metadata; it lives in the catalog (in-session here; a cluster
  * deployment backs it with a persistent metastore, which is also what
  * makes the table durable across sessions).
  *
  * Semantics mirror [[ParquetStore]], through the same shared write
  * steps: the [[WriteLease]] (lease file `<warehouse>/graft-store-<table>.__lock`),
  * the bucket-aligned [[StoreWrite.writeBucketed]], the stored-schema
  * rule (a re-typed column is refused by `append` and takes the full
  * rewrite in `mergeIn`), and [[StoreWrite.stagedCommit]] for every
  * rewrite of the table from itself.
  */
final class BucketedStore(val spark: SparkSession, val table: String,
                          val keys: Seq[String], val nBuckets: Int,
                          val partitionCols: Seq[String] = Nil) {
  require(keys.nonEmpty && nBuckets > 0)
  require(partitionCols.forall(keys.contains),
    "partitionCols must be key columns (pruned merges match on keys)")
  private val bucketKeys = keys.filterNot(partitionCols.contains)
  require(bucketKeys.nonEmpty, "at least one key must remain for bucketing")

  /** The artifact the write lease and the merge stage are named after:
    * `<warehouse>/graft-store-<table>` (no leading underscore: Spark's
    * file listing treats `_`-prefixed paths as hidden metadata, and
    * the stage is re-read through such a listing). */
  private[graft] val leaseDest: String =
    spark.conf.get("spark.sql.warehouse.dir") + s"/graft-store-${table.replace('.', '_')}"

  private val stagePath = new Path(leaseDest + ".__stage")

  def exists: Boolean = spark.catalog.tableExists(table)

  def load(): DataFrame = spark.table(table)

  private def write(df: DataFrame, mode: SaveMode): Unit =
    StoreWrite.writeBucketed(spark, df, table, nBuckets, bucketKeys, mode, partitionCols)

  /** Leased like every other mutator (the WriteLease contract): a
    * replaceWith racing a concurrent mergeIn must fail loudly, not
    * silently drop the merge's rows. */
  def replaceWith(df: DataFrame): Unit =
    WriteLease.withLease(spark, leaseDest, "replace")(write(df, SaveMode.Overwrite))

  /** Remove a stale lease left by a crashed writer. */
  def breakLease(): Unit = WriteLease.breakLease(spark, leaseDest)

  /** M4/M5 over the bucketed table: store-side exchange-free merge.
    *
    * With `partitionCols` set, the same pruning discipline as
    * [[ParquetStore.mergeIn]] applies on top of the bucket win
    * ([[StoreWrite.prunedMerge]]): the store side is read
    * partition-pruned by the delta's partition tuples AND
    * exchange-free (bucketed), and the write-back is an `insertInto`
    * under dynamic partition overwrite, so only the touched partitions
    * are rewritten — per-harvest cost is O(|touched|) read + join +
    * write, with no full-table pass anywhere. insertInto is
    * position-based; the staged frame is already in the table's column
    * order. Both branches stage the merged frame on disk
    * ([[StoreWrite.stagedCommit]]) before overwriting the table they
    * read from, and keep the stage if the overwrite fails. */
  def mergeIn(neu: DataFrame, mode: Merge.Mode = Merge.NoConflicts): Unit =
    WriteLease.withLease(spark, leaseDest, "mergeIn") {
      if (!exists) write(neu, SaveMode.ErrorIfExists)
      else {
        val old = load()
        if (!StoreWrite.prunable(old.schema, neu.schema, keys, partitionCols))
          Merge.orConflict(replaceStagedUnlocked(Merge.merge(old, neu, keys, mode)))
        else
          StoreWrite.prunedMerge(spark, old, neu, keys, partitionCols, mode, stagePath) {
            staged =>
              val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
              val prev = spark.conf.getOption(overwriteMode)
              spark.conf.set(overwriteMode, "dynamic")
              try staged.write.mode(SaveMode.Overwrite).insertInto(table)
              finally prev match {
                case Some(v) => spark.conf.set(overwriteMode, v)
                case None    => spark.conf.unset(overwriteMode)
              }
          }
      }
    }

  /** M9 `missing_only` against the bucketed store. */
  def missing(grid: DataFrame): DataFrame =
    if (!exists) grid
    else graft.expand.Grid.missing(grid, load(), keys)

  /** Rewrite the whole table from a frame derived from ITSELF, staged
    * through [[StoreWrite.stagedCommit]]: the Overwrite drops the
    * managed table before rewriting it, so the stage is kept (and
    * named) if it fails. Callers hold the lease. */
  private def replaceStagedUnlocked(df: DataFrame): Unit =
    StoreWrite.stagedCommit(spark, df, stagePath)(write(_, SaveMode.Overwrite))

  /** M11 `Sampler.add_df`: append rows — bucketed append keeps the
    * layout (Spark verifies matching bucket spec on saveAsTable
    * Append). API parity with [[ParquetStore.append]], including the
    * refusal of a re-typed column ([[StoreSchemaException]], before
    * anything is written — a catalog append would silently cast it to
    * the stored type). */
  def append(rows: DataFrame): Unit = WriteLease.withLease(spark, leaseDest, "append") {
    if (!exists) write(rows, SaveMode.ErrorIfExists)
    else {
      val old = load()
      StoreWrite.refuseRetyped(table, old.schema, rows.schema, partitionCols)
      write(rows.select(old.columns.map(col).toIndexedSeq: _*), SaveMode.Append)
    }
  }

  /** M7 `expand_dims`: add a constant coordinate to the whole store —
    * parity with [[ParquetStore.expandDims]]. */
  def expandDims(name: String, value: Any): Unit =
    WriteLease.withLease(spark, leaseDest, "expandDims") {
      replaceStagedUnlocked(load().withColumn(name, lit(value)))
    }

  /** M8 `drop_sel`: delete coordinate values from a dimension —
    * parity with [[ParquetStore.dropSel]]. */
  def dropSel(dim: String, values: Seq[Any]): Unit =
    WriteLease.withLease(spark, leaseDest, "dropSel") {
      replaceStagedUnlocked(load().filter(!col(dim).isin(values: _*)))
    }
}
