package graft.batch

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.control.NonFatal

/** Resumable disk-batched execution — Crop/Sower/grow/Reaper parity
  * (SURVEY §2.10; reference cropping.py).
  *
  * xyzpy's Crop persists pickled batches of parameter settings, lets
  * workers (possibly on other machines) evaluate them independently,
  * and reassembles results by deterministic order. The Spark-native
  * shape: a *pending* parquet table partitioned by `batch_id` and a
  * *results* table appended per batch — rows carry their keys, so the
  * order-replay machinery disappears. Resumability = anti-join of
  * result batch ids against pending batch ids; idempotent re-growth =
  * dynamic partition overwrite of one `batch_id` partition.
  *
  * At cluster scale each `grow` is one Spark job reading exactly one
  * partition directory (partition-pruned scan), so independent
  * growers (array jobs, spot workers) never contend.
  */
final class Crop(val spark: SparkSession, val dir: String,
                 val keys: Seq[String]) {

  private def pendingPath = s"$dir/pending"
  private def resultsPath = s"$dir/results"

  private def fs = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def isSown: Boolean = // root _SUCCESS = sow's job actually committed
    fs.exists(new org.apache.hadoop.fs.Path(pendingPath, "_SUCCESS"))

  /** B2 `choose_batch_settings` (cropping.py:236-288): exactly one of
    * batchSize/numBatches; returns the batch count for `n` points. */
  def numBatchesFor(n: Long, batchSize: Option[Int],
                    numBatches: Option[Int]): Int = {
    require(batchSize.isDefined ^ numBatches.isDefined,
      "specify exactly one of batchSize / numBatches")
    batchSize.map(b => ((n + b - 1) / b).toInt).getOrElse(numBatches.get)
  }

  /** B3 Sower: persist the expanded grid as the pending table with
    * contiguous batch ids in key-sorted order (cropping.py:1301-1310).
    *
    * Batch assignment is distributed: a range-partitioned sort gives a
    * global order, `zipWithIndex` numbers it without a single-partition
    * window (a global `ntile` window would funnel the whole grid
    * through one task — the anti-pattern at scale).
    */
  def sow(grid: DataFrame, batchSize: Option[Int] = None,
          numBatches: Option[Int] = None): Int = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    // materialize once: sow replays the grid three times (count,
    // zipWithIndex's internal count, write) — without a barrier an
    // expensive upstream (distinct over a fact table) is scanned 3×.
    // persist keeps lineage (executor-loss-safe), unlike localCheckpoint
    val g = graft.Materialize.reuse(grid)
    val n = g.count()
    val nb = numBatchesFor(n, batchSize, numBatches)
    val per = math.max(math.ceil(n.toDouble / nb).toLong, 1L)
    val parts = math.min(math.max(nb, 1),
      spark.sparkContext.defaultParallelism * 4)
    val sorted = g
      .repartitionByRange(parts, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
    val withId = spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
      sorted.schema.add("__idx", LongType))
    withId
      .withColumn("batch_id",
        least(floor(col("__idx") / per), lit(nb - 1L)))
      .drop("__idx")
      .repartition(col("batch_id"))
      .write.mode(SaveMode.Overwrite).partitionBy("batch_id")
      .parquet(pendingPath)
    nb
  }

  // partition-column inference reads batch_id back as Int — pin Long
  def pending(): DataFrame = spark.read.parquet(pendingPath)
    .withColumn("batch_id", col("batch_id").cast("long"))
  def results(): DataFrame = spark.read.parquet(resultsPath)
    .withColumn("batch_id", col("batch_id").cast("long"))

  /** Partition values straight from the directory listing — `batch_id`
    * is the partition column, so batch discovery is a metadata
    * operation, not a table scan (a Spark job over the data paid ~4
    * scans per lifecycle; at scale, listing beats scanning by the size
    * of the store).
    *
    * Directory presence alone is NOT commit evidence: with
    * FileOutputCommitter algorithm v2 (or direct-write committers)
    * task-committed partition dirs become visible mid-job, so after a
    * crashed grow a partially-written partition would look complete
    * and be skipped forever. Result partitions therefore only count
    * once their `_GRAFT_OK` marker exists — written by grow AFTER the
    * write job returns (job-commit success), deleted by the dynamic
    * partition overwrite on regrowth. The leading underscore keeps the
    * marker invisible to parquet readers. */
  private val marker = "_GRAFT_OK"

  private def listIds(path: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.getPath.getName.startsWith("batch_id="))
      .map(s => (s.getPath.getName.stripPrefix("batch_id=").toLong, s.getPath))
      .sortBy(_._1)
  }

  private def markCommitted(ids: Seq[Long]): Unit =
    ids.foreach { id =>
      val d = new org.apache.hadoop.fs.Path(s"$resultsPath/batch_id=$id")
      // a zero-row batch writes no dir — leave it missing, don't mint one
      if (fs.exists(d))
        fs.create(new org.apache.hadoop.fs.Path(d, marker), true).close()
    }

  /** Pending ids: sow is a single overwrite job, so its root `_SUCCESS`
    * (standard committer job-commit marker) gates the whole listing. */
  def batchIds(): Seq[Long] =
    if (!fs.exists(new org.apache.hadoop.fs.Path(pendingPath, "_SUCCESS")))
      Seq.empty
    else listIds(pendingPath).map(_._1)

  /** Committed result ids — dirs carrying the job-commit marker. */
  private def committedResultIds(): Seq[Long] =
    listIds(resultsPath).collect {
      case (id, p) if fs.exists(new org.apache.hadoop.fs.Path(p, marker)) => id
    }

  /** Batch ids with no results yet — the resume set (B1
    * `missing_results`). */
  def missingBatches(): Seq[Long] = {
    val done = committedResultIds().toSet
    batchIds().filterNot(done)
  }

  /** B4 grow: evaluate one batch and write its results partition.
    * Partition-pruned read; dynamic partition overwrite makes regrowth
    * of a bad batch idempotent (B8). `tolerant` failures are the
    * grow(raise_errors=False) path. */
  def grow(batchId: Long, fn: DataFrame => DataFrame): Unit = {
    val batch = pending().filter(col("batch_id") === batchId)
    fn(batch)
      .withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(resultsPath)
    markCommitted(Seq(batchId))
  }

  /** Grow every still-missing batch, one job per batch (resume-aware
    * loop — B5's subprocess isolation is Spark's own task/job
    * isolation; a batch failure leaves the others' partitions intact). */
  def growMissing(fn: DataFrame => DataFrame): Seq[Long] = {
    val todo = missingBatches()
    todo.foreach(grow(_, fn))
    todo
  }

  /** Grow all missing batches in ONE job: same resumability contract
    * (per-batch result partitions, dynamic overwrite) but a single
    * scan/write — the right call when one worker owns many batches
    * and per-job overhead dominates (the per-batch loop pays a full
    * job + commit per batch). */
  def growMissingBulk(fn: DataFrame => DataFrame): Seq[Long] = {
    val todo = missingBatches()
    if (todo.nonEmpty) {
      // fn appends columns (Runner contract) so batch_id passes through
      fn(pending().filter(col("batch_id").isin(todo: _*)))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(resultsPath)
      markCommitted(todo)
    }
    todo
  }

  /** B1 `calc_progress`: (done batches, total batches). */
  def progress(): (Int, Int) = {
    val total = batchIds().size
    (total - missingBatches().size, total)
  }

  /** B6 Reaper: full results; `allowIncomplete` outer-joins against
    * the pending grid so missing batches surface as NULL variables
    * (cropping.py:1471-1535 + default fill :116-139); strict mode
    * raises if any batch is missing. */
  def reap(allowIncomplete: Boolean = false): DataFrame = {
    val missing = missingBatches()
    if (missing.nonEmpty && !allowIncomplete)
      throw new IllegalStateException(
        s"crop not fully grown: missing batches $missing")
    val res = results().drop("batch_id")
    if (missing.isEmpty) res
    else pending().drop("batch_id")
      .join(res, keys, "left_outer")
  }

  /** B8 `check_bad`: batch ids whose result partitions exist but fail
    * to read/count — candidates for regrowth (partition overwrite). A
    * batch that was never grown has no partition and is not bad, only
    * missing ([[missingBatches]]). */
  def checkBad(): Seq[Long] = {
    val pendingIds = batchIds().toSet
    def unreadable(p: org.apache.hadoop.fs.Path): Boolean =
      try { spark.read.parquet(p.toString).count(); false }
      catch { case NonFatal(_) => true }
    listIds(resultsPath).collect {
      case (id, p) if pendingIds(id) && unreadable(p) => id
    }
  }

  /** Delete the crop (disk cleanup, cropping.py `delete_all`). */
  def delete(): Unit = fs.delete(new org.apache.hadoop.fs.Path(dir), true)
}

object Crop {
  /** B11 `load_crops`: discover crop directories under a parent. */
  def loadCrops(spark: SparkSession, parent: String,
                keys: Seq[String]): Seq[Crop] = {
    val p = new org.apache.hadoop.fs.Path(parent)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory)
      .map(s => new Crop(spark, s.getPath.toString, keys)).toSeq
      .filter(_.isSown)
  }
}
