package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

/** A delta carried `n` ids that have pending tombstones in `artifact`.
  * Tombstoned ids are frozen until the artifact's compaction point
  * (`remedy` names it): re-ingested, such an id would land rows that
  * the tombstone keeps hiding from every read, or a second physical
  * row under the same id. Thrown before anything is written. */
final case class TombstonedIdsException(n: Long, artifact: String, remedy: String)
  extends IllegalArgumentException(
    s"$n delta id(s) have pending tombstones in $artifact: " +
      s"tombstoned ids are frozen until $remedy")

/** The lifecycle core of a persisted artifact that refreshes, takedowns
  * and ingests change in place ([[graft.dedup.DedupSnapshot]],
  * [[graft.dedup.SketchStore]], [[graft.similarity.Similarity.PersistedIndex]]):
  * one single-writer [[WriteLease]] keyed on `leaseDest`, the bucketed
  * writer of its catalog `tables`, and [[appendFresh]], the one way
  * rows are appended to them. A [[TombstoneSet]] adds deletion. */
private[graft] final class Artifact(val spark: SparkSession, val leaseDest: String,
                                    tables: Seq[Artifact.Table] = Nil, nBuckets: Int = 1) {
  import Artifact._

  def withLease[T](op: String)(body: => T): T = WriteLease.withLease(spark, leaseDest, op)(body)

  /** Remove a verified-stale lease left by a crashed writer. */
  def breakLease(): Unit = WriteLease.breakLease(spark, leaseDest)

  def read(t: Table): DataFrame = spark.table(t.name)

  /** Drop every table with its files: a rebuild's first step. */
  def dropTables(): Unit = tables.foreach(t => StoreWrite.dropTable(spark, t.name))

  /** An ingest stage that a commit appends: truncated then (see
    * [[appendFresh]]), reused across its consumers otherwise. */
  def stage(df: DataFrame, commit: Boolean): DataFrame =
    if (commit) graft.Materialize.truncate(df) else graft.Materialize.reuse(df)

  /** [[StoreWrite.writeBucketed]], bucketed on the table's keys. An
    * append to a table the catalog does not know creates it, dropping
    * the files a previous session left at its location first. */
  def write(df: DataFrame, t: Table, mode: SaveMode): Unit = {
    if (mode == SaveMode.Append && !spark.catalog.tableExists(t.name))
      StoreWrite.dropTable(spark, t.name)
    StoreWrite.writeBucketed(spark, df, t.name, nBuckets, t.keys, mode)
  }

  /** The tables whose rows `df`'s analyzed plan reads (a driver-side
    * plan walk). A [[graft.Materialize.truncate]]d frame reads a
    * `LogicalRDD` and so none; a [[graft.Materialize.reuse]]d one still
    * reads its sources, and an append to one of them makes the
    * CacheManager recompute it against the grown table. */
  private def tablesRead(df: DataFrame): Seq[String] = {
    val rels = df.queryExecution.analyzed.collect { case r: LogicalRelation => r }
    tables.map(_.name)
      .filter(t => rels.exists(_.catalogTable.exists(_.identifier.table.equalsIgnoreCase(t))))
  }

  /** `rows` minus the ids `stored` already holds, lineage cut so that
    * appending them never re-reads `stored`. */
  def fresh(rows: DataFrame, stored: DataFrame, idCol: String): DataFrame =
    graft.Materialize.truncate(rows.join(stored.select(col(idCol)), Seq(idCol), "left_anti"))

  /** Append each of `appends` to its table, in order. Refuses, before
    * the first write, any rows whose plan reads one of this artifact's
    * tables (see [[tablesRead]]): such rows would change under the
    * append. With `idempotent`, each append lands only its [[fresh]]
    * rows, so a replayed commit lands exactly what a crashed one did
    * not. Callers hold the lease. */
  def appendFresh(idempotent: Boolean)(appends: Fresh*): Unit = {
    for (a <- appends; names = tablesRead(a.rows) if names.nonEmpty)
      throw new IllegalStateException(s"rows to append to ${a.into.name} read ${names.mkString(", ")} " +
        s"of the artifact at $leaseDest; truncate them first — nothing was written")
    appends.foreach { a =>
      write(if (idempotent) fresh(a.rows, read(a.into), a.idCol) else a.rows, a.into, SaveMode.Append)
    }
  }
}

private[graft] object Artifact {
  /** A catalog table of an artifact, bucketed on `keys`. */
  final case class Table(name: String, keys: Seq[String])

  /** One append of [[Artifact.appendFresh]]: `rows` into `into`, ids in `idCol`. */
  final case class Fresh(rows: DataFrame, into: Table, idCol: String = "id")
}

/** The pending-deletion ids of an artifact (column `id`, stored as
  * written) and the rules every reader and ingest follows for them. A
  * takedown is a delta-sized [[add]] under the artifact's lease, never
  * a rewrite; the artifact's rebuild is the compaction point that
  * clears the set. The artifact keeps the storage: `stored` is the set
  * (`None` before the first takedown) and `append` adds distinct ids
  * to it. `artifact` and `remedy` fill the [[TombstonedIdsException]]. */
private[graft] final class TombstoneSet(spark: SparkSession, artifact: String, remedy: String)(
    stored: => Option[DataFrame], append: DataFrame => Unit) {

  /** The tombstoned ids (`id`); empty when none were ever added. */
  def ids(): DataFrame = stored.getOrElse(spark.range(0).select(col("id")))

  /** Tombstone the distinct `idCol` values of `ids`. Callers hold the lease. */
  def add(ids: DataFrame, idCol: String): Unit = append(ids.select(col(idCol).as("id")).distinct())

  /** `df` without its tombstoned `idCol` rows: one broadcast anti-join
    * (the set is takedown-sized), or `df` itself when no set exists. */
  def minus(df: DataFrame, idCol: String): DataFrame =
    stored.fold(df)(s => df.join(broadcast(s.select(col("id").as(idCol))), Seq(idCol), "left_anti"))

  /** How many distinct `idCol` values of `rows` are tombstoned: no job
    * when no set exists, one count otherwise. Unless `skip`, a non-zero
    * count throws [[TombstonedIdsException]]. */
  def frozen(rows: DataFrame, idCol: String, skip: Boolean = false): Long = stored.fold(0L) { s =>
    val n = rows.select(col(idCol)).distinct()
      .join(s.select(col("id").as(idCol)), Seq(idCol), "left_semi").count()
    if (n > 0 && !skip) throw TombstonedIdsException(n, artifact, remedy) else n
  }
}
