package graft.dedup

import graft.functions.{Boilerplate, QualityClassifier}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The monthly refresh step: one crawl delta through the frozen gates
  * and into the persisted dedup artifacts. Batch p4
  * (`p4_monthly_refresh`) and the streamed
  * [[graft.streaming.Streaming.refreshSink]] both run it, so a delta
  * refreshes identically in either form. It comes in two parts, so a
  * caller can retry the leased commit without re-running the gate:
  *
  *  - [[gate]]: [[Boilerplate.ruleClean]] (t26 rebuild + C4 page
  *    gates), then [[QualityClassifier.scoreWith]] under the frozen
  *    weights at the frozen threshold;
  *  - [[commit]]: d11's [[DedupSnapshot.ingestDelta]] committed under
  *    the snapshot lease, then d14's [[SketchStore.ingestDelta]] of the
  *    committed survivors, committed under the sketch lease.
  *
  * The store text is never re-read: each delta probes the persisted
  * artifacts that the build and the earlier refreshes left.
  */
object Refresh {

  /** What [[commit]] landed: the snapshot's survivors and their
    * delta-touching containment pairs `(id_a, id_b, c_est)`, already
    * truncated by the sketch ingest. */
  final case class Committed(survivors: DataFrame, pairs: DataFrame)

  /** Rule clean, then keep the docs whose frozen-classifier
    * `score_micro` reaches `threshold`. `delta` keeps its columns, with
    * `textCol` rewritten to the cleaned article. */
  def gate(delta: DataFrame, idCol: String, textCol: String,
           weights: Array[Long], threshold: Long, dim: Int = 64): DataFrame = {
    val cleaned = graft.Materialize.reuse(Boilerplate.ruleClean(delta, textCol))
    cleaned.join(
      QualityClassifier.scoreWith(cleaned, idCol, textCol, weights, dim)
        .filter(col("score_micro") >= threshold).select(idCol),
      Seq(idCol))
  }

  /** Commit the gated docs: the snapshot ingest, then `between` (a
    * no-op by default; a spec injects a crash there), then the sketch
    * ingest of the survivors. `idempotentCommit` is for at-least-once
    * replays: both ingests then land only the rows a crashed attempt
    * missed. */
  def commit(gated: DataFrame, snap: DedupSnapshot, skst: SketchStore,
             idCol: String, textCol: String, keepCols: Seq[String],
             idempotentCommit: Boolean = false,
             between: () => Unit = () => ()): Committed = {
    val surv = snap.ingestDelta(
      gated.select(idCol, (keepCols :+ textCol).distinct: _*),
      idCol, textCol, keepCols = keepCols,
      commit = true, idempotentCommit = idempotentCommit)
    between()
    Committed(surv, skst.ingestDelta(surv.select(col(idCol), col(textCol)),
      idCol, textCol, commit = true, idempotentCommit = idempotentCommit))
  }
}
