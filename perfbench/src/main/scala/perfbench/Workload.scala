package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload sees of the run. */
final class Ctx(val spark: SparkSession, val probe: Probe, val work: String,
                val seed: Long, val cores: Int) {
  def ledger: Ledger = probe.ledger
  def call[T](layer: String, op: String)(body: => T): T = probe.call(layer, op)(body)
  def tracing: Boolean = probe.tracing
}

/** A closed-loop workload: one client, sequential rounds. */
trait Workload {
  /** Write the seeded inputs (not timed). */
  def generate(): Unit
  /** One full set-up; the run repeats it and keeps the last. */
  def setup(rep: Int): Unit
  /** One round; returns the items it processed. */
  def round(i: Int): Long
  /** Output checks, each recorded in the ledger. */
  def check(): Unit
  /** Rounds the timed phase runs at least. Rounds of every workload
    * take longer than the benchmark's `--seconds`, so one is what a run
    * does; more would not fit the benchmark's time budget. A traced run
    * runs exactly this many. */
  def minRounds: Int = 1
  /** Rounds the workload has inputs for. */
  def maxRounds: Int = Int.MaxValue
  /** Items per second: the rounds' items over their time, unless the
    * workload's throughput is its set-up's. */
  def itemsPerS(roundItems: Long, roundS: Double, setupS: Seq[Double]): Double =
    roundItems / roundS
  /** Workload-specific per-layer metrics (traced runs only). */
  def extras(): Map[String, Double] = Map.empty
}
