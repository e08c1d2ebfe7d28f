package perfbench

/** xyzpy's sweep, its write side and its read side in one process.
  * Set-up runs the bulk sweep through Crop and harvests the campaign's
  * starting grid into a store. Each round is one campaign step (widen an
  * axis, harvest the missing points, merge cases, append samples, read a
  * band back) followed by the reduction set over the reaped bulk frame.
  * Throughput is the bulk sweep's: grid points through sow, grow and
  * reap per second. */
final class Sweep(ctx: Ctx) extends Workload {
  private val harvest = new SweepHarvest(ctx)
  private val reduce = new SweepReduce(ctx)

  def generate(): Unit = { harvest.generate(); reduce.generate() }

  def setup(rep: Int): Unit = { reduce.setup(rep); harvest.setup(rep) }

  def round(i: Int): Long = { val n = harvest.round(i); reduce.round(i); n }

  def check(): Unit = { harvest.check(); reduce.check() }

  override def itemsPerS(roundItems: Long, roundS: Double, setupS: Seq[Double]): Double =
    reduce.pointsPerS

  /** `run.error_frac` is the bulk frame's: it holds nearly every row. */
  override def extras(): Map[String, Double] = harvest.extras() ++ reduce.extras()
}
