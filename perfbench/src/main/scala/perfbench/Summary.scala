package perfbench

/** The benchmark's own statistics. Kept free of Spark so the
  * arithmetic is testable on plain numbers. */
object Summary {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. */
  def nearestRank(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100)
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Int): Int = math.max(1, math.ceil(n * p / 100.0).toInt)

  /** A tail latency: the value at percentile `pct`, with `beyond`
    * samples ranked above it out of `n`. */
  final case class Tail(pct: Int, value: Double, n: Int, beyond: Int)

  /** The highest integer percentile (50 to 99) that still has at least
    * `minBeyond` samples ranked above it. With fewer than
    * 2 × `minBeyond` samples not even the median qualifies, and the
    * tail is refused rather than read off a handful of points. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Either[String, Tail] = {
    val n = xs.size
    (99 to 50 by -1).find(p => n - rank(n, p) >= minBeyond) match {
      case Some(p) => Right(Tail(p, nearestRank(xs, p), n, n - rank(n, p)))
      case None => Left(
        s"refused: $n samples leave fewer than $minBeyond beyond the median")
    }
  }

  /** Tracing overhead from set-ups run cold, traced, untraced, traced:
    * the traced pair's mean minus the untraced warm one, in seconds and
    * as a share of it. The cold first set-up is left out. */
  def overhead(setups: Seq[Double]): (Double, Double) = {
    require(setups.size >= 4, "overhead needs four set-ups")
    val d = (setups(1) + setups(3)) / 2 - setups(2)
    (d, d / setups(2))
  }

  /** Bimodality guard: a sample set whose minimum is at most half its
    * median has two populations, and its median hides the fast one. */
  def bimodal(xs: Seq[Double]): Boolean =
    xs.nonEmpty && { val m = median(xs); m > 0 && xs.min / m <= 0.5 }
}

/** Attempted and failed layer calls and output checks. `failedFrac`
  * is failed over attempted; nothing is recorded as a sentinel time. */
final class Ledger {
  private var callsAttempted = 0L
  private var callsFailed = 0L
  private var checksAttempted = 0L
  private val checkFailures = scala.collection.mutable.ArrayBuffer.empty[String]

  def call[T](body: => T): T = {
    synchronized { callsAttempted += 1 }
    try body
    catch { case e: Throwable => synchronized { callsFailed += 1 }; throw e }
  }

  /** Record one output check; a throwing check counts as failed. */
  def check(name: String)(ok: => Boolean): Boolean = {
    synchronized { checksAttempted += 1 }
    val failure =
      try { if (ok) None else Some(name) }
      catch { case e: Throwable => Some(s"$name: $e") }
    failure.foreach(f => synchronized { checkFailures += f })
    failure.isEmpty
  }

  def attempted: Long = synchronized(callsAttempted + checksAttempted)
  def failed: Long = synchronized(callsFailed + checkFailures.size)
  def failedChecks: Seq[String] = synchronized(checkFailures.toList)
  def failedFrac: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
}
