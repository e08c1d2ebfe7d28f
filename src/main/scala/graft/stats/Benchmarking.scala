package graft.stats

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Benchmarking + progress/memory observation utilities
  * (SURVEY §2.8 S6-S8, §2.6 A9-A10; reference utils.py:94-355,761-942).
  */
object Benchmarking {

  /** A10 `benchmark` (utils.py:180-259): adaptive min-of-repeats
    * timing of a thunk — repeats grow until `minTotalMs` of work is
    * observed; returns (bestSec, repeats).
    */
  def benchmark[T](fn: () => T, minTotalMs: Long = 200,
                   maxRepeats: Int = 64): (Double, Int) = {
    var best = Double.MaxValue
    var reps = 0
    val tEnd = System.nanoTime() + minTotalMs * 1000000L
    while ((reps < 3 || System.nanoTime() < tEnd) && reps < maxRepeats) {
      val t0 = System.nanoTime()
      fn()
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
      reps += 1
    }
    (best, reps)
  }

  /** A9 `Benchmarker` (utils.py:262-355): time a kernel over a
    * (kernel × size) sweep into a tidy DataFrame — itself just a sweep
    * whose measure is wall time.
    */
  def benchmarkSweep(spark: SparkSession,
                     kernels: Map[String, Long => Unit],
                     sizes: Seq[Long], minTotalMs: Long = 50): DataFrame = {
    import spark.implicits._
    val rows = for {
      (name, k) <- kernels.toSeq
      n <- sizes
    } yield {
      val (t, reps) = benchmark(() => k(n), minTotalMs)
      (name, n, t, reps)
    }
    rows.toDF("kernel", "n", "best_sec", "repeats")
  }

  /** The Spark local property naming the active [[span]]. Jobs carry
    * their launching thread's local properties (Spark hands them to
    * the threads it spawns, broadcasts included), so every job, stage
    * and task is attributed to the innermost span open at launch. */
  val SpanKey = "graft.span"

  /** What one span ran: its self wall (time not spent in nested spans)
    * and the sums of the jobs, stages and tasks launched under it.
    * Times in ns/ms as Spark reports them, sizes in bytes; `peakMem` is
    * the largest per-task peak execution memory. */
  final case class SpanStats(var wallNs: Long = 0L, var jobs: Long = 0L,
                             var stages: Long = 0L, var tasks: Long = 0L,
                             var runMs: Long = 0L, var gcMs: Long = 0L,
                             var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
                             var spill: Long = 0L, var peakMem: Long = 0L)

  /** Posted on the listener bus when a span closes. */
  private final case class SpanEnd(name: String, selfNs: Long) extends SparkListenerEvent {
    override def logEvent: Boolean = false
  }

  private val nestedNs = ThreadLocal.withInitial[Array[Long]](() => Array(0L))

  /** Run `body` as span `name`: the jobs it launches carry the name in
    * [[SpanKey]], and on exit its self wall reaches every attached
    * [[ProgressListener]]. The enclosing span is restored on exit, so
    * spans nest. */
  def span[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(SpanKey)
    val nested = nestedNs.get
    val outerNested = nested(0)
    nested(0) = 0L
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val ns = System.nanoTime() - t0
      GraftListenerBus.post(sc, SpanEnd(name, ns - nested(0)))
      nested(0) = outerNested + ns
      sc.setLocalProperty(SpanKey, outer)
    }
  }

  /** S6 progress: a SparkListener counting finished tasks — the
    * engine-side analogue of the reference's tqdm hook — and summing
    * per [[span]] what ran under it. Attach, run, read
    * `tasksCompleted`/`recordsRead`/`spans`, detach.
    */
  final class ProgressListener extends SparkListener {
    private val tasks = new LongAdder
    private val records = new LongAdder
    private val peakMem = new AtomicLong(0L)
    private val bySpan = scala.collection.mutable.Map.empty[String, SpanStats]
    private val stageSpan = scala.collection.mutable.Map.empty[Int, SpanStats]
    private def sums(name: String): SpanStats = bySpan.getOrElseUpdate(name, SpanStats())
    private def spanOf(props: java.util.Properties): Option[SpanStats] =
      Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(sums)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized(spanOf(e.properties).foreach(_.jobs += 1))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      spanOf(e.properties).foreach { s => s.stages += 1; stageSpan(e.stageInfo.stageId) = s }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case SpanEnd(name, ns) => synchronized(sums(name).wallNs += ns)
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        records.add(m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
        peakMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      }
      synchronized(stageSpan.get(e.stageId).foreach { s =>
        s.tasks += 1
        if (m != null) {
          s.runMs += m.executorRunTime; s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        }
      })
    }
    def tasksCompleted: Long = tasks.sum()
    def recordsRead: Long = records.sum()
    /** S7: peak per-task execution memory (bytes) — the engine-side
      * MemoryMonitor (utils.py:761-826 observes RSS; Spark exposes the
      * managed-memory peak per task). */
    def peakTaskMemory: Long = peakMem.get()
    /** Per-span sums, keyed by span name (copies). */
    def spans: Map[String, SpanStats] = synchronized(bySpan.map { case (k, v) => k -> v.copy() }.toMap)
  }

  /** Attach a listener for the duration of `body`; every event of the
    * jobs `body` ran has been delivered when it returns. */
  def withProgress[T](spark: SparkSession)(body: => T): (T, ProgressListener) = {
    val l = new ProgressListener
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      GraftListenerBus.drain(spark.sparkContext)
      (r, l)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** S8 `getsizeof`: Spark's own deep size estimate. */
  def estimateSize(obj: AnyRef): Long =
    org.apache.spark.util.SizeEstimator.estimate(obj)
}

/** IO3 `cache_to_disk` (manage.py:15-29): result memoization. In Spark
  * the idioms are (a) `persist` for intra-session reuse and (b) the
  * harvest-store anti-join for cross-session memoization (M9); this
  * helper is (a) with an explicit storage level.
  */
object CacheToDisk {
  def apply(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)

  /** Explicit release — CacheToDisk is USER-managed memoization, so its
    * lifetime is deliberately not tied to [[graft.Materialize.releaseAll]]
    * (a runner quiescing between queries must not drop a cache the user
    * asked to keep). Callers pair apply/release like open/close. */
  def release(df: DataFrame): DataFrame = df.unpersist(blocking = false)
}
