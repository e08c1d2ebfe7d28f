package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** One call into an engine layer, timed from the benchmark's side.
  * Times are epoch milliseconds; `round` is -1 during set-up. */
final case class Span(id: Int, layer: String, op: String, parent: Int,
                      round: Int, start: Double, end: Double,
                      failed: Boolean = false) {
  def dur: Double = end - start
}

object Span { val NoParent: Int = -1 }

/** The engine's layers, named after its source modules. */
object Layers {
  val all: Seq[String] = Seq("expand", "run", "collect", "store", "batch",
    "reduce", "stats", "dedup", "functions", "materialize")

  /** Layer of an engine class name (`graft.<module>.…`), if any. */
  def ofClass(cls: String): Option[String] =
    if (!cls.startsWith("graft.")) None
    else {
      val rest = cls.stripPrefix("graft.")
      if (rest.startsWith("Materialize")) Some("materialize")
      else rest.takeWhile(_ != '.') match {
        case "spec"                  => Some("expand")
        case m if all.contains(m)    => Some(m)
        case _                       => None
      }
    }

  /** Engine methods whose own jobs are another layer's work than their
    * module's. The one job `Harvester.harvestCombos` launches itself is
    * the emptiness test of the expanded grid, which under `missingOnly`
    * is the anti-join against the store: the expand layer's skip path.
    * Its store write runs through `graft.store` frames and stays there. */
  private val byMethod: Map[String, String] =
    Map("graft.run.Harvester.harvestCombos" -> "expand")

  /** Layer of one call-site frame (`class.method(File.scala:n)`). */
  def ofFrame(frame: String): Option[String] = {
    val m = frame.trim.stripPrefix("at ").takeWhile(_ != '(')
    byMethod.get(m).orElse(ofClass(m.substring(0, math.max(m.lastIndexOf('.'), 0))))
  }

  /** Innermost engine layer of a Spark call site: one frame per line,
    * innermost first, as `StageInfo.details` carries it. */
  def ofCallSite(callSite: String): Option[String] =
    if (callSite == null) None
    else callSite.split('\n').iterator.flatMap(ofFrame).nextOption()
}

/** Interval arithmetic for span self time. */
object Intervals {
  /** Length of the union of `xs`, each clipped to `[lo, hi]`. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the union of its
    * children's intervals, where a child is a nested span or an
    * interval (e.g. a job of another layer) attributed to it. */
  def selfTimes(spans: Seq[Span],
                extraChildren: Map[Int, Seq[(Double, Double)]] = Map.empty)
      : Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)) ++
        extraChildren.getOrElse(s.id, Nil)
      s.id -> math.max(0.0, s.dur - covered(ivs, s.start, s.end))
    }.toMap
  }
}

/** Opens spans around layer calls and counts every call in the
  * ledger. With tracing off it only counts. The active span id rides
  * a Spark local property, so every job the call launches carries it
  * (local properties are inherited by the threads Spark spawns). */
final class Probe(sc: SparkContext, val ledger: Ledger) {
  import Probe._

  @volatile var tracing: Boolean = false
  @volatile var round: Int = -1
  /** Most engine stages held by `Materialize` after any traced call. */
  @volatile var trackedPeak: Int = 0
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val layerOf = new ConcurrentHashMap[Int, String]()
  private var nextId = 0
  private var stack: List[Int] = Nil

  def call[T](layer: String, op: String)(body: => T): T =
    if (!tracing) ledger.call(body)
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(Span.NoParent)
      layerOf.put(id, layer)
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      stack = id :: stack
      val start = nowMs()
      var failed = true
      try { val r = ledger.call(body); failed = false; r }
      finally {
        val end = nowMs()
        trackedPeak = math.max(trackedPeak, graft.Materialize.trackedCount)
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prev)
        synchronized { spans += Span(id, layer, op, parent, round, start, end, failed) }
      }
    }

  def layerOfSpan(id: Int): Option[String] = Option(layerOf.get(id))
  def recorded: Seq[Span] = synchronized(spans.toList)
}

object Probe {
  val SpanProp = "perfbench.span"
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds on the monotonic clock, comparable with the
    * listener's event times. */
  def nowMs(): Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** Per-(span, layer) sums of what Spark ran. */
final class Acc {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var taskMs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var outBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** Attributes every job, stage and task to the benchmark span that was
  * active when it was launched (the [[Probe.SpanProp]] local
  * property), refined to the innermost engine layer on the call site:
  * a store write launched inside a `run` span is the store's work.
  * Jobs outside any span are summed only into the whole-run totals. */
final class LayerListener(layerOfSpan: Int => Option[String]) extends SparkListener {
  type Key = (Int, String)
  private val accs = mutable.Map.empty[Key, Acc]
  private val stageKey = mutable.Map.empty[Int, Key]
  private val jobStart = mutable.Map.empty[Int, (Key, Double)]
  private val execLayer = mutable.Map.empty[Long, String]
  private var totalTaskMs = 0L

  /** The span from the job's local properties; the layer from the call
    * site of the SQL execution the job belongs to (which covers jobs
    * Spark launches from its own threads, such as broadcasts), else
    * from the stage's own call site, else the span's layer. */
  private def keyOf(props: java.util.Properties, callSite: String): Option[Key] =
    Option(props).flatMap(p => Option(p.getProperty(Probe.SpanProp))).map { id =>
      val exec = Option(props.getProperty("spark.sql.execution.id"))
        .flatMap(x => execLayer.get(x.toLong))
      (id.toInt, exec.orElse(Layers.ofCallSite(callSite))
        .orElse(layerOfSpan(id.toInt)).getOrElse("other"))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(Layers.ofCallSite(x.details).foreach(execLayer(x.executionId) = _))
    case _ => ()
  }

  private def acc(k: Key): Acc = accs.getOrElseUpdate(k, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).orNull
    keyOf(e.properties, site).foreach { k =>
      acc(k).jobs += 1
      jobStart(e.jobId) = (k, e.time.toDouble)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (k, t0) =>
      acc(k).jobIntervals += ((t0, e.time.toDouble))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    keyOf(e.properties, e.stageInfo.details).foreach { k =>
      acc(k).stages += 1
      stageKey(e.stageInfo.stageId) = k
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) totalTaskMs += m.executorRunTime
    stageKey.get(e.stageId).foreach { k =>
      val a = acc(k)
      a.tasks += 1
      if (e.reason != org.apache.spark.Success) a.failedTasks += 1
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def snapshot: Map[Key, Acc] = synchronized(accs.toMap)
  def taskMsTotal: Long = synchronized(totalTaskMs)
}

/** Folds spans and listener sums into `<layer>.<field>` metrics. */
object LayerReport {
  val fields: Seq[String] = Seq("calls", "self_s", "jobs", "stages", "task_s",
    "util", "shuffle_mb", "spill_mb", "gc_s", "failed_tasks")

  /** `spans` are the benchmark's spans; `accs` the listener's sums per
    * (span, layer). Work the listener attributes to a layer other than
    * its span's is a child of that span: it counts as one call of its
    * own layer, its job intervals are its time, and the span's self
    * time excludes them. */
  def layers(spans: Seq[Span], accs: Map[(Int, String), Acc],
             cores: Int): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val foreign = accs.toSeq.filter { case ((id, l), _) =>
      byId.get(id).exists(_.layer != l)
    }
    val extra = foreign.groupBy(_._1._1).map { case (id, kvs) =>
      id -> kvs.flatMap(_._2.jobIntervals.toSeq)
    }
    val self = Intervals.selfTimes(spans, extra)
    val out = mutable.LinkedHashMap.empty[String, Double]
    Layers.all.foreach { l =>
      val own = spans.filter(_.layer == l)
      val borrowed = foreign.filter(_._1._2 == l)
      val borrowedS = borrowed.map { case ((id, _), a) =>
        val s = byId(id)
        Intervals.covered(a.jobIntervals.toSeq, s.start, s.end)
      }.sum
      val sums = accs.toSeq.filter(_._1._2 == l).map(_._2)
      val selfS = (own.map(s => self(s.id)).sum + borrowedS) / 1000.0
      val taskS = sums.map(_.taskMs).sum / 1000.0
      out(s"$l.calls") = (own.size + borrowed.size).toDouble
      out(s"$l.self_s") = selfS
      out(s"$l.jobs") = sums.map(_.jobs).sum.toDouble
      out(s"$l.stages") = sums.map(_.stages).sum.toDouble
      out(s"$l.task_s") = taskS
      out(s"$l.util") = if (selfS > 0) taskS / (selfS * cores) else 0.0
      out(s"$l.shuffle_mb") = sums.map(_.shuffleBytes).sum / 1e6
      out(s"$l.spill_mb") = sums.map(_.spillBytes).sum / 1e6
      out(s"$l.gc_s") = sums.map(_.gcMs).sum / 1000.0
      out(s"$l.failed_tasks") = sums.map(_.failedTasks).sum.toDouble
    }
    out.toMap
  }

  /** Bytes written by one layer's tasks, in MB. */
  def bytesWrittenMb(accs: Map[(Int, String), Acc], layer: String): Double =
    accs.toSeq.filter(_._1._2 == layer).map(_._2.outBytes).sum / 1e6
}
