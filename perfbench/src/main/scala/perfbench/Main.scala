package perfbench

import org.apache.spark.ListenerDrain

import java.lang.management.ManagementFactory
import scala.collection.mutable

/** Runs one workload for one seed and prints its metrics; the last
  * line of standard output is one JSON object.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --cores <n>
  * }}}
  *
  * Set-up runs `setupReps` times and `setup_s` takes the median. The
  * timed phase runs rounds back to back until `--seconds` have passed
  * and the workload's `minRounds` rounds are done. A round of every
  * workload takes longer than the benchmark's `--seconds`, so a run
  * makes one round, after the set-ups have warmed the code paths it
  * shares with them; `round_p50_s` and `items_per_s` are taken over
  * every round, the first (`first_round_s`) included.
  *
  * With `--trace 1` the run is fixed whatever `--seconds` says, so its
  * per-layer sums cover the same work every time: `tracedSetupReps`
  * set-ups, of which the odd ones run under spans and the layer
  * listener, then exactly `minRounds` rounds and the checks, all traced.
  * Set-ups repeat identical work on identical inputs, so the tracing
  * overhead is the traced set-ups' mean time minus the untraced warm
  * one's between them.
  */
object Main {
  val workloads: Seq[String] = Seq("sweep", "crawl_refresh")
  /** A cold set-up and a warm one: `setup_s` is their mean, what a
    * fresh process pays for set-up halfway amortised. More set-ups do
    * not fit the benchmark's time budget. */
  val setupReps = 2
  /** Cold untraced, traced, untraced, traced: the mean of the traced
    * pair and the untraced one between them cancel a linear drift. */
  val tracedSetupReps = 4
  /** The end-to-end metrics of the result line. The other four are
    * printed only: `failed_frac` is 0 on correct code (it is the
    * result's `failed` over `attempted`), `round_tail_s` needs 20 rounds
    * and is refused with fewer, `wall_s` is set by `--seconds` and the
    * round minimum, and `first_round_s` is `round_p50_s` while a run
    * makes one round. */
  val reported: Seq[String] = Seq("setup_s", "round_p50_s", "items_per_s", "peak_heap_mb")
  /** Hard stop for the timed phase, far inside the run's time limit. */
  val capSeconds = 90.0

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, cores: Int)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), kv.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()))
    require(workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds > 0, "--seconds must be positive")
    o
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch { case e: Throwable => e.printStackTrace(); 2 }
    sys.exit(code)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Driver heap in use right after a full collection, in MB. The
    * listener bus is drained first so queued events do not count, and
    * a second collection runs after Spark's cleaner has had time to drop
    * the blocks of broadcasts and shuffles the first one found dead. */
  private def heapAfterGcMb(sc: org.apache.spark.SparkContext): Double = {
    ListenerDrain(sc)
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def run(o: Opts): Int = {
    val scratch = java.nio.file.Paths.get(o.work, "run")
    deleteTree(scratch)
    java.nio.file.Files.createDirectories(scratch)
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(o.cores.toString)
    val sessionS = secs(t0)
    val sc = spark.sparkContext
    val probe = new Probe(sc, new Ledger)
    val listener = new LayerListener(probe.layerOfSpan)
    var listening = false
    /** Spans and the listener on or off; events already posted are
      * delivered before the listener leaves the bus. */
    def tracing(on: Boolean): Unit = {
      if (on && !listening) sc.addSparkListener(listener)
      if (!on && listening) { ListenerDrain(sc); sc.removeSparkListener(listener) }
      listening = on
      probe.tracing = on
    }
    val ctx = new Ctx(spark, probe, scratch.toString, o.seed, o.cores)
    val wl: Workload = o.workload match {
      case "sweep"         => new Sweep(ctx)
      case "crawl_refresh" => new CrawlRefresh(ctx, s"${o.work}/hashes")
    }
    try {
      val tg = System.nanoTime()
      wl.generate()
      System.err.println(f"perfbench: inputs generated in ${secs(tg)}%.3f s")
      val tw = System.nanoTime()
      spark.range(0, 100000, 1, o.cores).selectExpr("sum(id)").collect()
      val warmUpS = secs(tw)

      val reps = if (o.trace) tracedSetupReps else setupReps
      val setupTimes = (0 until reps).map { rep =>
        tracing(o.trace && rep % 2 == 1)
        val ts = System.nanoTime(); wl.setup(rep); secs(ts)
      }
      tracing(o.trace)
      var heapPeak = heapAfterGcMb(sc)

      val rounds = mutable.ArrayBuffer.empty[Option[Double]]
      val items = mutable.ArrayBuffer.empty[Long]
      if (o.trace) ListenerDrain(sc)
      val taskMs0 = listener.taskMsTotal
      val tp = System.nanoTime()
      def ok = rounds.count(_.isDefined)
      def more =
        if (o.trace) rounds.size < wl.minRounds
        else (secs(tp) < o.seconds || ok < wl.minRounds) && secs(tp) < capSeconds &&
          rounds.size < wl.maxRounds
      while (more) {
        val i = rounds.size
        probe.round = i
        val tr = System.nanoTime()
        rounds += (try { items += wl.round(i); Some(secs(tr)) }
          catch { case e: Throwable =>
            System.err.println(s"round $i failed: $e"); items += 0L; None })
        System.err.println(f"perfbench: round $i ${rounds.last.getOrElse(Double.NaN)}%.3f s")
        if (i % 5 == 4) heapPeak = math.max(heapPeak, heapAfterGcMb(sc))
      }
      val wallS = secs(tp)
      if (o.trace) ListenerDrain(sc)
      val phaseTaskS = (listener.taskMsTotal - taskMs0) / 1000.0
      heapPeak = math.max(heapPeak, heapAfterGcMb(sc))
      probe.round = -2
      val tc = System.nanoTime()
      wl.check()
      System.err.println(f"perfbench: checks ${secs(tc)}%.3f s")
      probe.ledger.check("every round completed")(rounds.forall(_.isDefined))

      val okRounds = rounds.flatten.toSeq
      val done = rounds.zip(items).collect { case (Some(t), n) => (t, n) }
      val (doneItems, doneRoundS) = (done.map(_._2).sum, done.map(_._1).sum)
      val setupS = if (o.trace) setupTimes.zipWithIndex.collect { case (t, r) if r % 2 == 0 => t }
        else setupTimes
      val tail = Summary.tail(okRounds)
      val ledger = probe.ledger
      val e2e = mutable.LinkedHashMap[String, (Double, String)](
        "setup_s" -> (sessionS + warmUpS + Summary.median(setupS), "s"),
        "wall_s" -> (wallS, "s"),
        "items_per_s" -> (wl.itemsPerS(doneItems, doneRoundS, setupS), "1/s"),
        "round_p50_s" -> (if (okRounds.nonEmpty) Summary.median(okRounds) else Double.NaN, "s"),
        "round_tail_s" -> (tail.map(_.value).getOrElse(Double.NaN), "s"),
        "first_round_s" -> (rounds.headOption.flatten.getOrElse(Double.NaN), "s"),
        "failed_frac" -> (ledger.failedFrac, "1"),
        "peak_heap_mb" -> (heapPeak, "MB"))

      println(s"workload ${o.workload} seed ${o.seed} cores ${o.cores} trace ${if (o.trace) 1 else 0}")
      println(f"set-up: session $sessionS%.3f s, warm-up $warmUpS%.3f s, builds " +
        setupTimes.map(t => f"$t%.3f").mkString(", ") + " s")
      println(s"rounds: ${rounds.size} run, ${okRounds.size} ok, " +
        s"${rounds.count(_.isEmpty)} failed (reported missing)")
      tail match {
        case Right(t) => println(s"round_tail_s is p${t.pct} of ${t.n} rounds (${t.beyond} beyond it)")
        case Left(why) => println(s"round_tail_s $why")
      }
      if (Summary.bimodal(okRounds))
        println(f"FLAG bimodal round latency: min/median ${okRounds.min / Summary.median(okRounds)}%.3f")
      if (Summary.bimodal(setupTimes))
        println(f"FLAG bimodal set-up: min/median ${setupTimes.min / Summary.median(setupTimes)}%.3f")
      ledger.failedChecks.foreach(c => println(s"FAILED check: $c"))
      e2e.foreach { case (k, (v, u)) => println(f"metric $k%-14s $v%.6f $u") }

      val layerMetrics: Seq[(String, Double, String)] =
        if (!o.trace) Nil
        else {
          ListenerDrain(sc)
          val traces = TraceReport(o, probe, listener, wl, setupTimes,
            phaseTaskS / (wallS * o.cores))
          traces.foreach { case (k, v, u) => println(f"layer $k%-28s $v%.6f $u") }
          val spanFile = TraceReport.writeSpans(s"${o.work}/trace", o, probe, listener)
          println(s"spans written to $spanFile")
          traces
        }

      val correct = ledger.failed == 0
      val metrics =
        if (o.trace) layerMetrics.map { case (k, v, u) => k -> (v, u) }
        else reported.map(k => k -> e2e(k))
      println(Json.result(correct, ledger.attempted, ledger.failed, metrics))
      if (correct) 0 else 1
    } finally spark.stop()
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
}

/** The per-layer metrics of a traced run. */
object TraceReport {
  def apply(o: Main.Opts, probe: Probe, listener: LayerListener, wl: Workload,
            setupTimes: Seq[Double], sparkUtil: Double): Seq[(String, Double, String)] = {
    val spans = probe.recorded
    val accs = listener.snapshot
    val layers = LayerReport.layers(spans, accs, o.cores)
    val units = Map("calls" -> "count", "self_s" -> "s", "jobs" -> "count",
      "stages" -> "count", "task_s" -> "s", "util" -> "1", "shuffle_mb" -> "MB",
      "spill_mb" -> "MB", "gc_s" -> "s", "failed_tasks" -> "count")
    val base = for (l <- Layers.all; f <- LayerReport.fields)
      yield (s"$l.$f", layers(s"$l.$f"), units(f))
    val (overhead, overheadFrac) = Summary.overhead(setupTimes)
    val extras = wl.extras()
    def extra(k: String) = extras.getOrElse(k, 0.0)
    base ++ Seq(
      ("expand.skip_frac", extra("expand.skip_frac"), "1"),
      ("run.error_frac", extra("run.error_frac"), "1"),
      ("store.bytes_written_mb", LayerReport.bytesWrittenMb(accs, "store"), "MB"),
      ("store.files_written", extra("store.files_written"), "count"),
      ("store.rewrite_frac", extra("store.rewrite_frac"), "1"),
      ("batch.bytes_written_mb", LayerReport.bytesWrittenMb(accs, "batch"), "MB"),
      ("dedup.removed_frac", extra("dedup.removed_frac"), "1"),
      ("dedup.planted_recall", extra("dedup.planted_recall"), "1"),
      ("materialize.tracked_peak", probe.trackedPeak.toDouble, "count"),
      ("spark.util", sparkUtil, "1"),
      ("trace.overhead_s", overhead, "s"),
      ("trace.overhead_frac", overheadFrac, "1"))
  }

  /** Every span, one JSON object a line, with the listener's sums for
    * the work attributed to it per layer. Written once, at the end. */
  def writeSpans(dir: String, o: Main.Opts, probe: Probe,
                 listener: LayerListener): java.nio.file.Path = {
    val byId = listener.snapshot.toSeq.groupBy(_._1._1)
    val lines = probe.recorded.map { s =>
      val work = byId.getOrElse(s.id, Nil).map { case ((_, l), a) =>
        f"""{"layer": "$l", "jobs": ${a.jobs}, "stages": ${a.stages}, "task_s": ${a.taskMs / 1000.0}}"""
      }
      f"""{"id": ${s.id}, "layer": "${s.layer}", "op": "${s.op}", "parent": ${s.parent}, """ +
        f""""round": ${s.round}, "start_ms": ${s.start}%.3f, "end_ms": ${s.end}%.3f, """ +
        s""""failed": ${s.failed}, "work": [${work.mkString(", ")}]}"""
    }
    val f = java.nio.file.Paths.get(dir, s"${o.workload}-${o.seed}.jsonl")
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f
  }
}

/** Minimal JSON for the result line. */
object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString
  private def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
