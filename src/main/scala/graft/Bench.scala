package graft
import graft.stats.Benchmarking
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: every registered query (or the comma-separated
  * list in `args(0)`) against SPARK_GRAFT_SF_DIR, one JSON line on
  * stdout.
  *
  * Queries are forced through the `noop` sink — a bare `count()` lets
  * Catalyst prune the projections (a map-only query would measure an
  * empty scan), while noop materializes every output column without
  * write-side cost.
  *
  * Methodology: one cold pass (whole-stage-codegen compilation + JIT,
  * a fixed one-time cost reported as `cold_value`), then STEADY_N
  * steady-state passes per query; `value`/`queries` report the
  * per-query MEDIANS (sub-second queries swing ~3× run to run on a
  * shared box — a single sample can mask or invent a regression).
  * `dispersion` is MAD/median (median absolute deviation) over the
  * steady passes — a SINGLE outlier (GC/compaction pause) cannot
  * saturate it the way (max−min)/median did; the outlier itself stays
  * visible in the per-query `max` map.
  *
  * Emission: the full per-query detail goes to `bench_full.json` (cwd)
  * AND to a durable per-configuration copy
  * `bench_full_c<cpus>_<sf>.json` (a later run at another core count
  * must not clobber the main record); stdout ends with ONE compact
  * summary line (≤ 1900 chars) so a tail-limited capture always holds
  * a complete, parseable JSON object with the real total, preceded —
  * when the per-query map no longer fits that line — by size-safe
  * `queries_part` chunk lines carrying the per-query medians.
  *
  * Per-span report: each timed pass runs in a
  * [[Benchmarking.span]] named after the query, and the engine's own
  * spans (every leased store write, the snapshot/sketch ingests, the
  * classifier fit) nest inside it. The last steady pass runs under a
  * [[Benchmarking.ProgressListener]], and its per-span table goes into
  * bench_full as `spans` (see [[spanJson]]).
  *
  * Timing outliers self-adjudicate: queries whose steady passes swing
  * hard (see [[isTimingOutlier]]) are re-measured min-of-K in the same
  * JVM and annotated in bench_full as `remeasured_min` (a query whose
  * every re-measure pass fails is left out of that map, never given a
  * sentinel time); per-query `min` over the steady passes is recorded
  * for every query.
  *
  * Scaling smoke: the same queries also run against
  * SPARK_GRAFT_SCALING_DIR (default sf0.01) and `scaling` reports the
  * main/small median ratio per query — a query whose time grows much
  * faster than the data-size ratio has a driver-side or quadratic
  * bottleneck a single-SF bench can't see. Queries whose DuckDB-side
  * oracles are quadratic but whose engine cost is dominated by
  * planted-pair verification joins at tiny SF (d2/d3/d5/n3) are
  * excluded: their candidate sets are size-skewed between SFs by
  * construction. `scaling_flags` lists queries exceeding 2× the
  * on-disk data ratio with non-trivial runtime.
  */
object Bench {

  private val SteadyN = 5
  private val ScalingN = 3
  private val AdjudicateN = 3

  /** Controlled-protocol verdict on a scaling-flag candidate: min-of-K
    * at both SFs (the MIN of K warm passes in ONE process is robust to
    * noisy-neighbor contention that medians across
    * separately-scheduled passes are not), flag only if the
    * controlled ratio still exceeds `threshold ×` the data-size ratio
    * on a non-trivial runtime. Round 10's q1_agg false positive
    * (driver median 4.55 s under box load vs controlled 0.57 s — a
    * plain scan+groupBy flagged as superlinear) is the artifact this
    * makes impossible: a flag now ships only after the controlled
    * re-measure agrees. Pure function — spec-covered with injected
    * slow passes.
    */
  private[graft] def adjudicateFlag(mainTimes: Seq[Double],
                                    smallTimes: Seq[Double],
                                    dataRatio: Double,
                                    threshold: Double = 2.0): Boolean = {
    require(mainTimes.nonEmpty && smallTimes.nonEmpty)
    val mMin = mainTimes.min
    val sMin = smallTimes.min
    sMin > 0 && mMin > 0.3 && mMin / sMin > threshold * dataRatio
  }

  /** The min over the passes that succeeded, `None` when every pass
    * failed — a failed pass's elapsed time is not a measurement. */
  private[graft] def minOfSuccessful(passes: Seq[(Double, Boolean)]): Option[Double] =
    passes.collect { case (t, true) => t }.minOption

  /** A query whose steady passes cannot be trusted as they stand: a
    * wide swing (MAD/median > 0.35), one pass past 2.5× the median
    * (a contention spike), or a min at most half the median — the
    * bimodal case where the median itself is the outlier (d11 at 32
    * cores: median 17.0 s, min 2.4 s, dispersion 0.03). */
  private[graft] def isTimingOutlier(med: Double, disp: Double,
                                     max: Double, min: Double): Boolean =
    disp > 0.35 || max > 2.5 * med || min <= 0.5 * med

  /** The queries a run times, in the order it times them: name order,
    * restricted to the comma-separated `only` list when one is given
    * (an unknown name fails before any query runs). bench_full records
    * it as `order`: a query's min depends on the query that ran before
    * it in the same JVM, so two mins compare only with their
    * neighbours alike. */
  private[graft] def runOrder(registered: collection.Set[String],
                              only: Option[String]): Seq[String] = {
    val want = only.map(_.split(",").toSet)
    want.foreach(o => require(o.subsetOf(registered),
      s"unknown queries: ${(o -- registered).mkString(",")}"))
    registered.toSeq.sorted.filter(name => want.forall(_(name)))
  }

  private def r3(x: Double): Double = math.rint(x * 1000) / 1000

  /** One query's per-span table for bench_full, by span name: self
    * wall (s), task time (s), util = task / (wall × cores), jobs,
    * stages, tasks, shuffle read/write, spill and GC. */
  private[graft] def spanJson(spans: Map[String, Benchmarking.SpanStats],
                              cores: Int): String =
    spans.toSeq.sortBy(_._1).map { case (name, s) =>
      val (wall, task) = (s.wallNs / 1e9, s.runMs / 1e3)
      val util = if (wall > 0) task / (wall * cores) else 0.0
      "\"" + name + "\":" + Seq("wall_s" -> r3(wall), "task_s" -> r3(task),
        "util" -> r3(util), "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
        "shuffle_read_mb" -> r3(s.shuffleRead / 1e6),
        "shuffle_write_mb" -> r3(s.shuffleWrite / 1e6), "spill_mb" -> r3(s.spill / 1e6),
        "gc_s" -> r3(s.gcMs / 1e3), "peak_mem_mb" -> r3(s.peakMem / 1e6))
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    }.mkString("{", ",", "}")

  private def jsonNames(names: Seq[String]): String =
    names.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** The chunked-mode summary line `{head, lists, tail}`. Like the
    * one-line form it must fit the 1900-char tail budget, but the name
    * lists (`failed`, `scaling_flags`, ...) are unbounded: past the
    * budget each is replaced by its count `n_<name>`, as the one-line
    * form replaces the per-query map by its part count. The full lists
    * stay in bench_full. */
  private[graft] def totalLine(head: String, lists: Seq[(String, Seq[String])],
                               tail: String): String = {
    def line(field: ((String, Seq[String])) => String) =
      (head +: lists.map(field) :+ tail).mkString("{", ",", "}")
    val full = line { case (k, names) => "\"" + k + "\":" + jsonNames(names) }
    if (full.length <= 1900) full
    else line { case (k, names) => "\"n_" + k + "\":" + names.size }
  }

  private val scalingExclude =
    Set("d2_jaccard_pairs", "d12_containment_pairs", "d3_minhash_lsh", "d5_dup_clusters",
      "d5b_dup_clusters_dist", "n3_cosine_pairs",
      "d8_quality_keeper", // d5's pipeline + join: same SF-skewed candidates
      "d11_incremental_dedup", // delta-vs-store candidates: planted-dup volume is SF-skewed like d3
      "mm5_perceptual_dedup", // Hamming pair volume rides short-doc density, not bytes
      "mm6_audio_dedup") // same Hamming-banding family as mm5

  private def once(spark: SparkSession, name: String,
                   fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                   dir: String): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok =
      try {
        Benchmarking.span(spark, name)(
          fn(spark, dir).write.format("noop").mode("overwrite").save())
        true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        false
      }
    val elapsed = (System.nanoTime() - t0) / 1e9
    // Release OUTSIDE the timer: bookkeeping, not query cost. Every
    // timed pass therefore pays the FULL pipeline including its own
    // cache population — steady-state medians measure what a fresh
    // pipeline run costs, not a warm cross-run cache (round-8 persist
    // lifecycle discipline; see BENCH_NOTES.md).
    Materialize.releaseAll()
    (elapsed, ok)
  }

  /** One query's steady-state record: median/cold/dispersion/max/min
    * over the SteadyN passes (min is stable under contention: a
    * subset run `Bench <list>` is the min-of-SteadyN re-measure) and
    * the last pass's per-span sums. */
  private final case class BenchRow(name: String, med: Double, cold: Double,
                                    disp: Double, max: Double, min: Double,
                                    ok: Boolean,
                                    spans: Map[String, Benchmarking.SpanStats] = Map.empty)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALING_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    val order = runOrder(SparkEntry.queries.keySet, args.headOption)
    val queries = order.map(name => name -> SparkEntry.queries(name))
    // warm-up: JIT/codegen + parquet footer caches, so the first timed
    // query isn't charged session startup
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }

    val results = queries.map { case (name, fn) =>
      val (cold, okCold) = once(spark, name, fn, sfDir)
      if (!okCold) BenchRow(name, -1.0, cold, -1.0, -1.0, -1.0, ok = false)
      else {
        val warm = Seq.fill(SteadyN - 1)(once(spark, name, fn, sfDir))
        val (last, l) = Benchmarking.withProgress(spark)(once(spark, name, fn, sfDir))
        val runs = warm :+ last
        val ok = runs.forall(_._2)
        val ts = runs.map(_._1)
        val med = median(ts)
        // MAD/median: robust to one GC spike; the spike shows in `max`
        val disp = if (med > 0) median(ts.map(t => math.abs(t - med))) / med else 0.0
        BenchRow(name, med, cold, r3(disp), ts.max, ts.min, ok, l.spans)
      }
    }

    // Timing-outlier self-adjudication (the scaling-flag protocol
    // extended to wall-clock spikes, optimization r20): a query whose
    // steady passes swing hard or split in two (isTimingOutlier) was
    // probably hit by box contention — the exact class (d11/t22b/cp9
    // in r19) that used to need a manual min-of-K re-run before a
    // cross-round delta could be trusted. The bench re-measures the
    // worst offenders itself (min-of-K warm passes; contention
    // inflates samples but never deflates them) and records the
    // verdict in bench_full as `remeasured_min`, so the record
    // self-annotates noise. Bounded: top 8 by median, non-trivial
    // runtimes only.
    val outliers = results
      .filter(r => r.ok && r.med > 0.5 && isTimingOutlier(r.med, r.disp, r.max, r.min))
      .sortBy(-_.med).take(8)
    val remeasured: Map[String, Double] = outliers.flatMap { r =>
      val fn = SparkEntry.queries(r.name)
      val m = minOfSuccessful(Seq.fill(AdjudicateN)(once(spark, r.name, fn, sfDir)))
      System.err.println(
        f"[bench] timing outlier ${r.name}: median ${r.med}%.2f s " +
          f"(max ${r.max}%.2f, disp ${r.disp}) -> " +
          m.fold("every pass failed, omitted")(t => f"controlled min $t%.2f s"))
      m.map(r.name -> _)
    }.toMap

    // scaling smoke vs the small SF (skipped when it IS the main SF)
    val doScaling = scaleDir != sfDir && new java.io.File(scaleDir).exists()
    val dataRatio =
      if (doScaling) dirBytes(sfDir).toDouble / math.max(dirBytes(scaleDir), 1L)
      else 1.0
    // a pass that FAILED must never contribute its (short) elapsed time
    // to a scaling median (judge r16 #5): failed passes are dropped from
    // the median and the query is surfaced in `scaling_failed`
    val scalingFailed = scala.collection.mutable.ArrayBuffer.empty[String]
    val scaling: Seq[(String, Double)] =
      if (!doScaling) Seq.empty
      else queries
        .filterNot(q => scalingExclude(q._1))
        .flatMap { case (name, fn) =>
          val (_, okWarm) = once(spark, name, fn, scaleDir) // codegen for small plans
          if (!okWarm) { scalingFailed += name; None }
          else {
            val runs = Seq.fill(ScalingN)(once(spark, name, fn, scaleDir))
            val okTs = runs.collect { case (t, true) => t }
            if (okTs.size < runs.size) scalingFailed += name
            if (okTs.isEmpty) None
            else {
              val small = median(okTs)
              results.find(_.name == name).collect {
                case r if r.ok && small > 0 =>
                  name -> math.rint(r.med / small * 100) / 100
              }
            }
          }
        }
    // overhead-dominated sub-0.3s queries ratio ~1 regardless of scale;
    // candidates are heavy queries growing >2x the byte ratio — each
    // candidate is then SELF-ADJUDICATED with the min-of-K controlled
    // protocol before the flag is emitted (see adjudicateFlag)
    val candidates = scaling.collect { case (name, r)
      if r > 2 * dataRatio &&
        results.find(_.name == name).exists(x => x.ok && x.med > 0.3) => name }
    val flags = candidates.filter { name =>
      val fn = SparkEntry.queries(name)
      val mainRuns = Seq.fill(AdjudicateN)(once(spark, name, fn, sfDir))
      val smallRuns = Seq.fill(AdjudicateN)(once(spark, name, fn, scaleDir))
      // a failure during adjudication cannot EXONERATE the flag
      val stands = !(mainRuns ++ smallRuns).forall(_._2) ||
        adjudicateFlag(mainRuns.map(_._1), smallRuns.map(_._1), dataRatio)
      System.err.println(
        f"[bench] scaling flag on $name: controlled re-measure min " +
          f"${mainRuns.map(_._1).min}%.2f s / ${smallRuns.map(_._1).min}%.2f s -> " +
          (if (stands) "CONFIRMED" else "withdrawn (contention artifact)"))
      stands
    }

    // a failed query must not masquerade as a fast success: its slot
    // carries -1 and the name is listed in "failed"
    val qPairs = results.map(r =>
      "\"" + r.name + "\":" + (if (r.ok) r3(r.med) else -1.0))
    val qs = qPairs.mkString("{", ",", "}")
    val disp = results.collect { case r if r.ok => "\"" + r.name + "\":" + r.disp }
      .mkString("{", ",", "}")
    val maxJson = results.collect { case r if r.ok => "\"" + r.name + "\":" + r3(r.max) }
      .mkString("{", ",", "}")
    val minJson = results.collect { case r if r.ok => "\"" + r.name + "\":" + r3(r.min) }
      .mkString("{", ",", "}")
    val cores = spark.sparkContext.defaultParallelism
    val spansJson = results.collect { case r if r.ok =>
      "\"" + r.name + "\":" + spanJson(r.spans, cores) }.mkString("{", ",", "}")
    val remeasuredJson = remeasured.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val nameLists = Seq(
      "failed" -> results.collect { case r if !r.ok => r.name },
      "scaling_flags" -> flags.toSeq,
      "scaling_failed" -> scalingFailed.distinct.toSeq)
    val Seq(failed, flagsJson, scalingFailedJson) = nameLists.map(l => jsonNames(l._2))
    val scalingJson = scaling.map { case (k, r) => "\"" + k + "\":" + r }
      .mkString("{", ",", "}")
    val total = r3(results.collect { case r if r.ok => r.med }.sum)
    val cold = r3(results.collect { case r if r.ok => r.cold }.sum)
    val nQueries = results.size
    val dr = math.rint(dataRatio * 100) / 100
    val full = s"""{"metric":"total","value":$total,"unit":"sec","n":$SteadyN,"n_queries":$nQueries,"order":${jsonNames(order)},"queries":$qs,"dispersion":$disp,"max":$maxJson,"min":$minJson,"remeasured_min":$remeasuredJson,"failed":$failed,"cold_value":$cold,"scaling":$scalingJson,"scaling_flags":$flagsJson,"scaling_failed":$scalingFailedJson,"data_ratio":$dr,"cpus":"$cpus","sf":"$sfDir","spans":$spansJson}"""
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath), full + "\n")
    // ... and a DURABLE per-configuration copy: each run used to
    // overwrite the single bench_full.json, so a later low-core
    // scaling run clobbered the main record (the r19 per-query
    // blindness, VERDICT r19 #1). The stamped name is deterministic
    // (cpus + sf basename), never random — same config overwrites
    // itself, different configs coexist.
    val sfName = new java.io.File(sfDir).getName
    val stamped = {
      val p = java.nio.file.Paths.get(fullPath)
      val dirP = Option(p.getParent).map(_.toString).getOrElse(".")
      s"$dirP/bench_full_c${cpus}_$sfName.json"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(stamped), full + "\n")
    // stdout: the LAST line is ONE compact summary (<= 1900 chars) so a
    // tail-limited capture always ends with a complete, parseable JSON
    // object carrying the real total. The per-query medians — which no
    // longer fit a single tail-safe line at 185 queries (the r19
    // per-query blindness) — are emitted BEFORE it as size-safe
    // "queries_part" chunk lines: a whole-stdout consumer reassembles
    // the full map from the parts; a tail-only consumer still gets the
    // intact total line, exactly as before.
    val oneLine = s"""{"metric":"total","value":$total,"unit":"sec","n":$SteadyN,"failed":$failed,"scaling_flags":$flagsJson,"scaling_failed":$scalingFailedJson,"data_ratio":$dr,"sf":"$sfDir","full":"$fullPath","queries":$qs}"""
    if (oneLine.length <= 1900) println(oneLine)
    else {
      val chunks = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      var cur = scala.collection.mutable.ArrayBuffer.empty[String]
      var len = 0
      qPairs.foreach { p =>
        if (len + p.length > 1600 && cur.nonEmpty) {
          chunks += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer.empty
          len = 0
        }
        cur += p; len += p.length + 1
      }
      if (cur.nonEmpty) chunks += cur.toSeq
      chunks.zipWithIndex.foreach { case (c, i) =>
        println(s"""{"metric":"queries_part","part":${i + 1},"of":${chunks.size},"queries":${c.mkString("{", ",", "}")}}""")
      }
      println(totalLine(s""""metric":"total","value":$total,"unit":"sec","n":$SteadyN""",
        nameLists,
        s""""data_ratio":$dr,"sf":"$sfDir","full":"$fullPath","n_queries":$nQueries,"queries_parts":${chunks.size}"""))
    }
    spark.stop()
  }
}
