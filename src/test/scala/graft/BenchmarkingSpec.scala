package graft

import graft.stats.{Benchmarking, CacheToDisk}
import org.apache.spark.sql.functions._

class BenchmarkingSpec extends SparkSpec {

  test("A10: adaptive benchmark returns a positive best time and ≥3 reps") {
    val (best, reps) = Benchmarking.benchmark(
      () => (1 to 1000).map(math.sqrt(_)).sum, minTotalMs = 10)
    assert(best > 0 && reps >= 3)
  }

  test("A9: benchmark sweep produces one row per kernel × size") {
    val df = Benchmarking.benchmarkSweep(spark,
      Map("sum" -> ((n: Long) => { (0L until n).sum; () }),
          "count" -> ((n: Long) => { (0L until n).count(_ => true); () })),
      sizes = Seq(10L, 100L), minTotalMs = 5)
    assert(df.count() == 4)
    assert(df.columns.toSeq == Seq("kernel", "n", "best_sec", "repeats"))
    assert(df.filter(col("best_sec") <= 0).count() == 0)
  }

  test("S6/S7: progress listener observes tasks and records of a real job") {
    val (sum, l) = Benchmarking.withProgress(spark) {
      spark.range(0, 100000, 1, 8).agg(org.apache.spark.sql.functions.sum("id"))
        .collect()(0).getLong(0)
    }
    assert(sum == 4999950000L)
    assert(l.tasksCompleted >= 8)
  }

  test("S7: peak task memory is observed for a job that aggregates in memory") {
    val (n, l) = Benchmarking.withProgress(spark) {
      spark.range(0, 200000, 1, 4).groupBy(col("id") % 1000).count().collect().length
    }
    assert(n == 1000)
    assert(l.peakTaskMemory > 0)
  }

  test("S6: per-span sums: a nested span owns its own job's tasks; totals are exact on return") {
    val sc = spark.sparkContext
    // a slow listener ahead on the same bus queue holds every task event
    // back, so a return before the bus has drained would miss some
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Thread.sleep(100)
    }
    sc.addSparkListener(slow)
    val t0 = System.nanoTime()
    val (_, l) = try Benchmarking.withProgress(spark) {
      Benchmarking.span(spark, "outer") {
        Benchmarking.span(spark, "inner") {
          sc.parallelize(1 to 800, 8).foreachPartition(_ => ())
        }
        // after the nested span: the outer span is restored
        sc.parallelize(1 to 30, 3).count()
      }
    } finally sc.removeSparkListener(slow)
    val elapsed = System.nanoTime() - t0
    // drained, not polled: every task event is in when withProgress returns
    assert(l.tasksCompleted == 11)
    val spans = l.spans
    assert(spans.keySet == Set("outer", "inner"))
    assert((spans("inner").jobs, spans("inner").stages, spans("inner").tasks) == (1, 1, 8))
    assert((spans("outer").jobs, spans("outer").stages, spans("outer").tasks) == (1, 1, 3))
    // self walls: the outer span's excludes the nested one's
    assert(spans.values.forall(_.wallNs > 0))
    assert(spans("outer").wallNs + spans("inner").wallNs <= elapsed)
    // the property is restored on exit: nothing outside a span is tagged
    assert(sc.getLocalProperty(Benchmarking.SpanKey) == null)
  }

  test("S6: bench_full span table: one object per span with the report fields") {
    val s = Benchmarking.SpanStats(wallNs = 2000000000L, jobs = 3, stages = 4,
      tasks = 16, runMs = 4000, gcMs = 250, shuffleRead = 1500000,
      shuffleWrite = 2500000, spill = 0, peakMem = 8000000)
    val json = Bench.spanJson(Map("p4_monthly_refresh" -> s,
      "snapshot-commit" -> Benchmarking.SpanStats()), cores = 4)
    assert(json == "{" +
      "\"p4_monthly_refresh\":{\"wall_s\":2.0,\"task_s\":4.0,\"util\":0.5," +
      "\"jobs\":3,\"stages\":4,\"tasks\":16,\"shuffle_read_mb\":1.5," +
      "\"shuffle_write_mb\":2.5,\"spill_mb\":0.0,\"gc_s\":0.25,\"peak_mem_mb\":8.0}," +
      "\"snapshot-commit\":{\"wall_s\":0.0,\"task_s\":0.0,\"util\":0.0," +
      "\"jobs\":0,\"stages\":0,\"tasks\":0,\"shuffle_read_mb\":0.0," +
      "\"shuffle_write_mb\":0.0,\"spill_mb\":0.0,\"gc_s\":0.0,\"peak_mem_mb\":0.0}}")
  }

  test("S8: size estimate grows with object size") {
    val small = Array.fill(10)(0L)
    val big = Array.fill(10000)(0L)
    assert(Benchmarking.estimateSize(big) > Benchmarking.estimateSize(small))
  }

  test("IO3: cacheToDisk persists with DISK_ONLY") {
    import spark.implicits._
    val df = CacheToDisk(Seq(1, 2, 3).toDF("x"))
    assert(df.storageLevel.useDisk && !df.storageLevel.useMemory)
    assert(df.count() == 3)
    CacheToDisk.release(df)
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }
}
