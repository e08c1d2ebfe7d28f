package graft

import graft.store.{BucketedStore, Merge, MergeConflictException, ParquetStore, StoreWrite}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class MergeSpec extends SparkSpec {
  import spark.implicits._

  private def oldDF = Seq((1L, Some(10.0)), (2L, Some(20.0)), (3L, None))
    .toDF("k", "v")
  private def newDF = Seq((2L, Some(99.0)), (3L, Some(30.0)), (4L, Some(40.0)))
    .toDF("k", "v")

  test("M2 NewWins: new.combine_first(old) (farming.py:649-651)") {
    val m = Merge.merge(oldDF, newDF, Seq("k"), Merge.NewWins)
    val byK = m.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(byK == Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0, 4L -> 40.0))
  }

  test("M3 OldWins: old.combine_first(new) (farming.py:652-654)") {
    val m = Merge.merge(oldDF, newDF, Seq("k"), Merge.OldWins)
    val byK = m.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(byK == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0))
  }

  test("M1 NoConflicts: raises on differing non-null overlap (farming.py:655-661)") {
    val e = intercept[MergeConflictException](Merge.orConflict(
      Merge.merge(oldDF, newDF, Seq("k"), Merge.NoConflicts).collect()))
    // the in-plan raise_error names the column and the offending key
    assert(e.getMessage.contains("'v'"), e.getMessage)
    assert(e.getMessage.contains("(2)"), e.getMessage)
  }

  test("complex struct(re,im) cells merge: coalesce, NoConflicts guard, " +
       "alignFill (test_case_runner.py:134-190 store flow)") {
    // struct-valued variable with NULL cells on each side
    val a = Seq((1L, Some((1.0, -1.0))), (2L, Some((2.0, 0.5))), (3L, None))
      .toDF("k", "z")
    val b = Seq((2L, Some((2.0, 0.5))), (3L, Some((3.0, 3.5))), (4L, None))
      .toDF("k", "z")
    // NoConflicts: k=2 overlaps with EQUAL structs -> coalesce, no raise
    val m = Merge.orConflict(
      Merge.merge(a, b, Seq("k")).collect()
        .map(r => r.getLong(0) ->
          Option(r.getStruct(1)).map(s => (s.getDouble(0), s.getDouble(1))))
        .toMap)
    assert(m == Map(1L -> Some((1.0, -1.0)), 2L -> Some((2.0, 0.5)),
      3L -> Some((3.0, 3.5)), 4L -> None))
    // differing structs at a shared key raise, naming column + key
    val b2 = Seq((2L, Some((9.0, 9.0)))).toDF("k", "z")
    val e = intercept[MergeConflictException](Merge.orConflict(
      Merge.merge(a, b2, Seq("k")).collect()))
    assert(e.getMessage.contains("'z'") && e.getMessage.contains("(2)"),
      e.getMessage)
    // M12 alignFill: base's null struct cells fill from the other side
    val filled = Merge.alignFill(a, b, Seq("k")).collect()
      .map(r => r.getLong(0) ->
        Option(r.getStruct(1)).map(s => (s.getDouble(0), s.getDouble(1))))
      .toMap
    assert(filled(3L) == Some((3.0, 3.5)))
  }

  test("M1 NoConflicts: the conflict assert rides the single join pass (no probe job)") {
    var jobs = 0
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Merge.merge(oldDF, newDF, Seq("k"), Merge.NoConflicts)
      // flush the async listener bus with one marker job (plain RDD
      // action = exactly one job, no AQE stage jobs): events are
      // delivered in order, so once it lands any merge job would too
      spark.sparkContext.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (jobs < 1 && System.nanoTime() < deadline) Thread.sleep(20)
      // building the merge plan must launch ZERO jobs (only the marker
      // shows) — the old pre-flight probe collect()ed the join once and
      // let the caller recompute it, doubling the shuffle at store scale
      assert(jobs == 1, s"merge construction ran ${jobs - 1} job(s)")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("M1 NoConflicts: passes when overlap values agree or are null") {
    val compat = Seq((2L, Some(20.0)), (3L, Some(30.0))).toDF("k", "v")
    val m = Merge.merge(oldDF, compat, Seq("k"), Merge.NoConflicts)
    val byK = m.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(byK == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
  }

  test("disjoint value columns pass through untouched") {
    val a = Seq((1L, 1.0)).toDF("k", "x")
    val b = Seq((1L, 2.0), (2L, 3.0)).toDF("k", "y")
    val m = Merge.merge(a, b, Seq("k"))
    assert(m.columns.toSet == Set("k", "x", "y"))
    val r = m.orderBy("k").collect()
    assert(r(0).toSeq == Seq(1L, 1.0, 2.0) && r(1).toSeq == Seq(2L, null, 3.0))
  }

  test("merge idempotence: merge(a, a) == a (SURVEY §5 property)") {
    val m = Merge.merge(oldDF, oldDF, Seq("k"))
    assert(collectSorted(m) == collectSorted(oldDF))
  }
}

class ParquetStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpStore(): ParquetStore = {
    val dir = Files.createTempDirectory("graft-store").toString
    new ParquetStore(spark, s"$dir/store", Seq("a", "b"))
  }

  /** Fingerprint of every parquet data file under `root`: path ->
    * (length, mtime, content digest). */
  private def files(root: String): Map[String, (Long, Long, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(root))
      .filter(f => f.getName.endsWith(".parquet"))
      .map { f =>
        val digest = java.security.MessageDigest.getInstance("SHA-256")
          .digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
        f.getPath -> ((f.length(), f.lastModified(), digest))
      }.toMap
  }

  test("M4 harvest cycle: create, merge-in, missing-only work skipping") {
    val st = tmpStore()
    assert(!st.exists)
    st.mergeIn(Seq((1L, 1L, 10.0), (1L, 2L, 20.0)).toDF("a", "b", "v"))
    assert(st.exists && st.load().count() == 2)

    // M9: only the unvisited grid point remains
    val grid = graft.expand.Grid.expandDFs(Seq(
      Seq(1L).toDF("a"), Seq(1L, 2L, 3L).toDF("b")))
    assert(collectSorted(st.missing(grid)) == Seq(Seq[Any](1L, 3L)))

    // second harvest merges without touching existing cells
    st.mergeIn(Seq((1L, 3L, 30.0)).toDF("a", "b", "v"))
    assert(st.load().count() == 3)
    assert(st.missing(grid).count() == 0)
  }

  test("M1: conflicting mergeIn raises and leaves the store intact") {
    val st = tmpStore()
    st.mergeIn(Seq((1L, 1L, 10.0)).toDF("a", "b", "v"))
    assertThrows[MergeConflictException](
      st.mergeIn(Seq((1L, 1L, 99.0)).toDF("a", "b", "v")))
    assert(st.load().collect()(0).getDouble(2) == 10.0)
  }

  test("M7/M8: expandDims adds constant coord; dropSel deletes values") {
    val st = tmpStore()
    st.mergeIn(Seq((1L, 1L, 10.0), (2L, 1L, 20.0)).toDF("a", "b", "v"))
    st.expandDims("run", "r0")
    assert(st.load().columns.contains("run"))
    assert(st.load().select("run").distinct().as[String].collect().toSeq == Seq("r0"))
    st.dropSel("a", Seq(2L))
    assert(st.load().select("a").as[Long].collect().toSeq == Seq(1L))
  }

  test("M10: Ellipsis coords come back sorted") {
    val st = tmpStore()
    st.mergeIn(Seq((3L, 1L, 1.0), (1L, 1L, 1.0), (2L, 1L, 1.0)).toDF("a", "b", "v"))
    assert(st.coords("a").as[Long].collect().toSeq == Seq(1L, 2L, 3L))
  }

  test("partitioned mergeIn touches ONLY the delta's partitions (100x-scale path)") {
    val dir = Files.createTempDirectory("graft-part").toString
    val st = new ParquetStore(spark, s"$dir/store", Seq("a", "b"),
      partitionCols = Seq("a"))
    st.mergeIn((1L to 5L).flatMap(a => (1L to 3L).map(b => (a, b, a * 10.0 + b)))
      .toDF("a", "b", "v"))

    // fingerprint every data file in the untouched partitions
    val before = files(s"$dir/store")
    Thread.sleep(1100) // ensure an overwrite would move lastModified

    // delta touches only partition a=3 (new b row + an agreeing cell)
    st.mergeIn(Seq((3L, 4L, 34.0), (3L, 1L, 31.0)).toDF("a", "b", "v"))

    val after = files(s"$dir/store")
    val untouchedBefore = before.filterNot(_._1.contains("a=3"))
    val untouchedAfter = after.filterNot(_._1.contains("a=3"))
    assert(untouchedAfter == untouchedBefore,
      "untouched partitions were rewritten")
    assert(after.keys.exists(_.contains("a=3")))

    // content: merged partition has the new row, others intact
    val got = st.load().select("a", "b", "v") // partition col reads back last
      .as[(Long, Long, Double)].collect().toSet
    val want = (1L to 5L).flatMap(a => (1L to 3L).map(b => (a, b, a * 10.0 + b)))
      .toSet + ((3L, 4L, 34.0))
    assert(got == want)

    // conflict detection still fires inside the pruned partition
    assertThrows[MergeConflictException](
      st.mergeIn(Seq((3L, 1L, -1.0)).toDF("a", "b", "v")))

    // a delta with a NEW value column falls back to the full rewrite
    // (schema widening must reach every partition)
    st.mergeIn(Seq((2L, 1L, 7.0)).toDF("a", "b", "w"))
    assert(st.load().columns.toSet == Set("a", "b", "v", "w"))
    assert(st.load().filter($"w".isNotNull).count() == 1)
  }

  test("pruned mergeIn READ side: null-safe partition predicate prunes the scan") {
    // the pruned path filters the store load with `col <=> lit(v)`
    // disjunctions; this must reach the scan as a PartitionFilter (one
    // partition read), not a post-scan Filter over the full store
    val dir = Files.createTempDirectory("graft-prune").toString
    val st = new ParquetStore(spark, s"$dir/store", Seq("a", "b"),
      partitionCols = Seq("a"))
    st.mergeIn((1L to 5L).map(a => (a, 1L, a * 1.0)).toDF("a", "b", "v"))
    val pred = col("a") <=> lit(3L) // the shape mergeIn builds per tuple
    val scan = st.load().filter(pred).queryExecution.executedPlan
      .collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .nonEmpty, s"partition predicate not pushed:\n$scan")
    // and the scan enumerates exactly the one matching partition
    def partsRead(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount }.sum
    val pruned = partsRead(st.load().filter(pred))
    val all = partsRead(st.load())
    assert(pruned == 1 && all == 5,
      s"pruned scan enumerated $pruned of $all partitions")
  }

  /** One partitioned and one unpartitioned store over keys (a, b),
    * each holding v = a * 10 + b for a in 1..3, b in 1..2. */
  private def seededStores(): Seq[ParquetStore] = {
    val dir = Files.createTempDirectory("graft-insert").toString
    Seq(new ParquetStore(spark, s"$dir/part", Seq("a", "b"), partitionCols = Seq("a")),
      new ParquetStore(spark, s"$dir/flat", Seq("a", "b"))).map { st =>
      st.mergeIn((1L to 3L).flatMap(a => (1L to 2L).map(b => (a, b, a * 10.0 + b)))
        .toDF("a", "b", "v"))
      st
    }
  }

  private def grid(as: Seq[Long], bs: Seq[Long]) =
    graft.expand.Grid.expandDFs(Seq(as.toDF("a"), bs.toDF("b")))

  private val tenAPlusB = (df: org.apache.spark.sql.DataFrame) =>
    df.withColumn("v", col("a") * 10.0 + col("b"))

  /** A store as the schema tests drive it: `where` is the name a
    * [[graft.store.StoreSchemaException]] reports, `root` the directory
    * holding its files. */
  private case class Target(where: String, root: String,
                            load: () => org.apache.spark.sql.DataFrame,
                            append: org.apache.spark.sql.DataFrame => Unit,
                            insertMissing: (org.apache.spark.sql.DataFrame,
                              org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) => Unit)

  /** [[seededStores]] plus a bucketed store partitioned by `a` holding
    * the same rows, in catalog table `table`. A bucketed store has no
    * insertMissing: its missing-only harvest is `missing` + `mergeIn`. */
  private def seededTargets(table: String): Seq[Target] = {
    StoreWrite.dropTable(spark, table)
    val bs = new BucketedStore(spark, table, Seq("a", "b"), 2, partitionCols = Seq("a"))
    bs.mergeIn((1L to 3L).flatMap(a => (1L to 2L).map(b => (a, b, a * 10.0 + b)))
      .toDF("a", "b", "v"))
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table).toUri.getPath
    seededStores().map(st => Target(st.path, st.path, () => st.load(), st.append,
      st.insertMissing)) :+
      Target(table, loc, () => bs.load(), bs.append, (g, eval) => bs.mergeIn(eval(bs.missing(g))))
  }

  test("insertMissing appends: every stored file stays byte-identical, " +
       "and a fully stored grid writes no file") {
    seededStores().foreach { st =>
      val before = files(st.path)
      Thread.sleep(1100) // a rewrite would move lastModified
      st.insertMissing(grid(Seq(2L, 4L), Seq(1L, 2L, 3L)), tenAPlusB)
      val after = files(st.path)
      assert(before.forall { case (f, fp) => after.get(f).contains(fp) },
        s"${st.path}: a stored file was rewritten")
      assert(after.size > before.size)
      val got = st.load().select("a", "b", "v").as[(Long, Long, Double)].collect()
      assert(got.length == 6 + 4 && got.forall { case (a, b, v) => v == a * 10.0 + b },
        got.mkString(","))
      st.insertMissing(grid(Seq(1L, 4L), Seq(1L, 2L)), tenAPlusB) // all stored
      assert(files(st.path) == after, s"${st.path}: a no-op harvest wrote files")
    }
  }

  test("insertMissing falls back to the full rewrite for a new or re-typed column; " +
       "a column the delta lacks is appended as NULL") {
    seededTargets("ps_insert_widen").foreach { st =>
      val before = files(st.root)
      st.insertMissing(grid(Seq(4L), Seq(1L)), df => tenAPlusB(df).withColumn("w", lit(1.0)))
      assert(files(st.root).keySet.intersect(before.keySet).isEmpty,
        s"${st.where}: new column did not rewrite the store")
      assert(st.load().columns.toSet == Set("a", "b", "v", "w"))
      assert(st.load().filter($"w".isNotNull).count() == 1)
      // a float v: widened back to the stored double in every file
      st.insertMissing(grid(Seq(5L), Seq(1L)),
        df => tenAPlusB(df).withColumn("v", col("v").cast("float")))
      assert(st.load().schema("v").dataType == org.apache.spark.sql.types.DoubleType)
      assert(st.load().count() == 8)
      // no w in the delta: still an append, w NULL on the new row
      val widened = files(st.root)
      st.insertMissing(grid(Seq(6L), Seq(1L)), tenAPlusB)
      val appended = files(st.root)
      assert(widened.forall { case (f, fp) => appended.get(f).contains(fp) })
      assert(st.load().filter($"a" === 6L && $"w".isNull && $"v" === 61.0).count() == 1)
    }
  }

  test("append refuses a re-typed column by name, type and path; store untouched") {
    seededTargets("ps_append_retype").foreach { st =>
      val before = files(st.root)
      val e = intercept[graft.store.StoreSchemaException](
        st.append(Seq((9L, 9L, 1.5f)).toDF("a", "b", "v")))
      assert(e.column == "v" && e.getMessage.contains("float") &&
        e.getMessage.contains("double") && e.getMessage.contains(st.where), e.getMessage)
      assertThrows[graft.store.StoreSchemaException](
        st.append(Seq((9L, "9", 1.5)).toDF("a", "b", "v")))
      assert(files(st.root) == before)
      assert(st.load().count() == 6)
      st.append(Seq((9L, 9L, 99.0)).toDF("a", "b", "v")) // matching types pass
      assert(st.load().count() == 7)
    }
  }

  test("M11: append grows the long table") {
    val st = new ParquetStore(spark,
      Files.createTempDirectory("graft-samp").toString + "/s", Seq("a"))
    st.append(Seq((1L, 1.0)).toDF("a", "v"))
    st.append(Seq((1L, 2.0)).toDF("a", "v"))
    assert(st.load().count() == 2)
  }

  test("concurrent-writer guard: second writer fails loudly, store intact") {
    val dir = Files.createTempDirectory("graft-lock").toString
    val st = new ParquetStore(spark, s"$dir/store", Seq("a", "b"))
    st.mergeIn(Seq((1L, 1L, 10.0)).toDF("a", "b", "v"))
    // simulate another writer mid-merge: its lease file exists
    val lock = new java.io.File(s"$dir/store.__lock")
    val w = new java.io.FileWriter(lock)
    w.write("pid=9999 op=mergeIn at=2026-08-13T00:00:00Z host=other"); w.close()
    val e = intercept[graft.store.ConcurrentWriteException](
      st.mergeIn(Seq((2L, 1L, 20.0)).toDF("a", "b", "v")))
    assert(e.getMessage.contains("pid=9999"), e.getMessage)   // names the holder
    assert(e.getMessage.contains("breakLease"), e.getMessage) // names the cure
    // every mutating op is guarded; reads are not
    assertThrows[graft.store.ConcurrentWriteException](
      st.append(Seq((3L, 1L, 30.0)).toDF("a", "b", "v")))
    assertThrows[graft.store.ConcurrentWriteException](st.expandDims("r", "x"))
    assertThrows[graft.store.ConcurrentWriteException](st.dropSel("a", Seq(1L)))
    assert(st.load().count() == 1) // store untouched by the failures
    // crashed-writer recovery: break the stale lease, writes resume,
    // and a completed write leaves no lease behind
    st.breakLease()
    st.mergeIn(Seq((2L, 1L, 20.0)).toDF("a", "b", "v"))
    assert(st.load().count() == 2)
    assert(!lock.exists(), "lease must be released after a completed write")
  }

  test("mergeIn pins no executor-local blocks; result survives a cache wipe") {
    // round-7 fault-tolerance discipline: the merge paths stage through
    // the filesystem (tmp/stage dirs), never through localCheckpoint,
    // whose executor-pinned blocks turn one lost executor into a dead
    // job on a real cluster. Observable: no new entries in
    // getPersistentRDDs after any merge path, and the store content is
    // independent of every in-memory block.
    def pinned() = spark.sparkContext.getPersistentRDDs.keySet
    val before = pinned()
    val dir = Files.createTempDirectory("graft-ft").toString
    val st = new ParquetStore(spark, s"$dir/store", Seq("a", "b"),
      partitionCols = Seq("a"))
    st.mergeIn((1L to 3L).map(a => (a, 1L, a * 1.0)).toDF("a", "b", "v"))
    st.mergeIn(Seq((2L, 2L, 22.0)).toDF("a", "b", "v"))     // pruned path
    st.mergeIn(Seq((1L, 1L, 9.0)).toDF("a", "b", "w"))      // full path (widen)
    st.expandDims("run", "r0")
    st.dropSel("a", Seq(3L))
    assert(pinned() == before,
      s"merge pinned blocks: ${pinned().diff(before)}")
    // no leftover staging dirs either
    val stray = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.contains("__stage") || n.contains("__tmp"))
    assert(stray.isEmpty, s"stray staging dirs: ${stray.mkString(",")}")
    spark.sqlContext.clearCache() // survives unpersist of everything
    val got = st.load().select("a", "b", "v", "w", "run")
      .collect().map(r => (r.getAs[Number]("a").longValue(),
        r.getAs[Number]("b").longValue()) ->
        ((r.get(2), r.get(3), r.getString(4)))).toMap
    assert(got == Map(
      (1L, 1L) -> ((1.0, 9.0, "r0")),
      (2L, 1L) -> ((2.0, null, "r0")),
      (2L, 2L) -> ((22.0, null, "r0"))))
  }
}

class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): BucketedStore = {
    StoreWrite.dropTable(spark, name) // stale dir from a prior JVM too
    new BucketedStore(spark, name, Seq("k"), 4)
  }

  test("bucketed harvest cycle: create, merge, same semantics as Merge") {
    val bs = fresh("bs_cycle")
    bs.mergeIn(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    bs.mergeIn(Seq((2L, 99.0), (3L, 30.0)).toDF("k", "v"), Merge.NewWins)
    val got = bs.load().as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0))
    assert(bs.missing(Seq(3L, 4L).toDF("k")).as[Long].collect().toSeq == Seq(4L))
  }

  test("bucketed M7/M8/M11: append, expandDims, dropSel — parity with ParquetStore") {
    val bs = fresh("bs_mut")
    bs.mergeIn(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    bs.append(Seq((3L, 30.0)).toDF("k", "v"))            // M11
    bs.expandDims("run", "r0")                           // M7
    bs.dropSel("k", Seq(2L))                             // M8
    val got = bs.load().select("k", "v", "run")
      .as[(Long, Double, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 10.0, "r0"), (3L, 30.0, "r0")))
    // the table stays bucketed after the staged self-rewrite: the
    // co-location win (no exchange on a store-side merge join) is the
    // whole point of this store flavor
    val tbl = spark.sql(s"DESCRIBE EXTENDED bs_mut").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tbl.get("Num Buckets").exists(_.trim == "4"), tbl.get("Num Buckets"))
  }

  test("partitioned+bucketed mergeIn rewrites only touched partitions") {
    StoreWrite.dropTable(spark, "bs_part")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val whPath = new org.apache.hadoop.fs.Path(s"$wh/bs_part")
    val bs = new BucketedStore(spark, "bs_part", Seq("p", "k"), 4,
      partitionCols = Seq("p"))
    bs.mergeIn((1L to 4L).flatMap(p => (1L to 3L).map(k => (p, k, p * 10.0 + k)))
      .toDF("p", "k", "v"))

    def files(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(whPath.toUri.getPath))
        .filter(f => f.getName.endsWith(".parquet"))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val before = files()
    Thread.sleep(1100)
    bs.mergeIn(Seq((2L, 4L, 24.0)).toDF("p", "k", "v"))
    val after = files()
    assert(after.filterNot(_._1.contains("p=2")) ==
      before.filterNot(_._1.contains("p=2")),
      "untouched partitions were rewritten")

    val got = bs.load().select("p", "k", "v")
      .as[(Long, Long, Double)].collect().toSet
    val want = (1L to 4L).flatMap(p => (1L to 3L).map(k => (p, k, p * 10.0 + k)))
      .toSet + ((2L, 4L, 24.0))
    assert(got == want)

    // merge-join on the full keys still sees the bucketing on k
    val beforeThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val neu = Seq((2L, 1L, -1.0)).toDF("p", "k", "v2")
      val plan = Merge.merge(bs.load(), neu, Seq("p", "k"), Merge.NewWins)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", beforeThresh)

    // conflicts surface from inside the pruned partition
    assertThrows[MergeConflictException](
      bs.mergeIn(Seq((2L, 1L, -5.0)).toDF("p", "k", "v")))
  }

  test("property: string-axis + bool/string-var merges through BucketedStore " +
       "match the map model in every mode") {
    // dtype bridge at the STORE-MERGE level (round 11): cx2 proved
    // complex merge on ParquetStore; this pins STRING keys with BOOL
    // and STRING variables through the bucketed flavor — the
    // exchange-free merge that is the 100 TB store path — against an
    // in-memory map model, for NewWins/OldWins and the NoConflicts
    // conflict contract, over deterministic pseudo-random stores.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val keyPool = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val storeGen: Gen[Map[String, (Boolean, String)]] = for {
      n <- Gen.choose(1, 5)
      ks <- Gen.pick(n, keyPool)
      bs <- Gen.listOfN(n, Gen.oneOf(true, false))
      ss <- Gen.listOfN(n, Gen.oneOf("x", "y", "zz"))
    } yield ks.toSeq.zip(bs.zip(ss)).toMap
    val params = Gen.Parameters.default.withSize(6)
    def rowsDF(m: Map[String, (Boolean, String)]) =
      m.toSeq.map { case (k, (b, s)) => (k, b, s) }.toDF("k", "flag", "tag")
    def loadMap(bs: BucketedStore) =
      bs.load().as[(String, Boolean, String)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
    for (i <- 0 until 4) {
      val oldM = storeGen.pureApply(params, Seed(7L + i))
      val newM = storeGen.pureApply(params, Seed(507L + i))
      // NewWins: delta wins on overlap, union elsewhere
      val bsNew = fresh(s"bs_prop_new_$i")
      bsNew.mergeIn(rowsDF(oldM))
      bsNew.mergeIn(rowsDF(newM), Merge.NewWins)
      assert(loadMap(bsNew) == oldM ++ newM, s"NewWins trial $i")
      // OldWins: store wins on overlap
      val bsOld = fresh(s"bs_prop_old_$i")
      bsOld.mergeIn(rowsDF(oldM))
      bsOld.mergeIn(rowsDF(newM), Merge.OldWins)
      assert(loadMap(bsOld) == newM ++ oldM, s"OldWins trial $i")
      // NoConflicts: identical overlap coalesces (idempotence);
      // a genuinely differing overlap must throw
      val bsNc = fresh(s"bs_prop_nc_$i")
      bsNc.mergeIn(rowsDF(oldM))
      bsNc.mergeIn(rowsDF(oldM)) // re-merge self: no-op by contract
      assert(loadMap(bsNc) == oldM, s"NoConflicts idempotence trial $i")
      val conflicts = oldM.keySet.intersect(newM.keySet)
        .exists(k => oldM(k) != newM(k))
      if (conflicts)
        assertThrows[MergeConflictException](bsNc.mergeIn(rowsDF(newM)))
      else {
        bsNc.mergeIn(rowsDF(newM))
        assert(loadMap(bsNc) == oldM ++ newM, s"NoConflicts union trial $i")
      }
    }
  }

  test("store-side merge join needs no exchange (bucket co-location)") {
    val bs = fresh("bs_plan")
    bs.mergeIn((1L to 100L).map(i => (i, i.toDouble)).toDF("k", "v"))
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val neu = (90L to 110L).map(i => (i, -i.toDouble)).toDF("k", "v2")
      val plan = Merge.merge(bs.load(), neu, Seq("k"), Merge.NewWins)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      // exactly ONE exchange: the new side shuffles to the bucketing;
      // the store side streams straight from its buckets
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected 1 exchange, plan:\n$plan")
      // and the non-bucketed equivalent pays two
      val flat = bs.load().localCheckpoint()
      val planFlat = Merge.merge(flat, neu, Seq("k"), Merge.NewWins)
        .queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(planFlat).length == 2)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("a re-typed value column is never cast to the stored type: " +
       "append refuses it, mergeIn takes the full rewrite") {
    StoreWrite.dropTable(spark, "bs_retype")
    val bs = new BucketedStore(spark, "bs_retype", Seq("p", "k"), 2,
      partitionCols = Seq("p"))
    bs.mergeIn(Seq((1L, 1L, 1), (1L, 2L, 2)).toDF("p", "k", "v")) // v int
    val e = intercept[graft.store.StoreSchemaException](
      bs.append(Seq((1L, 3L, 5.9)).toDF("p", "k", "v")))
    assert(e.column == "v" && e.getMessage.contains("bs_retype"), e.getMessage)
    assert(bs.load().count() == 2)
    bs.mergeIn(Seq((1L, 3L, 2.7)).toDF("p", "k", "v"))
    assert(bs.load().schema("v").dataType == org.apache.spark.sql.types.DoubleType)
    assert(bs.load().select("k", "v").as[(Long, Double)].collect().toMap ==
      Map(1L -> 1.0, 2L -> 2.0, 3L -> 2.7))
  }

  test("a failed staged rewrite keeps the stage, holding the merged rows, and names it") {
    val bs = fresh("bs_stage")
    bs.mergeIn(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    val merged = Merge.merge(bs.load(), Seq((2L, 20.0), (3L, 30.0)).toDF("k", "v"), Seq("k"))
    val stage = new org.apache.hadoop.fs.Path(
      Files.createTempDirectory("graft-stage").toString, "stage")
    val e = intercept[java.io.IOException](StoreWrite.stagedCommit(spark, merged, stage) {
      _ => throw new IllegalStateException("injected rewrite failure")
    })
    assert(e.getMessage.contains(stage.toString), e.getMessage)
    assert(e.getCause.getMessage == "injected rewrite failure")
    assert(spark.read.parquet(stage.toString).as[(Long, Double)].collect().toMap ==
      Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    // a commit that succeeds removes the stage
    StoreWrite.stagedCommit(spark, merged, stage)(_ => ())
    assert(!new java.io.File(stage.toUri.getPath).exists())
  }
}

/** Lease contention for the catalog-table stores: every mutator takes
  * its artifact's write lease (at [[graft.store.WriteLease.lockPathFor]])
  * before it writes anything. */
class StoreLeaseSpec extends SparkSpec {
  import spark.implicits._
  import graft.dedup.{DedupSnapshot, SketchStore}

  test("a foreign lease makes every BucketedStore, DedupSnapshot and SketchStore " +
       "mutator fail loudly, naming breakLease; no table changes") {
    import graft.similarity.Similarity.PersistedIndex
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "completely unrelated store content about streams and sinks"),
      (3L, "another unrelated store doc mentioning windows and joins"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again today"),
      (11L, "fresh delta content that matches nothing in the store"))
      .toDF("doc_id", "text")
    StoreWrite.dropTable(spark, "lease_bs")
    val bs = new BucketedStore(spark, "lease_bs", Seq("k"), 2)
    bs.mergeIn(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    val snap = new DedupSnapshot(spark, "lease_snap", nBuckets = 2)
    snap.writeCorpus(docs, "doc_id", "text")
    val skst = new SketchStore(spark, "lease_sk", nBuckets = 2)
    skst.build(docs, "doc_id", "text")
    val vecs = (0 until 24).map(i => (i.toLong,
      Seq.tabulate(4)(j => (if (j == i % 2) 5.0 else 0.0) + (i * 7 + j) % 5 / 10.0)))
      .toDF("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft-lease-idx").toString
    PersistedIndex.build(vecs.filter($"vec_id" < 20), "vec_id", "embedding", idx,
      kLists = 2, m = 2, kCodes = 4)

    val tables = Seq("lease_bs", "lease_snap_corpus", "lease_snap_seen",
      "lease_snap_sigs", "lease_snap_shingles", "lease_snap_tombs",
      "lease_sk_sk", "lease_sk_skidx")
    def contents(): Map[String, Seq[String]] = tables.map { t =>
      t -> (if (spark.catalog.tableExists(t))
        spark.table(t).collect().map(_.toString).sorted.toSeq else Seq("<absent>"))
    }.toMap ++ Map(
      "index corpus" -> PersistedIndex.corpus(spark, idx).select("vec_id")
        .collect().map(_.toString).sorted.toSeq,
      "index tombstones" -> PersistedIndex.tombstones(spark, idx)
        .collect().map(_.toString).sorted.toSeq)

    // (name, lease key, the owner's breakLease, mutation)
    val mutators: Seq[(String, String, () => Unit, () => Any)] = Seq(
      ("BucketedStore.mergeIn", bs.leaseDest, () => bs.breakLease(),
        () => bs.mergeIn(Seq((3L, 30.0)).toDF("k", "v"))),
      ("BucketedStore.append", bs.leaseDest, () => bs.breakLease(),
        () => bs.append(Seq((4L, 40.0)).toDF("k", "v"))),
      ("BucketedStore.replaceWith", bs.leaseDest, () => bs.breakLease(),
        () => bs.replaceWith(Seq((3L, 30.0)).toDF("k", "v"))),
      ("BucketedStore.expandDims", bs.leaseDest, () => bs.breakLease(),
        () => bs.expandDims("run", "r0")),
      ("BucketedStore.dropSel", bs.leaseDest, () => bs.breakLease(),
        () => bs.dropSel("k", Seq(1L))),
      ("DedupSnapshot.writeCorpus", snap.leaseDest, () => snap.breakLease(),
        () => snap.writeCorpus(delta, "doc_id", "text")),
      ("DedupSnapshot.takedown", snap.leaseDest, () => snap.breakLease(),
        () => snap.takedown(Seq(1L).toDF("doc_id"), "doc_id")),
      ("DedupSnapshot.ingestDelta(commit = true)", snap.leaseDest, () => snap.breakLease(),
        () => snap.ingestDelta(delta, "doc_id", "text", commit = true)),
      ("SketchStore.build", skst.leaseDest, () => skst.breakLease(),
        () => skst.build(delta, "doc_id", "text")),
      ("SketchStore.ingestDelta(commit = true)", skst.leaseDest, () => skst.breakLease(),
        () => skst.ingestDelta(delta, "doc_id", "text", commit = true)),
      ("PersistedIndex.delete", idx, () => PersistedIndex.breakLease(spark, idx),
        () => PersistedIndex.delete(Seq(3L).toDF("vec_id"), "vec_id", idx)),
      ("PersistedIndex.append", idx, () => PersistedIndex.breakLease(spark, idx),
        () => PersistedIndex.append(vecs.filter($"vec_id" >= 20), "vec_id", "embedding", idx)))

    mutators.foreach { case (name, dest, breakLease, mutate) =>
      val before = contents()
      val lock = graft.store.WriteLease.lockPathFor(dest)
      val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(lock, false)
      out.write("pid=9999 op=foreign host=other".getBytes("UTF-8")); out.close()
      try {
        val e = intercept[graft.store.ConcurrentWriteException](mutate())
        assert(e.getMessage.contains("breakLease") && e.getMessage.contains("pid=9999"),
          s"$name: ${e.getMessage}")
        assert(contents() == before, s"$name changed a table")
        // the owner's breakLease clears the stale lease: the mutation now runs
        breakLease()
        assert(!fs.exists(lock), s"$name: breakLease left the lease")
        mutate()
        assert(!fs.exists(lock), s"$name: the lease outlived the mutation")
      } finally fs.delete(lock, true)
    }
  }
}
