package graft.queries

import graft.batch.Crop
import graft.expand.Grid
import graft.functions.TimeFns
import graft.run.Farming
import org.apache.spark.sql.functions._
import Queries.table

/** Queries exercising the stateful lifecycles (harvest store, crop
  * sow/grow/reap) end-to-end, plus event-time window analytics on the
  * events table. Lifecycle queries run against throwaway /tmp stores
  * and are oracle-checked against the equivalent direct computation.
  */
object LifecycleQueries {

  /** Fresh per-query scratch dir under the shared `/tmp/graft-q-*`
    * convention (also used by [[WetQueries]]). */
  private[queries] def freshDir(name: String): String = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft-q-$name"
    val p = new java.io.File(d)
    if (p.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(p)
    }
    d
  }

  /** H1: full harvest lifecycle — two incremental harvests (second is
    * missing-only over a widened axis) whose merged store must equal
    * the direct one-shot computation.
    */
  val h1Harvest = QueryDef(
    "h1_harvest_lifecycle",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      def sweep(flags: Seq[String]) = li
        .filter(col("l_returnflag").isin(flags: _*))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("qty"))
      val h = Farming.harvester(s, freshDir("h1"),
        Seq("l_returnflag", "l_linestatus"))
      // harvest in two passes: A+N first, then R merged in
      h.store.mergeIn(sweep(Seq("A", "N")))
      h.store.mergeIn(sweep(Seq("R")))
      h.store.load()
    },
    Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS qty
      FROM lineitem GROUP BY 1, 2"""))

  /** H4: store-MUTATION lifecycle (the last spec-only store ops with
    * SQL-visible semantics, round-8 directive): build a store from an
    * aggregation, `append` extra rows (M11 `Sampler.add_df`,
    * farming.py:975-1008), `expandDims` a constant coordinate (M7
    * `expand_dims`, farming.py:672-708), `dropSel` a coordinate value
    * (M8 `drop_sel`), then read back. The oracle recomputes the final
    * table as UNION ALL + literal column + filter — every mutation's
    * effect is visible in the hash.
    */
  val h4Mutations = QueryDef(
    "h4_store_mutations",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      def agg(flags: String*) = li
        .filter(col("l_returnflag").isin(flags: _*))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("qty"))
      val st = new graft.store.ParquetStore(s, freshDir("h4") + "/store",
        Seq("l_returnflag", "l_linestatus"),
        partitionCols = Seq("l_returnflag"))
      st.replaceWith(agg("A", "N")) // build
      st.append(agg("R"))           // M11: long-table append
      st.expandDims("batch", 7L)    // M7: constant coordinate
      st.dropSel("l_linestatus", Seq("F")) // M8: drop a coord value
      st.load()
    },
    Some("""WITH allrows AS (
        SELECT l_returnflag, l_linestatus, sum(l_quantity) AS qty
        FROM lineitem WHERE l_returnflag IN ('A', 'N') GROUP BY 1, 2
        UNION ALL
        SELECT l_returnflag, l_linestatus, sum(l_quantity) AS qty
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1, 2)
      SELECT l_returnflag, l_linestatus, qty, CAST(7 AS BIGINT) AS batch
      FROM allrows WHERE l_linestatus <> 'F'"""))

  /** B4: crop sow/grow/reap round-trip — batched evaluation over the
    * (returnflag × linestatus × priority) grid must equal the direct
    * cross join + expression.
    */
  val b4Crop = QueryDef(
    "b4_crop_roundtrip",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      val ords = table(s, dir, "orders")
      val grid = Grid.expandDFs(Seq(
        li.select(col("l_returnflag").as("flag")).distinct(),
        li.select(col("l_linestatus").as("status")).distinct(),
        ords.select(col("o_orderpriority").as("priority")).distinct()))
      val crop = new Crop(s, freshDir("b4"), Seq("flag", "status", "priority"))
      crop.sow(grid, numBatches = Some(4))
      // bulk grow: one job for all missing batches (the per-batch loop
      // is exercised in CropSpec; a single worker owning every batch
      // should not pay 4 job commits)
      crop.growMissingBulk(df => df.withColumn("label",
        concat_ws("/", col("flag"), col("status"), col("priority"))))
      crop.reap()
    },
    Some("""SELECT f.flag, st.status, p.priority,
        f.flag || '/' || st.status || '/' || p.priority AS label
      FROM (SELECT DISTINCT l_returnflag AS flag FROM lineitem) f
      CROSS JOIN (SELECT DISTINCT l_linestatus AS status FROM lineitem) st
      CROSS JOIN (SELECT DISTINCT o_orderpriority AS priority FROM orders) p"""))

  /** EV1: event-time tumbling window — hourly per-type count/avg (the
    * batch form of the streaming aggregation in graft.streaming).
    */
  val ev1Window = QueryDef(
    "ev1_tumbling_window",
    // mean fully in integer space, no engine ROUND anywhere: a double
    // avg is partial-sum-order dependent (3 windows flipped at sf0.1),
    // and even a quantized sum creates EXACT .00005 ties that Spark
    // (BigDecimal shortest-repr HALF_UP) and DuckDB (double-space
    // nearbyint) break differently. round(value·1e6) to a long is
    // engine-identical, the long sum is exact in any order, and the
    // 4-decimal half-up round is floor((s+50n)/(100n)) — pure integer
    // arithmetic (values are ≥0 here), divided by 1e4 at the very end
    // (one IEEE op on identical integers). (Decimal casts cannot fix
    // this class: DuckDB truncates double→decimal where Spark rounds.)
    (s, dir) => {
      val q = round(col("value") * lit(1e6)).cast("long")
      val ev = table(s, dir, "events")
      ev
        .withColumn("hour", date_trunc("hour", TimeFns.asTimestamp(ev, "ts")))
        .groupBy("hour", "event_type")
        .agg(count(lit(1)).as("n"), sum(q).as("__s"))
        .withColumn("mean_value",
          expr("(__s + 50 * n) div (100 * n)") / lit(1e4))
        .drop("__s")
    },
    Some("""SELECT hour, event_type, n,
        ((s + 50 * n) // (100 * n)) / 10000.0 AS mean_value
      FROM (SELECT date_trunc('hour', ts) AS hour, event_type,
              count(*) AS n,
              SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS s
            FROM events GROUP BY 1, 2)"""))

  /** EV2: sessionization — 30-minute-gap sessions per user via a lag
    * window, then per-user session stats.
    */
  val ev2Sessions = QueryDef(
    "ev2_sessionization",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts")
      val events = table(s, dir, "events")
      // gap test in micros-since-epoch: schema-adaptive (native
      // TIMESTAMP or legacy Long-nanos), and a plain BIGINT compare
      // keeps the window + filter inside whole-stage codegen
      val ev = events
        .withColumn("__us", TimeFns.asMicros(events, "ts"))
        .withColumn("prev_us", lag(col("__us"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_us").isNull ||
            (col("__us") - col("prev_us")) > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum("new_session").over(
          Window.partitionBy("user_id").orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      ev.groupBy("user_id")
        .agg(max("session_id").as("n_sessions"), count(lit(1)).as("n_events"))
    },
    Some("""WITH marked AS (SELECT user_id, ts,
        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS new_session FROM events),
      sess AS (SELECT user_id,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
          ROWS UNBOUNDED PRECEDING) AS session_id FROM marked)
      SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
        count(*) AS n_events
      FROM sess GROUP BY user_id"""))

  /** EV3: JSON property extraction from the events props column.
    * mean_k rounds in integer space (k is an int, so the sum is exact
    * and half-up = floor((2·10⁴·s + nk)/(2nk)) — the same tie-free
    * treatment as ev1's mean). The denominator is count(k), the
    * NON-NULL count, so rows whose props lack '$.k' don't dilute the
    * mean (upstream mean semantics). Spark's `div` truncates toward
    * zero where DuckDB's `//` floors, so the Spark side subtracts
    * `pmod` first — exact floor division for negative sums too.
    */
  val ev3Json = QueryDef(
    "ev3_json_props",
    (s, dir) => table(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        count(col("k")).as("__nk"))
      .withColumn("mean_k", when(col("__nk") > 0,
        expr("""(20000 * sum_k + __nk
                 - pmod(20000 * sum_k + __nk, 2 * __nk)) div (2 * __nk)""")
          / lit(1e4)))
      .drop("__nk"),
    Some("""SELECT event_type, n, sum_k,
        CASE WHEN nk > 0
             THEN ((20000 * sum_k + nk) // (2 * nk)) / 10000.0 END AS mean_k
      FROM (SELECT event_type, count(*) AS n,
              CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
              count(CAST(json_extract(props, '$.k') AS BIGINT)) AS nk
            FROM events GROUP BY event_type)"""))

  /** EV4: as-of join — each click event attaches the most recent
    * prior view's value for the same user (backward, tie-inclusive).
    * Oracled against DuckDB's NATIVE ASOF JOIN, so the operator's
    * semantics are pinned to an engine that has it built in. The ts
    * column stays internal (only ordered, never compared across
    * encodings — excluded from the compared output).
    */
  val ev4Asof = QueryDef(
    "ev4_asof_join",
    (s, dir) => {
      val ev = table(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("vts"),
          col("value").as("vv"))
      // tiebreak pins which of two hypothetical equal-(user, ts) views
      // wins (max value) — the oracle dedupes the same way, so the
      // compare stays deterministic even if the data ever gains ties
      graft.operators.AsofJoin.backward(clicks, views,
        Seq("user_id"), "ts", "vts", Seq("vv" -> "last_view_value"),
        tiebreak = Seq("last_view_value"))
        .select("event_id", "user_id", "value", "last_view_value")
    },
    Some("""SELECT l.event_id, l.user_id, l.value,
        r.vv AS last_view_value
      FROM (SELECT * FROM events WHERE event_type = 'click') l
      ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS vv
            FROM events WHERE event_type = 'view' GROUP BY 1, 2) r
        ON l.user_id = r.user_id AND l.ts >= r.ts"""))

  /** EV5: hopping (sliding) window — 1-hour windows every 30 minutes
    * via Spark's built-in `window()` generator (each event lands in
    * windowDuration/slide = 2 windows; the expansion is a map-side
    * generate, the aggregation one partial-combined shuffle keyed by
    * window start). min/max are exact element picks, so the compare
    * has no summation-order surface at all. Both engines align
    * 30-minute buckets on the epoch grid (Spark: unix epoch; DuckDB
    * time_bucket: 2000-01-01 — the same 30-minute phase).
    */
  val ev5Sliding = QueryDef(
    "ev5_sliding_window",
    (s, dir) => {
      val ev = table(s, dir, "events")
      ev.withColumn("__t", TimeFns.asTimestamp(ev, "ts"))
        .groupBy(window(col("__t"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          min("value").as("min_value"), max("value").as("max_value"))
        .select(col("window.start").as("ws"), col("event_type"),
          col("n"), col("min_value"), col("max_value"))
    },
    Some("""SELECT time_bucket(INTERVAL 30 MINUTE, ts)
          - o.o * INTERVAL 30 MINUTE AS ws,
        event_type, count(*) AS n,
        min(value) AS min_value, max(value) AS max_value
      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS o) o
      GROUP BY 1, 2"""))

  /** EV6: top-k per window — the 3 most frequent event types per
    * tumbling hour (rank by count desc, type asc — the explicit
    * tiebreak keeps both engines' row_number deterministic). The rank
    * window partitions by hour AFTER the count aggregation, so the
    * ranked exchange carries one row per (hour, type), not per event.
    */
  val ev6TopK = QueryDef(
    "ev6_topk_per_window",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = table(s, dir, "events")
      ev.withColumn("hour", date_trunc("hour", TimeFns.asTimestamp(ev, "ts")))
        .groupBy("hour", "event_type").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("hour").orderBy(col("n").desc, col("event_type"))))
        .filter(col("rk") <= 3)
    },
    Some("""SELECT hour, event_type, n, rk FROM (
        SELECT hour, event_type, n, CAST(row_number() OVER (
            PARTITION BY hour ORDER BY n DESC, event_type) AS INT) AS rk
        FROM (SELECT date_trunc('hour', ts) AS hour, event_type,
                count(*) AS n FROM events GROUP BY 1, 2) c) r
      WHERE rk <= 3"""))

  /** H2: the BUCKETED harvest lifecycle — same two-pass harvest as h1
    * but accumulated through a bucketBy+sortBy catalog table, whose
    * merges stream the store side with no exchange. Same oracle as the
    * direct computation, so the bucketed path is driver-gate-checked.
    */
  val h2Bucketed = QueryDef(
    "h2_bucketed_harvest",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      def sweep(flags: Seq[String]) = li
        .filter(col("l_returnflag").isin(flags: _*))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("qty"))
      graft.store.StoreWrite.dropTable(s, "graft_h2_store")
      val bs = new graft.store.BucketedStore(s, "graft_h2_store",
        Seq("l_returnflag", "l_linestatus"), nBuckets = 4)
      bs.mergeIn(sweep(Seq("A", "N")))
      bs.mergeIn(sweep(Seq("R")))
      bs.load()
    },
    Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS qty
      FROM lineitem GROUP BY 1, 2"""))

  /** H3: harvest LOOP — K sequential mergeIns into a PARTITIONED
    * store, one order-priority sweep per merge. This is the shape a
    * long-running harvest campaign has (many small deltas into one
    * big accumulator), and the bench query that makes the
    * partition-pruned merge measurable: each merge after the first
    * reads and rewrites only the delta's own partition (dynamic
    * partition overwrite), so the loop's cost is O(Σ|delta|), not
    * O(K·|store|). Final store must equal the one-shot aggregate.
    * (xyzpy harvest loop: farming.py:520-580 — whole-file per merge.)
    */
  val h3Loop = QueryDef(
    "h3_harvest_loop",
    (s, dir) => {
      val ords = table(s, dir, "orders")
      def sweep(p: String) = ords
        .filter(col("o_orderpriority") === p)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
      val st = new graft.store.ParquetStore(s, freshDir("h3") + "/store",
        Seq("o_orderpriority", "o_orderstatus"),
        partitionCols = Seq("o_orderpriority"))
      // bounded collect: the partition coordinate values (K=5 sweeps)
      val prios = ords.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted
      prios.foreach(p => st.mergeIn(sweep(p)))
      st.load().select("o_orderpriority", "o_orderstatus", "n", "sum_cents")
    },
    Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM orders GROUP BY 1, 2"""))

  /** M6: merge-all — three disjoint-variable stores folded into one
    * aligned frame (merge(ds1, ds2, ds3) in the reference).
    */
  val m6MergeAll = QueryDef(
    "m6_merge_all",
    (s, dir) => {
      val li = table(s, dir, "lineitem")
      val a = li.groupBy("l_returnflag").agg(sum("l_quantity").as("qty"))
      val b = li.filter(col("l_linestatus") === "O")
        .groupBy("l_returnflag").agg(count(lit(1)).as("n_open"))
      val c = li.filter(col("l_quantity") > 25)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n_large"))
      graft.store.Merge.mergeAll(Seq(a, b, c), Seq("l_returnflag"))
    },
    Some("""SELECT COALESCE(a.l_returnflag, b.l_returnflag, c.l_returnflag)
          AS l_returnflag, a.qty, b.n_open, c.n_large
      FROM (SELECT l_returnflag, sum(l_quantity) AS qty
            FROM lineitem GROUP BY 1) a
      FULL JOIN (SELECT l_returnflag, count(*) AS n_open
            FROM lineitem WHERE l_linestatus = 'O' GROUP BY 1) b
        ON a.l_returnflag = b.l_returnflag
      FULL JOIN (SELECT l_returnflag, count(*) AS n_large
            FROM lineitem WHERE l_quantity > 25 GROUP BY 1) c
        ON COALESCE(a.l_returnflag, b.l_returnflag) = c.l_returnflag"""))

  /** IO2: csv round-trip — write a projected subset as csv, read it
    * back (schema inference), aggregate; must equal the aggregate over
    * the original parquet. Counts and exact integer-cents sums keep
    * the text round-trip on the compare path without float rounding.
    */
  val io2Csv = QueryDef(
    "io2_csv_roundtrip",
    (s, dir) => {
      val sub = table(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
      val path = freshDir("io2")
      graft.store.IO.save(sub, path, "csv")
      graft.store.IO.load(s, path, "csv").agg(
        count(lit(1)).as("n"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_cents"),
        sum(col("l_orderkey")).as("sum_key"))
    },
    Some("""SELECT count(*) AS n,
        CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        CAST(SUM(l_orderkey) AS BIGINT) AS sum_key
      FROM lineitem WHERE l_returnflag = 'R'"""))

  /** IO5: netCDF save-side bridge round-trip — aggregate lineitem
    * onto a dense (linenum × pk8) grid, write it as a CDF-1 file with
    * [[graft.sources.NetCDF3Sink]] (xyzpy's own persistence format,
    * manage.py:61-99), read it back with
    * [[graft.sources.NetCDF3Source]], and compare against the direct
    * aggregation. Values stay integral-in-double (sums of integral
    * quantities, counts) so the dense round-trip is bit-exact and the
    * grid is complete by construction at every tested SF.
    */
  val io5Netcdf = QueryDef(
    "io5_netcdf_roundtrip",
    (s, dir) => {
      val grid = table(s, dir, "lineitem")
        .groupBy(col("l_linenumber").as("linenum"),
          (col("l_partkey") % 8).as("pk8"))
        .agg(sum("l_quantity").as("sum_qty"),
          count(lit(1)).cast("double").as("n_rows"))
      val f = freshDir("io5") + "/grid.nc"
      graft.sources.NetCDF3Sink.writeDataset(grid, f, Seq("linenum", "pk8"))
      graft.sources.NetCDF3Source.readDataset(s, f)
        .select("linenum", "pk8", "sum_qty", "n_rows")
    },
    Some("""SELECT CAST(l_linenumber AS BIGINT) AS linenum,
        CAST(l_partkey % 8 AS BIGINT) AS pk8,
        CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        CAST(COUNT(*) AS DOUBLE) AS n_rows
      FROM lineitem GROUP BY 1, 2"""))

  /** IO6: zarr save-side bridge round-trip — same shape as IO5 via
    * the DISTRIBUTED writer ([[graft.sources.ZarrSink]], one sorted
    * shuffle for the variable set, zlib chunks) and
    * [[graft.sources.ZarrSource]] read-back.
    */
  val io6Zarr = QueryDef(
    "io6_zarr_roundtrip",
    (s, dir) => {
      val grid = table(s, dir, "lineitem")
        .groupBy(col("l_linenumber").as("linenum"),
          (col("l_orderkey") % 4).as("ok4"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .cast("double").as("sum_cents"),
          count(lit(1)).cast("double").as("n_rows"))
      val d = freshDir("io6") + "/grid.zarr"
      graft.sources.ZarrSink.writeDataset(grid, d, Seq("linenum", "ok4"))
      graft.sources.ZarrSource.readDataset(s, d)
        .select("linenum", "ok4", "sum_cents", "n_rows")
    },
    Some("""SELECT CAST(l_linenumber AS BIGINT) AS linenum,
        CAST(l_orderkey % 4 AS BIGINT) AS ok4,
        CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sum_cents,
        CAST(COUNT(*) AS DOUBLE) AS n_rows
      FROM lineitem GROUP BY 1, 2"""))

  /** IO7: zarr V3 SHARDED save-side round-trip — the zarr-python-3
    * store shape ([[graft.sources.ZarrSink]] `zarrFormat = 3`,
    * `sharding_indexed` per ZEP 2). The tiny `chunkTargetBytes`
    * forces MULTIPLE shards with 2-row inner chunks, so the read-back
    * crosses shard boundaries, decodes a partially-padded edge inner
    * chunk, skips MISSING (2⁶⁴−1) index entries for the fully
    * out-of-bounds tail, and verifies each shard's CRC32C-tailed
    * index. Same
    * complete-by-construction (linenum × ok4) grid discipline as
    * io5/io6, different aggregates.
    */
  val io7ZarrV3 = QueryDef(
    "io7_zarr_v3_sharded_roundtrip",
    (s, dir) => {
      val grid = table(s, dir, "lineitem")
        .groupBy(col("l_linenumber").as("linenum"),
          (col("l_orderkey") % 4).as("ok4"))
        .agg(sum("l_quantity").as("sum_qty"),
          sum((col("l_suppkey") % 97).cast("double")).as("sum_sk97"))
      val d = freshDir("io7") + "/grid.zarr"
      // 6 dim-0 rows per shard (4 inner cols × 8 B × 6), 2-row inner
      // chunks: linenum's 7 values split into shards {1..6} and {7}
      // — shard 1's first inner chunk is PARTIALLY padded (1 of 2
      // rows valid) and its remaining two inner chunks are fully out
      // of bounds, written as MISSING (2⁶⁴−1) index entries, so the
      // oracle round-trip exercises both ZEP-2 edge encodings
      graft.sources.ZarrSink.writeDataset(grid, d, Seq("linenum", "ok4"),
        chunkTargetBytes = 192L, zarrFormat = 3, shardInnerRows = 2)
      graft.sources.ZarrSource.readDataset(s, d)
        .select("linenum", "ok4", "sum_qty", "sum_sk97")
    },
    Some("""SELECT CAST(l_linenumber AS BIGINT) AS linenum,
        CAST(l_orderkey % 4 AS BIGINT) AS ok4,
        CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        CAST(SUM(l_suppkey % 97) AS DOUBLE) AS sum_sk97
      FROM lineitem GROUP BY 1, 2"""))

  /** IO8: dtype-bridge round-trip — the reference's canonical store
    * shape (tests/test_manage.py:15-27: a STRING coordinate axis plus
    * non-float variables) through the distributed zarr writer and
    * back. `rflag` writes as numpy `<U1`, `even_rows` as `|b1`;
    * [[graft.sources.ZarrSource]] restores STRING/BOOLEAN types, so
    * the oracle compares typed values, not encodings. The
    * (rflag × linenum) grid is complete at every tested SF (21 cells),
    * which the bool variable requires — bools, like ints, have no NaN
    * fill.
    */
  val io8Dtypes = QueryDef(
    "io8_dtype_roundtrip",
    (s, dir) => {
      val grid = table(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("rflag"),
          col("l_linenumber").as("linenum"))
        .agg(sum("l_quantity").as("sum_qty"),
          (count(lit(1)) % 2 === 0).as("even_rows"))
      val d = freshDir("io8") + "/grid.zarr"
      graft.sources.ZarrSink.writeDataset(grid, d, Seq("rflag", "linenum"))
      graft.sources.ZarrSource.readDataset(s, d)
        .select("rflag", "linenum", "sum_qty", "even_rows")
    },
    Some("""SELECT l_returnflag AS rflag,
        CAST(l_linenumber AS BIGINT) AS linenum,
        CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        (COUNT(*) % 2 = 0) AS even_rows
      FROM lineitem GROUP BY 1, 2"""))

  /** IO9: netCDF dtype round-trip — the classic-format half of io8.
    * The string axis crosses as an NC_CHAR matrix over a `rflag_strlen`
    * dimension; the bool variable narrows to NC_BYTE 0/1 (classic has
    * no boolean type), so the oracle compares it as BIGINT — the
    * documented, deliberate narrowing, pinned here so it cannot drift
    * silently.
    */
  val io9NetcdfDtypes = QueryDef(
    "io9_netcdf_dtype_roundtrip",
    (s, dir) => {
      val grid = table(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("rflag"),
          col("l_linenumber").as("linenum"))
        .agg(sum("l_quantity").as("sum_qty"),
          (count(lit(1)) % 2 === 0).as("even_rows"))
      val f = freshDir("io9") + "/grid.nc"
      graft.sources.NetCDF3Sink.writeDataset(grid, f, Seq("rflag", "linenum"))
      graft.sources.NetCDF3Source.readDataset(s, f)
        .select("rflag", "linenum", "sum_qty", "even_rows")
    },
    Some("""SELECT l_returnflag AS rflag,
        CAST(l_linenumber AS BIGINT) AS linenum,
        CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
        CAST(COUNT(*) % 2 = 0 AS BIGINT) AS even_rows
      FROM lineitem GROUP BY 1, 2"""))

  /** RJ1: range join — lineitem prices against per-size price bands
    * ([size·500, size·500+2000]); the binned equi-join plan replaces
    * the BroadcastNestedLoopJoin Spark gives a raw BETWEEN join.
    * Aggregated per band; the price sum rides in exact integer cents
    * so no engine rounding is on the compare path.
    */
  val rj1Range = QueryDef(
    "rj1_range_join",
    (s, dir) => {
      val pts = table(s, dir, "lineitem")
        .select(col("l_extendedprice").as("x"))
      val bands = table(s, dir, "part").select(col("p_size")).distinct()
        .withColumn("lo", col("p_size") * 500.0)
        .withColumn("hi", col("p_size") * 500.0 + 2000.0)
      graft.operators.RangeJoin.binned(pts, "x", bands, "lo", "hi",
        binWidth = 2000.0)
        .groupBy("p_size")
        .agg(count(lit(1)).as("n"),
          sum(round(col("x") * 100).cast("long")).as("sum_cents"))
    },
    Some("""SELECT p.p_size, count(*) AS n,
        CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM lineitem l
      JOIN (SELECT DISTINCT p_size FROM part) p
        ON l.l_extendedprice >= p.p_size * 500.0
       AND l.l_extendedprice <= p.p_size * 500.0 + 2000.0
      GROUP BY 1"""))

  /** SK1: skew-safe two-stage salted aggregation — must equal the
    * direct groupBy (the oracle) while spreading hot keys over many
    * reducers.
    */
  val sk1Salted = QueryDef(
    "sk1_salted_agg",
    (s, dir) => graft.expand.Skew.saltedStats(
      table(s, dir, "lineitem"), Seq("l_returnflag"), "l_quantity")
      .select(col("l_returnflag"), round(col("sum"), 4).as("sum"), col("n"),
        col("min"), col("max"), round(col("mean"), 4).as("mean")),
    Some("""SELECT l_returnflag, ROUND(sum(l_quantity), 4) AS sum,
      count(l_quantity) AS n, min(l_quantity) AS min, max(l_quantity) AS max,
      ROUND(sum(l_quantity)/count(l_quantity), 4) AS mean
      FROM lineitem GROUP BY l_returnflag"""))

  val all: Seq[QueryDef] = Seq(h1Harvest, h2Bucketed, h3Loop, h4Mutations, m6MergeAll, io2Csv, io5Netcdf, io6Zarr, io7ZarrV3, io8Dtypes, io9NetcdfDtypes, b4Crop, ev1Window, ev2Sessions, ev4Asof, rj1Range,
    ev3Json, ev5Sliding, ev6TopK, sk1Salted)
}
