package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-shape regression guard: the properties that make the headline
  * queries scale (pruned scans, broadcast sides, anti-join
  * work-skipping, single-exchange windows, partial top-k, native
  * kernels in codegen) are asserted against the formatted physical
  * plan, so a future refactor that silently degrades a plan fails
  * here rather than in a benchmark.
  */
class PlanGuardSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.queries.Queries.queryMap(name)(spark, sf)
      .queryExecution.explainString(FormattedMode)

  test("q1_agg: pruned scan + two-phase hash aggregate") {
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"))
    // read schema restricted to the referenced columns — no full-row scan
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("l_shipdate") && !read.contains("l_comment"),
      s"scan not pruned: $read")
  }

  test("a1_median_agg: compact quantile = two exchanges, no Percentile merge") {
    val p = plan("a1_median_agg")
    // the builtin percentile's per-group map merge must NOT be in the
    // plan; the compact path is two exchanges (compaction, keys) with
    // the final groupBy reusing the window partitioning
    assert(!p.contains("percentile"), "builtin percentile crept back in")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).length
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$p")
  }

  test("a8_topk_per_group: partial top-k (WindowGroupLimit) before the exchange") {
    val p = plan("a8_topk_per_group")
    // two instances: per-partition partial + post-shuffle final — only
    // k rows per group per input partition ever reach the exchange
    assert("""\(\d+\) WindowGroupLimit""".r.findAllIn(p).length == 2, p)
  }

  test("e3_cross_expand: grid expansion is broadcast, no shuffle exchange") {
    val p = plan("e3_cross_expand")
    assert(p.contains("BroadcastNestedLoopJoin"))
  }

  test("m9_missing_cases: work-skipping is a broadcast LEFT ANTI join") {
    val p = plan("m9_missing_cases")
    assert(p.contains("LeftAnti"), p.linesIterator.take(25).mkString("\n"))
  }

  test("n1_knn_cosine: query side broadcast, partial top-k, native cosine") {
    val p = plan("n1_knn_cosine")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("WindowGroupLimit"), "top-k should prune before the exchange")
    assert(p.contains("vec_cosine"), "native kernel missing from plan")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("LessThan(vec_id,20)"), s"filter not pushed: $pushed")
  }

  test("ev2_sessionization: both windows share one exchange on user_id") {
    val p = plan("ev2_sessionization")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, // one for the window partitioning, one for the final agg
      s"expected <=2 exchanges, got $exchanges")
  }

  // note: the banded/shingled stages are localCheckpoint-ed, so their
  // kernels (rhp_signature, shingle_hashes) execute at materialization
  // and show as Scan ExistingRDD here — the final plan can only assert
  // the verification stage.

  test("n2_embedding_lsh_pairs: exact-cosine threshold evaluated with the native kernel") {
    val p = plan("n2_embedding_lsh_pairs")
    // the cut is pushed into/next to the join so failing candidates
    // never materialize an output row
    assert(p.contains("vec_cosine"), "native cosine kernel missing from verify stage")
  }

  test("d2_jaccard_pairs: verification joins with intersection on the hashed arrays") {
    val p = plan("d2_jaccard_pairs")
    assert(p.contains("array_intersect"), "array intersection missing from verify stage")
    assert(p.contains("HashAggregate"), "pair-distinct aggregate missing")
  }

  test("t6_decontaminate: corpus is scanned ONCE (bench side once more)") {
    val p = plan("t6_decontaminate")
    // one scan feeds both n_shingles and the explode; the only other
    // scan of documents is the (tiny) benchmark side. The old shape
    // paid a third scan re-computing size(shingles) for n_shingles —
    // at 100 TB that constant is a full extra pass of tokenize+shingle.
    val scans = """\(\d+\) Scan parquet""".r.findAllIn(p).length
    assert(scans == 2, s"expected 2 parquet scans (corpus+bench), got $scans:\n" +
      p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"), "benchmark side should broadcast")
  }

  test("d8_quality_keeper: broadcast cluster join + ONE window exchange") {
    val p = plan("d8_quality_keeper")
    // every row keeps a keep-flag (not a top-1 filter), so a full
    // window is required — the scale discipline is that the (tiny,
    // driver-bounded) cluster map broadcasts against the corpus scan
    // and only (doc_id, cluster, quality) rows reach the single
    // window exchange; corpus text never shuffles
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(20).mkString("\n"))
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 shuffle exchange, got $exchanges")
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("lang"), s"scan not pruned to doc_id+text: $read")
  }

  test("t7/t10 repetition stats are MAP-ONLY: zero exchanges, native kernel") {
    // per-doc term frequency is row-local — nothing may shuffle; the
    // counts come from the gram_run_stats kernel (one in-row sort +
    // run scan), not an explode → groupBy of O(corpus grams) counters
    for (name <- Seq("t7_repetition", "t10_gopher_char")) {
      val p = plan(name)
      val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).length
      assert(exchanges == 0, s"$name: expected 0 exchanges, got $exchanges:\n" +
        p.linesIterator.take(25).mkString("\n"))
      assert(p.contains("gram_run_stats"), s"$name: native kernel missing")
    }
  }

  test("t11_bm25: map-only doc side + ONE stats exchange, broadcast back") {
    val p = plan("t11_bm25")
    // per-doc tf/dl never shuffle; the only exchange feeds the single
    // corpus-stats aggregate row, which broadcasts back to the scan
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange (stats agg), got $exchanges")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "stats row should broadcast")
  }

  test("d9_substring_spans: rolling-hash kernel, census prunes to text only") {
    val p = plan("d9_substring_spans")
    assert(p.contains("char_window_hashes"), "rolling-hash kernel missing")
    // the census side scan must read ONLY text (no doc_id) — its
    // exchange carries hash counters, never window strings
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.exists(_.contains("struct<text:string>")),
      s"census scan not pruned to text: $reads")
  }

  test("n5_pq_knn: codegen argmin encode + native cosine re-rank in one job") {
    val p = plan("n5_pq_knn")
    assert("""nearest_centroid""".r.findAllIn(p).length >= 8,
      "per-subspace encode kernels missing")
    assert(p.contains("vec_cosine"), "exact re-rank kernel missing")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "ADC tables should broadcast")
  }

  test("n7_ivfpq_knn: probe join broadcast, ADC scan, exact re-rank") {
    val p = plan("n7_ivfpq_knn")
    // the probe table (query, ADC table, centroid) must broadcast —
    // the corpus side never shuffles for the scan
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "probe rows should broadcast against the assigned corpus")
    assert("""nearest_centroid""".r.findAllIn(p).length >= 9,
      "IVF assign + per-subspace encode kernels missing")
    // round 8: residual IVFADC — the fused normalize+subtract kernel
    // must encode residuals in-plan (raw-vector encode has no residual)
    assert(p.contains("vec_residual"), "residual encode kernel missing")
    assert(p.contains("vec_cosine"), "exact re-rank kernel missing")
  }

  test("strided d9: winnowed census keeps kernel + pruning, adds no exchange") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.dedup.Dedup
      .substringSpans(docs, "doc_id", "text", w = 40, stride = 8)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("winnowed_window_hashes"), "winnowing kernel missing")
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.exists(_.contains("struct<text:string>")),
      s"census scan not pruned to text: $reads")
    // same exchange count as the exact census: the sampling is map-side
    val exact = graft.dedup.Dedup
      .substringSpans(docs, "doc_id", "text", w = 40, stride = 1)
      .queryExecution.explainString(FormattedMode)
    def nx(s: String) = """Exchange""".r.findAllIn(s).length
    assert(nx(p) <= nx(exact),
      s"strided census added exchanges: ${nx(p)} vs ${nx(exact)}")
  }

  test("t16_chunk_documents is MAP-ONLY: zero exchanges, one generate") {
    val p = plan("t16_chunk_documents")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(p).length
    assert(exchanges == 0, s"expected 0 exchanges, got $exchanges:\n" +
      p.linesIterator.take(25).mkString("\n"))
    assert("""\(\d+\) Generate""".r.findAllIn(p).length == 1,
      "chunking should be one explode of the start-offset range")
  }

  test("cp3_top_terms: rank after aggregation, partial top-k pushed down") {
    val p = plan("cp3_top_terms")
    // the rank exchange must carry (lang, token, count) rows out of the
    // aggregation — and the k<=5 cut runs partially before the shuffle
    assert("""\(\d+\) WindowGroupLimit""".r.findAllIn(p).length == 2, p)
  }

  test("t6b bloom decontamination: might_contain probes the corpus stream") {
    val p = plan("t6b_decontaminate_bloom")
    // the Bloom probe must be present (scalar-subquery filter build)
    // and the exact verify must be a semi-join — FPs die there
    assert(p.contains("might_contain"), "bloom probe missing from plan")
    assert(p.contains("LeftSemi"), "exact verify should be a semi-join")
  }

  test("sd2 capped pairs: equi-join on (centroid, bucket) with the codegen " +
       "assign kernel — never a cartesian, sizes broadcast") {
    val p = plan("sd2_semantic_dedup_capped")
    // within-cluster pairing must be a shuffled equi-join keyed by the
    // (cluster, salted bucket) pair — a cartesian/BNLJ here is the
    // quadratic blowup the cap exists to prevent
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), "pair stage degenerated:\n" +
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "equi-join missing")
    assert(p.contains("nearest_centroid"), "assign kernel missing")
    assert(p.contains("vec_cosine"), "verify kernel missing")
    // the k-row cluster-sizes table must broadcast onto the assignment
    assert(p.contains("BroadcastExchange"), "sizes join should broadcast")
  }

  test("n9 incremental index: probe rows broadcast against the appended " +
       "corpus, residual ADC + exact re-rank kernels in-plan") {
    val p = plan("n9_incremental_index")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "probe rows should broadcast")
    assert(p.contains("vec_cosine"), "exact re-rank kernel missing")
    // the corpus side reads the PERSISTED store (centroid + codes
    // pre-computed by build/append) — no assign/encode kernels may
    // re-run at query time
    assert(!p.contains("nearest_centroid"),
      "query path re-encodes the corpus — should read stored codes")
  }

  test("native kernels present in an un-checkpointed similarity plan") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p1 = emb.select(
      graft.functions.VectorExprs.rhpSignature(
        col("embedding").cast("array<double>"), 64, 32).as("sig"))
      .queryExecution.explainString(FormattedMode)
    // all-literal inputs constant-fold away (itself a sign the kernels
    // evaluate correctly at optimize time) — use column inputs
    val p2 = docs.select(
      graft.functions.TextExprs.shingleHashes(
        graft.functions.TextFns.tokens(col("text")), 3).as("sh"))
      .queryExecution.explainString(FormattedMode)
    assert(p1.contains("rhp_signature"), p1)
    assert(p2.contains("shingle_hashes"), p2)
  }
}
