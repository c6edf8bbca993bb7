package graft
import graft.sources.GraftProvenance.esc
import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query wall times at the
  * SPARK_GRAFT_SF_DIR scale factor.
  *
  * Measurement discipline (a co-tenant machine cannot distinguish a
  * real 2x regression from noise with best-of-2): 5 timed runs per
  * query after a warm-up pass, INTERLEAVED round-robin across queries,
  * report the MEDIAN per query (plus the min for the optimistic
  * floor). Failures never poison the total — a query that throws is
  * excluded and counted in "failed".
  */
object Bench {

  private val Runs = 5

  /** Noise guard: a query whose median/min exceeds this across its
    * timed runs was almost certainly disturbed by co-tenant load (a
    * query does not legitimately vary 3× across runs of identical
    * code — observed up to 12.6× under heavy load, which corrupted
    * one round's recorded bench); it gets two extra timed runs to
    * tighten the median. The emitted JSON carries the residual worst
    * ratio as `noise` so the run's quality is visible.
    */
  private val NoiseRatio = 3.0

  /** Headline queries only (one per operator family, weighted toward
    * the expensive plans). Benching all ~65 registered queries made
    * the emitted JSON line overflow the harness's output tail buffer
    * (BENCH_r03 recorded `parsed: null` with the line truncated) and
    * spent 6 timed executions on sub-200ms lookups that say nothing
    * about scale. The representative queries below keep the signal
    * per second high (the emitted JSON reports the count as
    * `n_queries`); why each was added is recorded in the round reports
    * (OPTIMIZATION_r*.md) and the git history.
    */
  private val Headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q8_market_share", "q9_product_profit", "q13_customer_distribution",
    "q18_large_volume_orders", "q_window_top_parts_per_supplier",
    "q_salted_join_revenue", "q_cube_status_priority", "q_asof_event_order",
    "q_range_join_native", "q_heavy_hitters",
    "src_bucketed_join", "dedup_minhash_lsh", "dedup_clusters",
    "dedup_clusters_exact", "sim_ivf_topk", "text_tokens",
    "text_tfidf_top_terms", "text_fingerprint", "prof_orders_columns",
    "mm_feature_extract", "mm_resize",
    "q2_min_cost_supplier", "q21_waiting_suppliers", "text_repetition",
    "q_funnel_conversion", "q_scd2_user_status", "src_merge_upsert",
    "sim_pq_topk",
    "dedup_substring", "text_decontaminate", "text_unigram_logprob",
    "text_bpe_tokens", "dedup_source_overlap", "pipeline_pack_split",
    "dedup_semantic", "text_dsir_weights", "q_bloom_semi_join",
    "sim_mmr_topk", "text_hash_embed", "pipeline_curriculum",
    "src_stats_table", "dedup_incremental",
    "dedup_sorted_neighborhood", "sim_hnsw_topk",
    "sim_ivf_incremental", "q_entity_resolution",
    "src_v2_agg_pushdown", "q_mv_rewrite", "src_change_feed",
    "src_bloom_index",
    "q_gap_fill", "q_unpivot", "q_quarantine", "sim_filtered_topk",
    "src_wap_publish", "pipeline_curate_pairs",
    "pipeline_cluster_split", "q_feature_snapshot", "mm_token_budget",
    "pipeline_weighted_sample",
    "text_zipf_slope", "pipeline_pack_efficiency", "text_ingest_drift",
    "text_perplexity_buckets",
    "src_mor_delete", "src_mor_upsert", "pipeline_curation_funnel",
    "src_mor_erase", "text_quality_model",
    "src_mor_upsert_eq", "src_mor_incremental_agg",
    "pipeline_shuffle_resume", "src_retention_sweep",
    "src_mor_change_feed", "src_mor_sql_read",
    "src_mor_sql_dml", "src_mor_time_travel",
    "src_export_material", "src_sql_alter_rewrite", "src_sql_layout",
    "src_sql_bucket_join",
    "src_sql_join_broadcast", "src_sql_layout_ts",
    "src_sql_bucket_join_multi", "sim_sql_topk",
    "stream_table_tail")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** 3 decimals, locale-stable — keeps the JSON line short. */
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // JVM/codegen warm-up on the tiny sf so first-timed query is not
    // charged for JIT + Spark infra startup.
    SparkEntry.entry(spark).count()

    val bench = Headline.flatMap(n => SparkEntry.queries.get(n).map(n -> _))
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val t = try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
              catch { case _: Throwable => -1.0 }
      // Queries that .cache() intermediates (dedup/sim families) leave
      // them resident forever; 24 queries x 6 runs fills the storage
      // pool and late queries pay eviction + GC (BENCH_r05:
      // text_fingerprint median 4.0s vs min 1.0s, 21st of 24 in run
      // order). Dropping the pool after every execution isolates each
      // measurement from its predecessors. releaseGrains additionally
      // empties the r12 grain registry so its strong refs stay bounded
      // across the 6x77 executions.
      GraftSession.releaseGrains()
      spark.sharedState.cacheManager.clearCache()
      t
    }
    // Warm-up pass: pays codegen/JIT and page cache per query, and
    // discovers failures (a query that throws is excluded up front —
    // no point timing it 5x).
    val warm = bench.map { case (name, fn) => name -> once(fn) }
    val failed0 = warm.collect { case (n, t) if t < 0 => n }.toSet
    val live = bench.filterNot { case (n, _) => failed0(n) }
    // Timed passes are INTERLEAVED round-robin: run every query once,
    // repeat xRuns. Back-to-back per-query batches let one co-tenant
    // burst corrupt all 5 runs of a single query (BENCH_r06/r07 both
    // recorded 8-12x inflated medians for whichever query the burst
    // landed on); spread across a pass, a burst taxes ONE run of many
    // queries and the per-query median survives.
    val acc = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to Runs; (name, fn) <- live) {
      val t = once(fn)
      if (t >= 0) acc(name) = acc(name) :+ t
    }
    // Residual guard: a query still med/min-noisy after interleaving
    // (burst wide enough to span whole passes) gets two extra passes;
    // extra samples tighten its median without discarding any run.
    val noisy = live.filter { case (n, _) =>
      val rs = acc(n); rs.nonEmpty && median(rs) > rs.min * NoiseRatio }
    if (noisy.nonEmpty) {
      System.err.println("[bench] noisy after interleave, extra passes: " +
        noisy.map(_._1).mkString(","))
      for (_ <- 1 to 2; (name, fn) <- noisy) {
        val t = once(fn)
        if (t >= 0) acc(name) = acc(name) :+ t
      }
    }
    // run-level noise GATE (r10 lesson: the driver run recorded noise
    // 2.19 and the round-over-round delta was unattributable): if the
    // residual worst med/min ratio is still past the gate, spend one
    // more full interleaved pass — extra samples tighten every median
    // — then re-measure. The emitted line carries the final noise AND
    // a `noisy` verdict so the artifact self-labels: a `noisy: true`
    // bench must not be read as a regression signal.
    val NoiseGate = 1.5
    def runNoise: Double = {
      val rss = live.map { case (n, _) => acc(n) }.filter(_.nonEmpty)
      if (rss.isEmpty) 0.0 else rss.map(rs => median(rs) / rs.min).max
    }
    if (runNoise > NoiseGate) {
      System.err.println(f"[bench] run noise $runNoise%.2f > $NoiseGate: one more interleaved pass")
      for ((name, fn) <- live) {
        val t = once(fn)
        if (t >= 0) acc(name) = acc(name) :+ t
      }
    }
    val timings = bench.map { case (name, _) => name -> acc(name).toSeq }
    val failed = timings.collect { case (n, rs) if rs.isEmpty => n }.sorted
    val ok = timings.filter(_._2.nonEmpty)
    def jmap(f: Seq[Double] => Double): String =
      ok.map { case (k, rs) => "\"" + k + "\":" + fmt(f(rs)) }.mkString("{", ",", "}")
    val total = ok.map { case (_, rs) => median(rs) }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // residual run quality AFTER the noise guard + gate: worst med/min
    val noise = if (ok.isEmpty) 0.0
                else ok.map { case (_, rs) => median(rs) / rs.min }.max
    // FROZEN FLOOR deltas (r15 discipline): ladders that grow by
    // construction (src_mor_sql_dml gained MERGE-breadth steps in r14,
    // +37% "regression" that was really new work) hide real
    // regressions in round-over-round compares. BENCH_FLOOR.json pins
    // each query's reference median; the emitted line carries the
    // per-query ratio vs that floor and names the >1.5× offenders, so
    // creep is attributable per query. A deliberate ladder extension
    // must bump the floor entry in the same commit.
    val floorPath = sys.env.getOrElse("SPARK_GRAFT_FLOOR", "BENCH_FLOOR.json")
    val floor: Map[String, Double] = try {
      val body = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(floorPath)),
        java.nio.charset.StandardCharsets.UTF_8)
      // flat {"name": seconds} pairs inside the "queries" object
      val m = """"([A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r
      m.findAllMatchIn(body).map(x => x.group(1) -> x.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }
    val floorRatios = ok.flatMap { case (k, rs) =>
      floor.get(k).filter(_ > 0).map(f => k -> median(rs) / f) }
    val floorJson = floorRatios
      .map { case (k, r) => "\"" + k + "\":" + fmt(r) }.mkString("{", ",", "}")
    val regressed = floorRatios.filter(_._2 > 1.5).map(_._1).sorted
    val regressedJson = regressed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""queries":${jmap(median)},"queries_min":${jmap(_.min)},""" +
      s""""failed":${failed.size},"failed_queries":$failedJson,""" +
      s""""noise":${fmt(noise)},"noisy":${noise > NoiseGate},""" +
      s""""floor_ratio":$floorJson,"floor_regressed":$regressedJson,""" +
      s""""sf":"${esc(sfDir)}","runs_per_query":$Runs,"agg":"median",""" +
      s""""headline_only":true,"n_queries":${bench.size}}"""
    println(fullLine)
    // The full line (~5 KB) overflows a consumer that keeps only a
    // bounded stdout tail, so it also goes to BENCH_detail.json and a
    // short summary line is printed last (see OPTIMIZATION_r17.md).
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_detail.json")
    try {
      val w = new java.io.PrintWriter(detailPath, "UTF-8")
      try w.println(fullLine) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $detailPath: $e")
    }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""failed":${failed.size},"failed_queries":$failedJson,""" +
      s""""noise":${fmt(noise)},"noisy":${noise > NoiseGate},""" +
      s""""floor_regressed":$regressedJson,"sf":"${esc(sfDir)}",""" +
      s""""runs_per_query":$Runs,"agg":"median","headline_only":true,""" +
      s""""n_queries":${bench.size},"detail":"${esc(detailPath)}"}""")
    spark.stop()
  }
}
