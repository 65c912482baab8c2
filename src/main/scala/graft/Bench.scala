package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Per-task telemetry accumulated while a query's timed reps run: total JVM
  * GC time and the largest single-task execution-memory peak. Storage memory
  * is sampled separately (it's a session-level gauge, not a task metric).
  */
final class BenchListener extends SparkListener {
  val gcMs = new LongAdder
  val peakExecMem = new AtomicLong(0L)
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      gcMs.add(m.jvmGCTime)
      peakExecMem.getAndAccumulate(m.peakExecutionMemory, math.max)
    }
  }
  def reset(): Unit = { gcMs.reset(); peakExecMem.set(0L) }
}

object Bench {
  /** Single-thread host-speed calibration: a fixed 200M-step xorshift64
    * walk, timed. Pure JVM, no allocation, no IO — its wall time moves
    * ONLY with the host's effective single-core speed (throttling, CPU
    * steal, power state). Emitted as calib_sec_{before,after} in
    * bench_out.json so a round-over-round floor shift on UNCHANGED code
    * can be attributed: calib moved too → host epoch (normalize by the
    * ratio); calib flat → chase the plan. Motivated by the r13→r14
    * adjudication, where isolated re-runs reproduced a diffuse ~1.4x
    * min-of-reps inflation across unchanged CPU-bound rows.
    */
  def calibSec(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    val sec = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("")  // defeat dead-code elimination
    sec
  }

  /** All-cores host-speed calibration (r15): the same xorshift walk on
    * every available core at once, reporting wall time. The r15 close
    * found a contention epoch the SINGLE-thread calibration could not
    * see (calib flat at 0.98x while unchanged CPU-bound rows ran
    * 1.3-2.7x slower — and the r14 BINARY re-run reproduced the
    * inflation, pinning it on the host): SMT/memory-bandwidth
    * contention from co-tenants slows 32-way work without touching a
    * lone thread. Emitted as calib_par_sec_{before,after} so the next
    * multi-core epoch shift self-diagnoses the way r14's single-core
    * shift did.
    */
  def calibParSec(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val threads = (0 until n).map { k =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + k
        var i = 0
        while (i < 200000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
        }
        if (x == 42L) System.err.println("")
      })
      t.start(); t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** One query's timings: median and min of its reps, summed task GC ms,
    * max single-task execution-memory peak, session storage bytes after
    * its last rep, the per-rep wall and global-GC series, and the wall of
    * its untimed warm rep.
    */
  final case class Row(name: String, median: Double, min: Double,
      gcMs: Long, peakMem: Long, storageAfter: Long, repSec: Vector[Double],
      repGcMs: Vector[Long], warmSec: Double)

  /** Timed rows, plus every query that threw, by name, with its first
    * error. A failed query has no row: a rep that throws is never timed
    * as a sample, so a broken query cannot read as a speedup.
    */
  final case class Measured(rows: Seq[Row], failed: Map[String, String])

  /** Median-of-`reps` `count()` timings per query, after one untimed warm
    * rep per query at `sfDir`: the session's sf0.001 warm pass compiles
    * codegen classes but doesn't push the per-query hot loops through
    * tiered JIT, so without it the first timed reps measure compilation.
    * A query's reps run back-to-back, which keeps the median−min gap
    * smallest: reps of other queries in between evict JIT/code-cache
    * warmth (the A/B is in OPTIMIZATION_r16.md).
    */
  def measure(spark: SparkSession,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, reps: Int): Measured = {
    val failed = collection.mutable.LinkedHashMap.empty[String, String]
    def run(name: String, fn: (SparkSession, String) => DataFrame): Boolean =
      try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
        failed.getOrElseUpdate(name, String.valueOf(e)); false }
    val warmSecs = queries.map { case (name, fn) =>
      val w0 = System.nanoTime()
      run(name, fn)
      name -> (System.nanoTime() - w0) / 1e9
    }.toMap
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    // Global JVM GC time (all collectors) — unlike the task-metric sum,
    // this also sees collections that run BETWEEN tasks or concurrently
    // with driver-side planning, which is where cross-query interference
    // hides.
    def jvmGcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    val repSec = collection.mutable.Map.empty[String, Vector[Double]]
    val repGc = collection.mutable.Map.empty[String, Vector[Long]]
    val taskGc = collection.mutable.Map.empty[String, Long]
    val peakMem = collection.mutable.Map.empty[String, Long]
    val storageAfter = collection.mutable.Map.empty[String, Long]
    try for ((name, fn) <- queries; k <- 1 to reps
         if !failed.contains(name)) {
      listener.reset()
      val gc0 = jvmGcMs()
      val t0 = System.nanoTime()
      if (run(name, fn)) {
        val sec = (System.nanoTime() - t0) / 1e9
        repSec(name) = repSec.getOrElse(name, Vector.empty) :+ sec
        repGc(name) =
          repGc.getOrElse(name, Vector.empty) :+ (jvmGcMs() - gc0)
        taskGc(name) = taskGc.getOrElse(name, 0L) + listener.gcMs.sum()
        peakMem(name) =
          math.max(peakMem.getOrElse(name, 0L), listener.peakExecMem.get())
        // Storage gauge after the query's last rep: a query that leaks
        // cached/checkpointed blocks shows up as a monotone climb across
        // the bench run.
        if (k == reps)
          storageAfter(name) =
            try spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
            catch { case _: Throwable => -1L }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    val rows = queries.collect { case (name, _) if !failed.contains(name) =>
      val times = repSec(name).sorted
      val median =
        if (reps % 2 == 1) times(reps / 2)
        else (times(reps / 2 - 1) + times(reps / 2)) / 2.0
      Row(name, median, times.head, taskGc(name), peakMem(name),
        storageAfter.getOrElse(name, -1L), repSec(name), repGc(name),
        warmSecs(name))
    }
    Measured(rows, failed.toMap)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_BENCH_ONLY=a,b,c times just the named queries (dev aid
    // for isolating one query's cost or chasing instability).
    val only = SparkEntry.selection("SPARK_GRAFT_BENCH_ONLY",
      sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    // Warm the session (JIT, codegen, parquet footer caches) with one small
    // untimed query so startup cost isn't attributed to the first query.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // Headline set: the flagship, every heavy operator (dedup, similarity,
    // sinks, big joins), and at least one query per SURVEY §2 category.
    // EXCLUSION RULE for the rest of the registry: a query is left out of
    // the headline only if it is (a) a map-only per-row projection or
    // scalar-function demo whose cost is the parquet scan (q_fn_*,
    // q_project, q_filter_*, q_text per-row scorers), (b) a lookup over a
    // dimension table orders of magnitude below the fact tables (region/
    // nation shapes), or (c) a variant timed via its primary form (e.g.
    // q_join_left/right/full vs q_join_inner_*). Every query with a
    // shuffle, sort, window, join or sink over a fact-scale table IS in
    // the headline. SPARK_GRAFT_BENCH_ALL=1 times the full registry.
    val headline = Set(
      "q_agg_group", "q_agg_rollup", "q_agg_custom_typed",
      "q_agg_kmv_distinct", "q_scan_parquet", "q_sink_parquet",
      "q_sink_bucketed", "q_scan_csv", "q_join_inner_bhj",
      "q_join_inner_smj", "q_join_asof", "q_join_interval",
      "q_join_skew_salted", "q_join_fuzzy", "q_win_rank", "q_win_running",
      "q_sort_multi", "q_topk_per_group", "q_union_all", "q_fn_string",
      "q_fn_higher_order", "q_stream_tumbling", "q_stream_session",
      "q_text_tfidf", "q_text_termfreq", "q_dedup_exact", "q_dedup_near",
      "q_sim_topk", "q_sim_pairs_lsh", "q_knn_label_vote",
      "q_multimodal_features", "q_shape_q3", "q_shape_q5", "q_shape_q18",
      "q_win_topn_hicard", "q_pipeline_clean_corpus",
      "q_dedup_groups", "q_multimodal_jpeg", "q_scan_partition_prune",
      "q_subq_exists", "q_agg_bitmap_distinct", "q_agg_hll_union",
      "q_shape_merge", "q_pipeline_train_mix", "q_vec_centroid",
      "q_dedup_simhash", "q_dedup_groups_lsh", "q_join_bloom_prune",
      "q_layout_zorder", "q_text_dedup_span", "q_agg_heavy_hitters",
      "q_agg_quantile_sketch",
      // round-4 long tail, registered r5 so the driver sees their cost
      "q_sim_join_rewrite", "q_ts_resample", "q_text_lm_score",
      "q_text_dedup_url", "q_graph_pagerank", "q_sample_weighted",
      "q_shape_funnel", "q_shape_cohort", "q_fn_geo", "q_shape_incr_agg",
      "q_sink_compact", "q_agg_kmv_setops",
      // round-5 curation operators (§2.14)
      "q_text_contaminate", "q_text_dedup_chunks", "q_vec_kmeans",
      "q_dedup_semantic", "q_pipeline_curate", "q_shape_incr_dedup",
      // promoted by the r5 full-registry audit: every remaining query
      // with a fact-scale shuffle/sort/sink was > 0.5s and belongs here
      "q_sim_topk_ivf", "q_shape_q10", "q_shape_q4", "q_subq_in",
      "q_subq_lateral", "q_validate_fk", "q_win_gaps_islands",
      "q_text_ngrams", "q_sink_parquet_zstd", "q_multimodal_frames",
      "q_multimodal_resize", "q_text_repetition", "q_scan_merge_schema",
      // round-6: map-only but regex-heavy per row — its cost is CPU, not
      // the parquet scan, so it belongs in the headline
      "q_text_html_extract",
      // round-6: windows + bin-explode shuffle over the corpus
      "q_pipeline_pack",
      // round-6 batch 2: fact-scale join chain (q7), events shuffles
      // (retention fan-out + interpolation windows), the PQ learn/encode/
      // rerank pipeline, and the HOF entropy fold (CPU-bound per row)
      "q_shape_q7", "q_shape_retention", "q_ts_interpolate", "q_vec_pq",
      "q_text_entropy",
      // round-6 batch 3: lineitem⋈part fact joins (q14/q19) and the
      // corpus-wide prefix-sum sharding
      "q_shape_q14", "q_shape_q19", "q_pipeline_shard",
      // round-6 batch 4: per-order self-join pair mining + session-path
      // window chain (q_agg_argmax is excluded by rule (c) — same
      // partial-agg shape as the flagship q_agg_group)
      "q_shape_basket", "q_shape_paths",
      // round-6: CDC apply — log-collapse window + snapshot full join
      "q_shape_cdc",
      // round-6 batch 5: fact-scale semi/anti pair (q21), distinct-pair
      // reduction + exclusion anti join (q16), recent-orders anti probe
      // (q22), and the degree-oriented wedge join (triangles)
      "q_shape_q16", "q_shape_q21", "q_shape_q22", "q_graph_triangles",
      // round-6 batch 6: 16-lag window chain over events + the
      // shard-partitioned corpus shuffle sort
      "q_ts_ewma", "q_pipeline_shuffle",
      // round-6: corpus vocab aggregation + 16 learned BPE merges
      "q_text_bpe_train",
      // round-6 batch 7: the remaining partsupp-free TPC-H shapes —
      // scan-side global agg (q6), 7-table market share (q8), late-
      // priority split (q12), left-join order-count distribution (q13),
      // quarterly top supplier (q15), small-quantity decorrelation (q17)
      "q_shape_q6", "q_shape_q8", "q_shape_q12", "q_shape_q13",
      "q_shape_q15", "q_shape_q17",
      // round-6 batch 8: exact-integer 3-sigma anomaly scan (events
      // shuffled twice), neighbor-set Jaccard over co-purchase edges
      // (fact-scale pair generation), last-touch attribution window
      "q_ts_anomaly", "q_graph_jaccard", "q_shape_attribution",
      // round-6 batch 9: bigram-LM corpus windows (two fact-scale
      // shuffles), the lag-chain pattern scan, and the clamped-balance
      // mapPartitions fold (repartition + in-partition sort)
      "q_text_lm_bigram", "q_win_pattern", "q_shape_inventory",
      // round-6 batch 10: nearest as-of dual windows, RAKE corpus
      // keyphrase scoring (regex+explode CPU), temperature mixing agg
      "q_join_asof_near", "q_text_keyphrase", "q_pipeline_mix_temp",
      // round-6 batch 11: binary-signature ANN (codegen'd xor+popcount)
      // and the hourly self-join forecast backtest
      "q_sim_topk_hamming", "q_ts_backtest",
      // round-6 batch 12: RFM triple-ntile over the customer aggregate,
      // the drawdown running-max window, association-rule mining over
      // the checkpointed basket frame
      "q_shape_rfm", "q_win_drawdown", "q_shape_basket_rules",
      // round-6 batch 13: two-stage matryoshka ANN and the BPE
      // train→apply corpus pass (learn iterations + vocab join)
      "q_vec_matryoshka", "q_pipeline_tokenizer_apply",
      // round-6 batch 14: lag-window gap distribution + the Pareto
      // cumulative-share scan over the customer revenue aggregate
      "q_shape_order_gaps", "q_shape_pareto",
      // round-6 batch 15: distinct-day islands + monthly AOV lag
      "q_win_streaks", "q_shape_aov_trend",
      // round-6 batch 16: vocab×pair JSD grid joins + the Gini rank scan
      "q_text_js_divergence", "q_agg_gini",
      // round-6 batch 17: two-level entropy profile + prefix-key dedup
      "q_agg_entropy_cat", "q_text_dedup_prefix",
      // round-6 batch 18: two-level median MAD (3 event scans), probe
      // containment (corpus scan + bounded rank), integer 3-sigma
      // embedding outliers (2 embedding scans), and the code-render
      // detector (map-only but render+regex CPU-bound per row)
      "q_agg_mad", "q_text_containment", "q_vec_outlier",
      "q_text_code_detect",
      // round-6 batch 19: day-split interval stabbing (two event
      // windows), domain-cap corpus scan, rolling-median frame window
      "q_shape_concurrency", "q_pipeline_cap_domain",
      "q_win_rolling_median",
      // round-6 batch 20: Welch moments scan + the distinct-pair
      // growth split
      "q_agg_ttest", "q_shape_new_vs_returning",
      // round-6 batch 21: chi2 contingency scan + the MMR shortlist
      // walk (corpus scan + int_dot window)
      "q_agg_chi2", "q_vec_mmr",
      // round-6 batch 22: Markov lead window + the hashed-embedding
      // double aggregate over the token stream
      "q_shape_transitions", "q_text_hash_embed",
      // round-6 batch 23: the CUSUM running window over events
      "q_ts_cusum",
      // round-6 batch 24: PMI pair-count shuffle over the bigram stream
      "q_text_pmi",
      // round-6 batch 25: jackknife moment scan (same class as ttest)
      "q_agg_jackknife",
      // round-6 batch 26: trailing-frame integer anomaly window
      "q_win_roll_anomaly",
      // round-6 batch 27: dense-grid ACF (checkpointed hourly series +
      // lag windows), fused-frame rolling OLS slope, and the two
      // ratio-of-products seasonal profiles (fact-scale partial aggs)
      "q_ts_acf", "q_win_slope", "q_ts_diurnal", "q_shape_seasonality",
      // round-6 batch 28: the structural-graph family over the shared
      // checkpointed support-edge list (fact-scale pair generation)
      "q_graph_degree", "q_graph_khop", "q_graph_cluster_coeff",
      // round-6 batch 29: corpus-window balanced sampling, prefix-cluster
      // survivorship, priority trim windows, and the single-scan moment
      // matrix (all shuffle or window fact-scale input)
      "q_sample_balanced", "q_dedup_survivorship", "q_agg_trimmed_mean",
      "q_agg_corr_matrix",
      // round-6 batch 30: corpus summary card, conversion-latency funnel,
      // and the shingle-support novelty scan (fact-scale shuffles)
      "q_pipeline_dataset_card", "q_shape_funnel_time",
      "q_text_ngram_novelty",
      // round-6 batch 31: retrieval-eval scan (corpus x probes) and the
      // vocab-head Zipf regression (corpus token explode)
      "q_sim_eval_ndcg", "q_text_zipf_fit",
      // round-6 batch 32: lateness running-max window + the staged
      // windowFunnel joins (both shuffle events on their keys)
      "q_stream_lateness", "q_shape_window_funnel",
      // round-6 batch 33: the IVF-PQ pipeline (coarse route + residual
      // encode + per-list ADC + rerank over the embedding corpus)
      "q_vec_ivfpq",
      // round-6 batch 34: growth-ledger windows, contribution-share
      // window, and the banded curriculum shuffle (corpus windows)
      "q_shape_growth_accounting", "q_win_ratio_to_report",
      "q_pipeline_curriculum",
      // round-6 batch 35: pairwise series cross-correlation (grid joins)
      // and the double token-stream aggregate behind burstiness
      "q_ts_cross_corr", "q_text_burstiness",
      // round-6 batch 36: running-weight median window over lineitem
      "q_agg_median_weighted",
      // round-6 batch 37: dual-ranking recall join + the sessionized
      // abandonment windows
      "q_sim_eval_recall", "q_shape_cart_abandonment",
      // round-6 batch 38: brand-moment join + the per-row deflate UDF
      // (map-only but CPU-bound per row, the html_extract rule)
      "q_shape_elasticity", "q_text_compressibility",
      // round-6 batch 39: dense-grid islands + the triple blocking aggs
      "q_ts_outage_detect", "q_dedup_blocking_keys",
      // round-6 batch 40: the per-shard greedy pack fold (repartition +
      // in-partition sort over the corpus)
      "q_pipeline_pack_greedy",
      // round-7: batch replays of the streaming builders — event-stream
      // distinct (shuffle on event_id), the digest explode + broadcast
      // probe + per-doc aggregate, and the time-bounded equi+range join
      "q_stream_dedup_replay", "q_stream_decontaminate",
      "q_stream_join_replay",
      // round-7: dynamic-partition restatement sink and the
      // unigram+bigram feature-hash classifier (corpus explode + agg);
      // q_scan_json_corrupt is excluded by rule (b) — dimension-scale
      "q_sink_partition_overwrite", "q_pipeline_quality_classify",
      // round-7: the custom AsOfJoinExec physical operator (exchange +
      // sort per side + single merge pass) vs the composed q_join_asof
      "q_join_asof_exec",
      // round-8: the TPC-H completions (fact-join chains: Q2 min-cost
      // decorrelation, Q9 profit chain, Q11 scalar-share, Q20 semi)
      "q_shape_q2", "q_shape_q9", "q_shape_q11", "q_shape_q20",
      // round-8: DAU/WAU/MAU pair-set explode, the integer seasonal
      // decomposition window, and the gzip JSONL corpus round trip
      "q_shape_active_users", "q_ts_decompose", "q_sink_jsonl",
      // round-8: the three-stage dedup funnel (exact → fingerprint →
      // rare-shingle containment blocking join), the 16-perm minhash
      // accuracy ledger, and the 3-round label-propagation supersteps
      "q_pipeline_dedup_cascade", "q_dedup_minhash_est",
      "q_graph_label_prop",
      // round-8: text-line corpus round trip and the stemmer cascade
      // (corpus explode + word agg); epoch_plan is metadata-scale by
      // design and excluded by rule (b)
      "q_scan_text", "q_text_stem",
      // round-8: string-key AsOfJoinExec (UTF8String key copies along
      // the merge) and the typed mapGroupsWithState batch replay
      "q_join_asof_exec_str", "q_stream_state_replay",
      // round-8: the running-distinct window workaround (set state per
      // frame); q_sink_csv_quoted is dimension-scale, excluded by (b)
      "q_win_distinct_running",
      // round-8: the transformWithState batch fold (RocksDB-backed
      // stores per partition) and the observed corpus pass
      "q_stream_tws_replay", "q_pipeline_observe",
      // round-8: the flatMapGroupsWithState batch fold, the correlated
      // aggregate decorrelation, and the stat.crosstab contingency pass
      "q_stream_fmgs_replay", "q_subq_correlated_agg", "q_agg_crosstab",
      // round-8: the k-fold split coin pass and the per-user A/B fold
      "q_pipeline_kfold", "q_shape_ab_test",
      // round-8: the cosine radius query and the MRL truncation curve
      // (both ride the broadcast-probe corpus scan)
      "q_sim_range_search", "q_vec_mrl_curve",
      // round-8: the span-corruption schedule (token explode + islands)
      // and the pairwise-median robust trend over the hour axis
      "q_pipeline_span_mask", "q_ts_theil_sen",
      // round-8: the seasonal-naive backtest grid and the LSH band
      // sweep (3 configs over the 16-perm signature frame)
      "q_ts_forecast_snaive", "q_sim_lsh_tuning",
      // round-8: the two-micro-batch watermark-advance session run
      // (real streaming state + eviction); q_fn_tz is a map-only
      // dimension-scale pass, excluded by rule (b)
      "q_stream_session_replay",
      // round-8: the histogram-cut budget selection and the bloom
      // membership audit (digest explode + broadcast bit join)
      "q_pipeline_token_budget", "q_dedup_bloom_fpr",
      // round-8: the held-out bigram-LM eval (train-count joins)
      "q_text_perplexity_eval",
      // round-8: the SFT loss-mask plan (turn-axis explode) and the
      // cents-exact cohort LTV ledger
      "q_pipeline_chat_template", "q_shape_ltv_curve",
      // round-8: the glob-pruned partition scan (layout-level prune +
      // write) and the padding-efficiency ledger
      "q_scan_glob", "q_pipeline_pad_waste",
      // round-8: the ignore-nulls window trio and the JL projection
      // eval; q_fn_collation is dimension-scale, excluded by rule (b)
      "q_win_ignore_nulls", "q_vec_rand_proj",
      // round-8: the DPP partitioned-fact join (write + pruned read)
      // and the tumbling watermark-advance run; q_join_null_safe is
      // dimension-scale by construction, excluded by rule (b)
      "q_join_dpp", "q_stream_tumbling_replay",
      // round-8: the containment threshold sweep (one blocking join,
      // three thresholds)
      "q_dedup_threshold_curve",
      // round-8: the overlapping-window watermark run and the shard
      // checksum manifest
      "q_stream_sliding_replay", "q_pipeline_manifest",
      // round-10: the per-frame HLL running-distinct sketch (same
      // orders window as the exact spelling, sketch state per frame)
      // and the three-batch late-data drop protocols (real streaming
      // state + two-watermark filter; fixed-grid and gap-merged)
      "q_win_distinct_running_hll", "q_stream_tumbling_late",
      "q_stream_session_late", "q_stream_sliding_late",
      // round-10: the outer stream-stream join run (two real streaming
      // sides + watermark-gated null emission) and the foreachBatch
      // idempotent-merge upsert sink (two real batches + target swap)
      "q_stream_join_outer_replay", "q_stream_foreachbatch_upsert",
      // round-10: the AQE skew-split join (runtime twin of the salted
      // spelling; real skewed exchange + split under scoped conf) and
      // the nested-pruned scan (nested sink + rollup)
      "q_join_skew_aqe", "q_scan_nested_prune",
      // round-10: the dedup late-filter protocol (state eviction +
      // sub-watermark re-delivery)
      "q_stream_dedup_late",
      // round-10 continuation: the statistical-test family over the
      // events corpus (KS is the representative of the bounded-domain
      // ECDF shape; ANOVA of the k-group moment shape; Spearman of the
      // cell-agg + doubled-rank shape — Mann-Whitney and Cramér's V
      // share those shapes and are covered by the same partial-agg
      // scans), the spine anti-join sequence audit, the YoY/YTD
      // finance trio, and the common-neighbor-exploded Adamic-Adar.
      // q_subq_any_all is dimension-scale (supplier), excluded by (b).
      "q_agg_ks_test", "q_agg_anova", "q_agg_spearman",
      "q_validate_sequence", "q_shape_yoy_growth", "q_graph_adamic_adar",
      // second wave: the Poisson-bootstrap explode shape (64x map-side
      // expansion collapsing to a 64-group shuffle), the two-phase
      // posting-list build, and the stacked-window winnowing kernel.
      // PSI/Benford share the bounded-domain partial-agg shape already
      // repped by q_agg_ks_test; fellegi is dimension-scale; fixed-width
      // is sink-bound like q_scan_text — excluded by (b).
      "q_agg_bootstrap_ci", "q_text_inverted_index", "q_text_winnow",
      // third wave: the KM double-window bounded-axis shape and the
      // collect-and-fold Holt kernel (dp_count/fellegi/fixed_width share
      // shapes already timed — excluded by (b)).
      "q_shape_survival", "q_ts_holt",
      // round-11: the densified-grid stacked-window dominance walk
      // (kendall), the calendar-bounded O(hours²) pair join (MK), the
      // per-pair n-gram clipped-count joins (BLEU), and BM25's
      // broadcast-term scoring scan. cohens_d/split_gini share the
      // ttest/KS partial-agg shapes (rule (c)); systematic is
      // dimension-scale (rule (b)); holt_winters/pacf share the
      // holt/acf fold-and-window shapes (rule (c)); shortest_path and
      // mulaw share the supportEdges/codec scans already timed.
      "q_agg_kendall_tau", "q_ts_mann_kendall", "q_text_bleu",
      "q_text_bm25",
      // round-11 batch 4: the 5-way polygon explode + parity rollup
      // over the fact table, and the 5-round iterative peel (a new
      // iterative shape beside pagerank). hill/tukey/lognormal/
      // dft_power/ab_ratio share TakeOrdered/percentile/ln-cell/acf/
      // ttest shapes already timed (rule (c)); tga/mulaw are map-only
      // codec scans (rule (a)); systematic is dimension-scale.
      "q_join_point_in_polygon", "q_graph_kcore",
      // round-12: the 64x md5-coin explode (the permutation null), the
      // dense day×type rank windows (friedman), the blocked integer
      // R/S window chain (hurst), the 11-harmonic trig cell scan
      // (spectral entropy), the events-scan Neyman moments + md5-rank
      // window, and the regex-heavy per-row readability scan (the
      // html_extract rule). dispersion/levene share the dense-grid /
      // ANOVA moment shapes already timed (rule (c)).
      "q_agg_permutation_test", "q_agg_friedman", "q_ts_hurst",
      "q_ts_spectral_entropy", "q_sample_neyman", "q_text_readability",
      // round-12 batch 2: the bipartite integer power iteration (one
      // distinct cust-part edge shuffle + 4 join/agg half-steps).
      // runs/turning/grubbs/median_ci share the dense-grid / moment /
      // KS-cumulative shapes already timed (rule (c)).
      "q_graph_hits",
      // round-13: the 8-source bounded relax (frontier joins over the
      // memoized weighted edge list — a genuinely multi-source shape
      // beside the single-source sssp) and the residual-scan LM test
      // (a second fact-table pass joined against broadcast
      // coefficients). mood_median shares the KS cents-frame shape
      // already timed (rule (c)).
      "q_graph_closeness", "q_agg_breusch_pagan",
      // round-13: the timer-eviction replay joins the other durable-
      // checkpoint streaming rows (restart no-op cost after build-once).
      // jarque_bera shares skewkurt's moment scan, durbin_watson /
      // granger / ar2_forecast the dense-grid + lag-window shape, rouge
      // the BLEU pair frame, bartlett the levene moment scan (rule (c)).
      "q_stream_timer_replay",
      // round-13 batch 2: two full token-explode passes + a broadcast
      // LM-cell join over the corpus — a real fact-scale shape
      "q_pipeline_importance_resample",
      // round-13 batch 3: the 12-join unrolled Brandes walk — the
      // heaviest new graph shape (closeness shares its relax frame;
      // the centrality-stability ledger replays that same relax twice,
      // rule (c))
      "q_graph_betweenness",
      // round-14 full-registry cost audit: four fact-scale rows ran
      // >0.5 s at sf0.1 with NO documented exclusion — the per-customer
      // reorder-rate window chain, the PCA integer-Gram corpus scan,
      // the schema-drift CSV scan (real IO, unlike the dimension-scale
      // scan variants), and the nearest-hub broadcast-probe assignment
      "q_shape_reorder_rate", "q_vec_pca_power", "q_scan_csv_drift",
      "q_join_nearest_hub",
      // round-15: the unigram-LM EM step (corpus token explode + the
      // 12-level vocabulary Viterbi walk — the bpe_train cost class)
      "q_text_unigram_lm")
    headline.diff(SparkEntry.queries.keySet).foreach(k =>
      System.err.println(s"[bench] headline query missing from registry: $k"))
    val selected =
      if (only.isDefined)
        SparkEntry.queries.view.filterKeys(only.get).toMap
      else if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1"))
        SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(headline).toMap
    // Steady-state methodology: run the selected set once untimed at the
    // smallest SF so JIT + whole-stage-codegen compilation (cached by
    // generated source) is paid before measurement; the timed pass then
    // reflects data-proportional work, which is what scales to 100 TB.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      selected.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => }
      }
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(5)
    // host-speed calibration brackets the timed region (see calibSec /
    // calibParSec — single-core for frequency epochs, all-core for
    // contention epochs)
    val calibBefore = calibSec()
    val calibParBefore = calibParSec()
    val Measured(rows, failed) =
      measure(spark, selected.toSeq.sortBy(_._1), sfDir, reps)
    failed.foreach { case (k, e) =>
      System.err.println(s"[bench] $k FAILED (left out of the totals): $e") }
    val qs = rows.map(r => "\"" + r.name + "\":" + r.median)
      .mkString("{", ",", "}")
    val mins = rows.map(r => "\"" + r.name + "\":" + r.min)
      .mkString("{", ",", "}")
    // Per-query telemetry: summed task GC ms over the reps, max single-task
    // execution-memory peak, session storage bytes after the query, an
    // instability flag (median > 2x min = contention/GC, not the plan), and
    // the per-rep wall/global-GC series so a slow rep can be attributed
    // (rep-local GC spike = JVM interference; flat GC = planning/IO).
    // Locale.ROOT: the f-interpolator uses the default locale, which in
    // comma-decimal locales would emit "0,123" — invalid JSON.
    def f3(t: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))
    val telem = rows.map { r =>
      val unstable = r.min > 0 && r.median > 2 * r.min
      val repsS = r.repSec.map(f3).mkString("[", ",", "]")
      val repsG = r.repGcMs.mkString("[", ",", "]")
      s""""${r.name}":{"gc_ms":${r.gcMs},"peak_exec_mem":${r.peakMem},"storage_bytes_after":${r.storageAfter},"unstable":$unstable,"warm_sec":${f3(r.warmSec)},"rep_sec":$repsS,"rep_gc_ms":$repsG}"""
    }.mkString("{", ",", "}")
    val total = rows.map(_.median).sum
    val totalMin = rows.map(_.min).sum
    val nq = rows.size
    // r16 (the round-15 verdict's top item): the stdout `queries` map now
    // carries EVERY per-query median (plus a `queries_min` map of the
    // contention-immune floors) so the driver's round-over-round diff can
    // finally see per-query movement — the old collapsed `all_<n>` total
    // made every real win invisible inside the ±20% suite-total noise.
    // Contract kept: "metric"/"value"/"unit" semantics identical (value =
    // sum of medians, the gate number), the legacy `all_<n>` aggregate
    // entry is RETAINED as the first queries entry (nothing removed or
    // renamed), and the line is still exactly ONE JSON object. Because the
    // driver's BENCH artifact stores only a ~2000-char stdout TAIL, the
    // essential scalar fields are REPEATED at the end of the object
    // (duplicate JSON keys with identical values — last-wins under every
    // mainstream parser) so both a full-line JSON parse and a
    // tail-truncated regex read recover the headline number.
    def f4(t: Double) =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(t))
    val qMed4 =
      rows.map(r => "\"" + r.name + "\":" + f4(r.median)).mkString(",")
    val qMin4 =
      rows.map(r => "\"" + r.name + "\":" + f4(r.min)).mkString(",")
    val failedJs = failed.keys.toSeq.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":{"all_$nq":$total,$qMed4},"queries_min":{$qMin4},"failed":$failedJs,"reps":$reps,"sf":"$sfDir","metric":"total","value":$total,"unit":"sec"}"""
    // Full detail to the file sink. Default is cwd-relative so the path works
    // wherever the repo is checked out; SPARK_GRAFT_BENCH_OUT overrides.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      new java.io.File("bench_out.json").getAbsolutePath)
    // Per-slot pinned-checkpoint storage ledger (bytes, mem+disk): a
    // future memo addition that pins a fact-scale frame shows up here at
    // the bench instead of at 100 TB. CheckpointBudgetSpec asserts the
    // per-slot budget at sf0.1.
    val slotLedger =
      try graft.engine.Checkpoints.storageBySlot(spark).toSeq.sortBy(_._1)
        .map { case (k, b) => "\"" + k + "\":" + b }
        .mkString("{", ",", "}")
      catch { case _: Throwable => "{}" }
    val calibAfter = calibSec()
    val calibParAfter = calibParSec()
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","total_min":$totalMin,"queries":$qs,"queries_min":$mins,"telemetry":$telem,"storage_by_slot":$slotLedger,"calib_sec_before":${f3(calibBefore)},"calib_sec_after":${f3(calibAfter)},"calib_par_sec_before":${f3(calibParBefore)},"calib_par_sec_after":${f3(calibParAfter)},"failed":$failedJs,"reps":$reps,"rep_order":"interleaved_visits_$reps","sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter(outPath)
      try w.println(full) finally w.close()
    } catch {
      case e: Throwable => System.err.println(s"[bench] write $outPath failed: $e")
    }
    spark.stop()
    // Print last, after spark.stop(), so no late INFO/WARN line can land
    // between this and process exit.
    println(compact)
    if (failed.nonEmpty) sys.exit(1)
  }
}
