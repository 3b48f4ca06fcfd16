package graft.tools

import java.nio.file.{Files, Paths}

/** Writes PLANS.md: the formatted physical plan of each headline query —
  * reviewable evidence of pushdown, pruning, broadcast choice, and
  * codegen fusion. `runMain graft.tools.DumpPlans [sfDir] [outFile]`.
  */
object DumpPlans {

  // public: PlanCoverageSpec pins the ">1s bench median ⇒ headline
  // plan" rule against this list
  val headline = Seq(
    "q1_agg", "q2_filter_project", "q3_join_broadcast", "q4_semi_join",
    "q7_topk", "q8_window", "q21_rolling_window", "q22_corr_subquery",
    "v3_valid_by_opco", "d1_exact_dedup",
    "d2_minhash_pairs", "d4_jaccard_pairs", "d6_simhash_pairs",
    "d7_contamination", "d7b_bloom_contamination", "d8_span_dedup",
    "d10_kept_corpus", "d11_dedup_merge",
    "s1_topk_brute", "s2_topk_bucketed", "s3_neardup_pairs", "s7_topk_ivf",
    "s10_knn_graph",
    "t7_repetition", "t12_chunking", "t13_doc_freq", "t18_leakage_split",
    "sk1_sketches", "sk3_heavy_hitters",
    "x1_docs_embeddings", "x8_bloom_join", "x9_scd2_merge", "x10_overlap_join",
    // round 5
    "q24_unpivot", "q25_outer_join", "t20_bpe_train", "t21_bpe_encode",
    "s12_label_prop_fixpoint", "v8_json_roundtrip",
    // round 5, later sessions
    "q34_frequent_pairs", "q35_running_distinct", "t28_inverted_index",
    "t29_feature_hash", "s17_weighted_paths", "d13_span_scrub",
    "d14_entity_clusters", "v14_partition_checksums", "x19_multitouch",
    // round 5, session 5
    "x21_fifo_allocation", "x22_streaks", "q37_drawdown", "q39_quartiles",
    "x24_hierarchy_rollup", "x25_revenue_recognition", "x26_ab_lift",
    "t30_ngram_novelty", "s20_modularity", "v15_benford", "v16_anomaly_mad",
    // round 5, session 7
    "q42_spearman", "q43_gini", "x33_ivm", "t32_pps_sample", "s22_kcore",
    "q44_listagg", "x34_locf", "x35_grid_join",
    "q45_local_volume", "q46_returned_revenue",
    "q47_linreg", "q48_rolling_ols", "x36_cusum", "d19_rendezvous",
    "v22_temporal_audit", "d18_bbit_minhash", "t33_hash_collisions",
    // round 6: classic decision-support shapes + ACF
    "q50_shipping_priority", "q51_late_priority", "q54_parts_supplier",
    "q56_large_orders", "q57_disjunctive", "q58_blocking_supplier",
    "q59_idle_rich", "x40_acf",
    // round 6, continued
    "sk5_cms_heavy", "sk6_bloom_fpr", "x41_stl", "t35_concordance",
    "d21_lsh_tuning", "q60_ntile_cume", "m8_pack_interleave",
    // round 6: every batch gate whose bench median exceeds 1s
    // (VERDICT r5 item 6), plus the session's new gates
    "s13_pagerank", "s16_bfs_hops", "s18_ppr", "s21_neighbor_jaccard",
    "s23_hits", "q40_rfm", "d15_keepbest", "v18_skew_audit",
    "q66_mincost_supplier", "q67_important_parts", "q68_priority_shipmode",
    "x42_theil_sen", "x43_kendall_tau", "x44_mann_whitney",
    "x45_kaplan_meier",
    "q69_topk_per_group", "t36_zipf_slope", "s25_negative_pairs",
    "x46_ks_test", "sk7_kmv", "d22_contamination_ratio",
    "q70_percentile_cont", "x47_changepoint", "x48_runs_test",
    "x49_join_ivm", "s26_pq_adc",
    // round 6, final session
    "sk8_bitmap_distinct", "q72_forecast_revenue", "s27_mmr",
    // round 6, closing session: exact-statistics + training-mix family
    "t38_kneser_ney", "t39_good_turing", "t40_burstiness",
    "t41_mixture_apportion", "t42_isotonic_pava", "t43_feistel_order",
    "x51_anova", "x52_markov", "x53_kruskal_wallis",
    // round 6, closing session 2: as-of-native + curation families
    "x54_asof_native", "x55_asof_forward", "x56_robust_mean",
    "x57_cohort_ltv", "x58_hhi", "v24_k_anonymity",
    "t44_gopher_rules", "t45_pipeline_funnel", "s28_semdedup", "s29_mrr",
    // round 6, closing session 3: spectral / tokenizer / rate-limit /
    // native interval join
    "s30_pca_power", "s31_jl_neighbors", "t46_wordpiece",
    "x59_rate_limit", "x60_interval_native", "x61_scd2_effectivity",
    "s32_ivfpq", "x62_window_funnel",
    // round 7: close the ">1s bench median ⇒ headline plan" rule
    // mechanically (PlanCoverageSpec now pins it against bench_detail)
    // round 7: new gates (the rewrite showcase x63 + everything >1s)
    "x63_interval_sql", "x64_twap", "d23_paragraph_dedup",
    "v25_column_profile", "s33_sq8", "v26_fk_integrity", "x65_cdc_apply",
    // round 7: close the r6 ">1s bench median => headline plan" gaps
    "d12_cdc_chunks", "d16_containment", "d17_minhash_eval",
    "d5_dedup_clusters", "q16_sql", "q53_market_share",
    "q65_promo_suppliers", "s11_label_prop", "s14_triangle_count",
    "s19_kmeans", "s24_degree_histogram", "s8_embed_clusters",
    "t16_pmi_bigrams", "t27_lm_score", "v11_badrecords", "v5_pa_route",
    "v6_roundtrip", "v7_orc_roundtrip", "x17_pit_audit",
    "x20_stock_rollforward", "x31_compaction_plan",
    // round 7, continued: expression-bound rewrite showcase + new >1s
    // gates (d24 1.2s / t49 1.5s warm at sf0.1)
    "x66_band_sql", "d24_contam_run", "t49_linear_classifier",
    "sk9_kmv_setops", "q29_equidepth_hist", "x67_strict_attr_sql",
    "v27_dp_release", "t51_shard_manifest",
    // round 7, final bench: gates that drifted over the 1s line
    "q30_dpp_star", "t17_bpe_pairs", "t23_tfidf_topk",
    // round 8: both SQL as-of idioms (window + max_by spelling), the
    // BM25 retrieval gate, and the Derby round trip (1.4s bench)
    "x68_asof_sql", "x70_asof_maxby_sql", "t52_bm25",
    "v28_jdbc_roundtrip", "x69_strict_ts_sql", "x71_asof_strict_sql",
    "x72_asof_tolerance_sql", "v29_stream_pipeline",
    // round 8, continued: the closing session's new gate families —
    // recursive closure, hybrid retrieval, graph ANN + tuning curve,
    // RAKE, ROUGE-L, row-pattern recognition (plans pinned regardless
    // of bench medians: each demonstrates a distinct plan shape)
    "q74_recursive_bom", "x74_rrf_fusion", "s35_graph_beam",
    "s36_nprobe_sweep", "t55_rake", "t56_rouge_lcs",
    "x75_match_recognize",
    // round 8, closing session: the rewritten prefix-filter join
    // (bitset verify — its 178s-at-sf0.1 lesson lives in the plan)
    "d26_prefix_filter",
    // round 8, continued: the eliminated self-join (the plan — one
    // aggregate, zero join exchanges — is the entire point), the
    // Fellegi–Sunter blocking joins, the pointer-doubling rounds, and
    // the NB inference path (broadcast counts, map-side products)
    "x76_selfjoin_elim", "d27_record_linkage", "s37_pointer_doubling",
    "t57_naive_bayes",
    // round 8, continued: eager aggregation (the fact partial under
    // the join is the plan-level point), the source-overlap audit
    // (>1s: d2's band join + two doc-keyed attachments), and the
    // bitemporal probe stab (bounded 4-row ride-along)
    "x77_eager_agg", "d28_source_overlap", "x78_bitemporal",
    // hovers at the 1s line (host-speed dependent) — pin it so the
    // coverage check can't depend on the flap
    "t54_ngram_precision",
    // round 9: the r8 driver bench (one JVM, 352 gates, contention)
    // pushed these ~0.6s gates over 1s — pin them, and the coverage
    // spec now asserts with margin (everything >0.7s is covered, the
    // live-bench assertion moves to 1.5s + a committed snapshot holds
    // the 1.0s policy line) so bench-day host speed can never redden
    // the suite again
    "v4_final_records", "x38_holt_forecast",
    "t19_df_score", "d25_maximal_spans", "x37_weighted_median",
    "t25_outlier_docs", "x12_cogroup_reconcile", "v2_failed_groups",
    "s15_ann_recall", "x7_scd2_history", "x30_abc_pareto",
    "q63_volume_shipping", "x6_range_join", "x73_asof_rtfilter",
    // round 9: the third optimizer rule's showcase (the eliminated
    // distinct above the native as-of — the absent aggregate IS the
    // plan-level point), and the PA arriving-files pipeline (multi-
    // batch streaming gates are heavy by construction)
    "x79_distinct_elim", "v30_pa_stream",
    // round 9 (optimization): the DDSketch gate crossed the live 1.5s
    // coverage line on the r9 baseline bench; its plan (driver-side
    // sketch fold + distributed exact-quantile audit) is also this
    // round's fix showcase
    "sk10_ddsketch")

  /** The streaming gates execute their query while the gate DataFrame
    * is being BUILT (AvailableNow drain into the sink), so a formatted
    * batch plan of the returned frame would show only the drained
    * result — their reviewable shape is prose, kept here so
    * regeneration preserves it. Every st gate >1s in bench_detail is
    * covered (VERDICT r5 item 6). */
  private val streamingShapes =
    """
      |## Streaming gates — execution shape (no batch plan exists)
      |
      |The plan of record for a streaming gate is its state/watermark
      |shape — what each micro-batch shuffles and what the state store
      |holds — because that, not a scan plan, is what survives or dies
      |at 100 TB. All gates run AvailableNow over the parquet events
      |dir, 4 shuffle partitions (`spark.graft.streaming.shufflePartitions`;
      |sized to state volume, raised by conf on a real cluster), heap
      |state store with a conf gate to RocksDB once keyed state outgrows
      |memory.
      |
      |- **st4_stream_stream / st11/st12/st16 (interval joins)** — two
      |  watermarked streams, equi-key + time-range condition; state = 4
      |  stores/partition buffered to the watermark horizon, rows evicted
      |  as the watermark passes `ts + interval`. Scale: state is bounded
      |  by (arrival rate × horizon), independent of history length.
      |- **st5/st6/st8/st9/st14 (stateful sessions, FMGWS/TWS)** — hash
      |  shuffle on user_id; state = ONE open session per active user,
      |  removed on event-time timeout, so state tracks concurrent
      |  activity, not key cardinality. Emission is append-final (no
      |  downstream dedup).
      |- **st7_distinct_users (chained dedup → windowed distinct)** —
      |  dedup state bounded by the watermark delay; the downstream
      |  hour-window count keeps one row per (window, type) until the
      |  watermark closes the window.
      |- **st10_session_window (built-in session_window)** — native
      |  session aggregation: state merges adjacent windows per key,
      |  closed windows emitted and dropped at watermark passage.
      |- **st13_lake_merge** — foreachBatch upsert into a parquet lake:
      |  per batch one broadcast-able key set, target files rewritten
      |  only where keys collide (partition-pruned merge, not a full
      |  rewrite).
      |- **st17_window_chain** — windowed pre-agg feeding a second
      |  aggregation: the first layer's state closes at watermark, the
      |  second sees one row per closed window — state is window-count
      |  bounded at both layers.
      |- **st18_stream_wau / st19_stream_locf** — transformWithState
      |  per-user timelines: value-state carries last-seen only (WAU) or
      |  last-observation (LOCF); emission per event is O(1), state is
      |  active-user bounded. st19 measured linear (~14 us/event) in the
      |  100x probe.
      |- **st21_topk (Complete leaderboard)** — complete-mode top-k over
      |  a grouped count: state is the running per-key aggregate (key
      |  cardinality bounded — event_type domain), sink rewritten per
      |  batch with k rows.
      |- **st22_stream_funnel** — per-user conditional-min step
      |  timestamps in mapGroupsWithState: state is three longs + a
      |  count per user, no event retention, update-mode emission
      |  (conversion can flip on out-of-order arrivals —
      |  `StreamFunnelSpec` proves the cross-batch fold under
      |  maxFilesPerTrigger=1 with parity-interleaved files).
      |- **st23_stream_kmv** — per-event-type KMV distinct-user sketch
      |  in mapGroupsWithState: state is the k=64 smallest distinct
      |  user-id hashes (512 B per key at ANY user cardinality — the
      |  bounded-state form of streaming distinct, vs exact dedup's
      |  one-state-row-per-user); update-mode, latest row per key
      |  selected by the monotone event count. KMV insertion is
      |  order-independent, so the drained estimate hash-matches the
      |  batch formula computed by an engine that never saw a stream.
      |- **st29_stream_hll** — hourly HLL register sketch as a PLAIN
      |  windowed aggregation (no custom state processor): state is
      |  max(rho) per (hour, register) — 64 longs per hour at ANY user
      |  cardinality (measured FLAT at the 100× events probe: 3.9s →
      |  4.6s warm). Register-max is commutative/idempotent, so the
      |  drained registers equal the batch recomputation bit for bit;
      |  the estimate (raw harmonic + the shared 64-entry integer
      |  linear-counting table) is float-free on both engines.
      |- **st26_rate_limit (GCRA admission, TWS)** — per-user
      |  buffer-until-watermark (st19's shape): pending events bounded by
      |  the watermark horizon, folded in event-time order through ONE
      |  long of durable state (the theoretical arrival time), which
      |  survives micro-batches so bursts straddling a batch boundary
      |  still throttle. Emission = per-event admit/deny, append-final.
      |- **st27_window_funnel (ordered funnel DP, TWS)** — same
      |  buffer-until-watermark family: state = six longs per user (the
      |  latest two achieve times per funnel level) + a cumulative
      |  count; chains straddling batch boundaries still count
      |  (spec-proven under maxFilesPerTrigger=1). Per-finalize level
      |  emission, latest row selected downstream by the monotone count.
      |
      |File-sink parity: `StreamFileSinkSpec` proves st6 row-identical
      |through the parquet file sink + `_spark_metadata` commit log —
      |the production path that never materializes results on the
      |driver; `StreamCrashRecoverySpec` proves exactly-once across a
      |mid-batch crash on the same sink.
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.BenchSupport.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.tools.DumpPlans` on `$sfDir` (local[$cpus]). What to look\n")
    sb.append("for: `PushedFilters`/`ReadSchema` at every scan (pushdown +\n")
    sb.append("pruning), `BroadcastHashJoin` on dimension joins, \n")
    sb.append("`TakeOrderedAndProject` for top-k, `partial_*` aggregates before\n")
    sb.append("every Exchange (map-side combine), and `*(n)` codegen stage ids.\n")
    headline.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    sb.append(streamingShapes)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
