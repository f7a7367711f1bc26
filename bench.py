"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE compact JSON line: {"metric": ..., "value": total_sec, "unit":
"sec", "queries": {worst-10 name: sec}, "sf": ..., "n_queries": N,
"queries_full": path}. The complete per-query map is written to
BENCH_FULL.json (the printed line must stay short enough for the
driver's stdout tail capture — see round-4 verdict).

Each query is timed to full materialization (count of the result —
forces the whole plan, no driver-side row transfer cost in the number).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from covid_19_fl_spark import suite  # noqa: E402
from covid_19_fl_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q4_priority_with_exists",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "q8_market_share",
    "q10_returned_items",
    "q14_promo_effect",
    "q18_large_volume_customers",
    "q9_product_profit",
    "q13_customer_order_distribution",
    "q19_disjunctive_revenue",
    "q21_sole_blame_suppliers",
    "w1_cumulative_daily",
    "w2_cumulative_by_group",
    "w3_growth_rates",
    "w4_daily_delta",
    "a4_top5_by_count",
    "a5_mean_tail_rates",
    "j1_broadcast_left_join",
    "j4_anti_join",
    "g1_growth_sim",
    "x_asof_join",
    "x_sessionization",
    "x_interval_overlap",
    "x_scd2_build",
    "x_gap_fill_ffill",
    "x_cdc_snapshot",
    "x_skew_salted_distinct",
    "x_ewma",
    "dd_minhash_lsh_pairs",
    "dd_embedding_cosine",
    "ss_cosine_topk",
    "ss_scalar_quantize",
    "tx_quality_scores",
    "tx_pii_redaction",
    "tx_tfidf_topterms",
    "tx_token_entropy",
    "tx_repetition_scores",
    "tx_unigram_logprob",
    "x_correlation",
    "x_histogram",
    "x_ohlc_bars",
    "x_time_weighted_avg",
    "sp_token_budget_sample",
    "dd_dedup_keep_best",
    "x_rolling_zscore",
    "x_multitouch_attribution",
    "x_decayed_popularity",
    "x_pagerank",
    "x_count_min_topk",
    "tx_boilerplate_ngrams",
    "ss_pq_quantize",
    "x_agg_state_rollup",
    "sp_source_kl",
    "tx_bigram_logprob",
    "x_markov_transitions",
    "x_ivm_join_view",
    "sp_weighted_sample",
    "ss_hybrid_rrf",
    "x_ab_test",
    "x_dow_seasonality",
    "sp_temperature_mix",
    "ml_kmeans_clusters",
    "x_mad_by_group",
    "x_benford_digits",
    "x_triangle_count",
    "x_rfm_segmentation",
    "x_cusum_changepoint",
    "x_autocorrelation",
    "ml_linear_trend",
    "x_equidepth_histogram",
    "x_skyline",
    "ml_naive_bayes",
    "ml_knn_accuracy",
    "ml_decision_stump",
    "tx_zipf_fit",
    "x_rolling_median",
    "ss_ivf_recall",
    "ml_pca_power",
    "x_market_basket",
    "tx_pmi_collocations",
    "x_holt_smoothing",
    "x_weighted_median",
    "x_gini_spend",
    "x_abc_classification",
    "x_bfs_distances",
    "tx_contamination",
    "dd_prefix_dup",
    "dd_containment_pairs",
    "x_bloom_semi_join",
    "x_audience_overlap",
    "x_histogram_quantiles",
    "sp_ppl_bucket_mix",
    "ss_ndcg_eval",
    "x_rolling_corr",
    "ml_logreg_gd",
    "dd_semantic_dedup",
    "sp_uniform_rebalance",
    "tx_chunk_udtf",
    "x_cohort_ltv",
    "mm_binary_profile",
    "x_backlog_burndown",
    "ml_feature_matrix",
    "ss_vector_norms",
    "x_trimmed_mean",
    "st_stream_daily_counts",
    "st_cusum_drift",
    "ss_ivf_recall_sweep",
    "x_peak_concurrency",
    "ml_ols_normal_eq",
    "dd_exact_substr_spans",
    "st_dedup_distinct_users",
    "ml_pr_curve",
    "x_mann_kendall",
    "st_stream_stream_join",
    "x_kruskal_wallis",
    "st_session_windows",
    "x_funnel_latency",
    "x_seasonal_decompose",
    "tx_novelty_curve",
    "x_chi2_independence",
    "tx_lexical_diversity",
    "dd_impact_report",
    "ss_centroid_drift",
    "x_slump_streaks",
    "sp_epoch_shuffle",
    "x_wilson_ci",
    "x_kaplan_meier",
    "x_mann_whitney",
    "dd_minhash_calibration",
    "x_degree_distribution",
    "x_lorenz_deciles",
    "sp_pps_systematic",
    "x_revenue_waterfall",
    "x_column_profile",
    "x_dau_wau_stickiness",
    "dd_nearest_doc",
    # round-4 additions folded into the headline set (round-5 verdict
    # item 10): the scale-gate-relevant plans the driver should time.
    "x_spatial_neighbors",
    "ml_dbscan_grid",
    "x_apportionment",
    "ml_auc_exact",
    "x_max_drawdown",
    "x_json_extract",
    "x_pivot_daily_types",
    "x_range_frame",
    "x_retention_cohorts",
    "x_topk_per_group",
    "x_window_ranks",
    # round-5 additions
    "st_stream_stream_join_wm",
    "st_windowed_counts_append_wm",
    "ml_ridge_regression",
    "x_nelson_aalen",
    "x_percent_rank_global",
    "x_connected_components",
    "x_ks_two_sample",
    "ss_matryoshka_recall",
    "x_rollup_revenue",
    "x_theil_sen",
    "x_cross_correlation",
    "dd_jaccard_prefix_join",
    "x_bitmap_distinct_rollup",
    "st_topk_windowed",
    "tx_cdc_chunks",
    "x_sliding_distinct_users",
    "x_interarrival_stats",
    "ml_classification_report",
    "sp_length_bucket_batches",
    "dd_edit_distance_join",
    "x_merkle_diff",
    "x_fd_violations",
    "er_record_linkage",
    "x_sssp_weighted",
    "x_kcore",
    "x_linear_interpolation",
    "ml_calibration_bins",
    "ml_lift_gains",
    "st_stream_left_outer_wm",
    "st_sliding_counts_wm",
    "x_interval_coverage",
    "x_fifo_allocation",
    "tx_dictionary_match",
    "ss_mips_topk",
    "ml_kfold_cv",
    "x_runs_test",
    "x_jackknife_ci",
    "x_spearman_corr",
    "x_sprt_monitor",
    "x_path_trigrams",
    "x_bom_rollup",
    "ss_pq_adc_topk",
    "x_welch_ttest",
    "ml_mutual_information",
    "x_spatial_hotspots",
    "ml_adaboost_stumps",
    "x_sax_motifs",
    "ml_learning_curve",
    "tx_rake_keyphrases",
    "st_cdc_merge_upsert",
    "x_allen_relations",
    # round 6: capped similarity twins + the newly exact-oracled HLL pair
    "dd_jaccard_topm_join",
    "dd_edit_topm_join",
    "x_approx_distinct",
    "x_hll_sketch_rollup",
    # round 6 batch B: link prediction, MMR re-rank, Gini importance,
    # stream-static enrichment
    "x_link_prediction",
    "x_link_prediction_topm",
    "cur_gopher_rules",
    "ml_target_encoding",
    "ss_rbo_eval",
    "ml_isotonic_calibration",
    "sp_curriculum_order",
    "x_label_propagation",
    "st_exactly_once_batchid",
    "ss_mmr_rerank",
    "ml_gini_importance",
    "st_stream_static_enrich",
    # round 6 batch C: distributed BPE tokenizer training (learn + apply)
    "tx_bpe_merges",
    "tx_bpe_encode",
    # round 6 batch D: link analysis, 1-bit ANN, sketch quantiles,
    # line-level corpus dedup
    "x_hits",
    "ss_binary_quantize_topk",
    "x_approx_quantiles",
    "tx_line_dedup",
    # round 6 batch E: leakage-safe splits, composed IVFPQ index,
    # streaming near-dup dedup
    "sp_leakage_safe_split",
    "ss_ivfpq_topk",
    "st_minhash_dedup",
    # round 6 batch F: gradient-boosted regression stumps
    "ml_gbm_stumps",
    # round 6 batch G: serpentine load-balanced sharding
    "sp_snake_sharding",
    "tx_readability",
    "tx_trigram_backoff",
    "tx_hash_features",
    "ss_knn_graph",
    "x_clustering_coefficient",
    "x_kmv_sketch",
    "ml_ece_brier",
    "x_ppr",
    "tx_textrank",
    "x_window_funnel",
    "ss_rq_topk",
    "st_late_data_audit",
    "cur_dataset_card",
    "sp_domain_cap",
    "ml_platt_scaling",
    "mm_ahash_image_dedup",
    "mm_wav_loudness",
    # round 7 batch F: curation / clustering / graph diagnostics
    "sp_soft_dedup_weights",
    "tx_heaps_law",
    "x_modularity",
    "ml_silhouette",
    # round 7 batch G: curation governance reports
    "cur_pii_risk_report",
    "cur_mix_rebalance",
]

# Queries deliberately kept OUT of the bench, each with the reason
# (round-7 verdict ask #4: the 2× regression gate must either time a
# query or record why it doesn't). Empty today — every registered
# query benches at sf0.1; add entries here only with a written reason
# (e.g. a guarded-quadratic oracle twin that raises above a row bound).
EXCLUDE: dict[str, str] = {}


def bench_names() -> list[str]:
    """Full bench set: HEADLINE order first (keeps round-over-round
    per-query comparability), then every remaining registered query in
    name order — so a newly registered query can never silently dodge
    the regression gate (round-7 verdict ask #4). EXCLUDE applies to
    BOTH the headline prefix and the tail (round-8 advice: a headline
    query added to EXCLUDE must actually be excluded)."""
    listed = set(HEADLINE) | set(EXCLUDE)
    tail = sorted(n for n in suite.QUERIES if n not in listed)
    head = [n for n in HEADLINE if n in suite.QUERIES and n not in EXCLUDE]
    return head + tail


def scale_factor(sf_dir: str) -> float:
    """The scale factor named by the corpus path (``.../sf0.1`` → 0.1).

    Raises ValueError for a path without ``sf<N>`` in it: the scale
    factor decides the warmup, the pass count and the per-query GC."""
    m = re.search(r"sf(\d+(?:\.\d+)?)", sf_dir)
    if not m:
        raise ValueError(f"corpus path names no scale factor (sf<N>): {sf_dir!r}")
    return float(m.group(1))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = scale_factor(sf_dir)
    # The 10×/100× corpora (tools/scale_up.py writes them as sf1/sf10)
    # run once, cold: per-row plan cost dwarfs the JIT/startup overhead
    # a warmup amortizes, one pass over 10× data already dominates any
    # noise floor, and a second pass over 60M rows would double a
    # multi-hour run.
    at_scale = sf >= 1

    spark = get_spark("covid_19_fl_spark-bench")
    # SPARK_GRAFT_BENCH_SKIP: comma-separated queries to exclude from a
    # given run — used by the scale harness for queries whose ANSWER
    # grows superlinearly on the replicated corpus (e.g. the ε-neighbor
    # join, where every replica is a near-neighbor of every other
    # replica of the same row, so the output itself is quadratic in the
    # replica count; per-output-row cost is the meaningful metric and is
    # tracked in SCALECHECK.md instead).
    skip = {
        s.strip()
        for s in os.environ.get("SPARK_GRAFT_BENCH_SKIP", "").split(",")
        if s.strip()
    }
    # SPARK_GRAFT_BENCH_ONLY: comma-separated include-list — used by
    # the 100× spot-check to time just the top per-row-cost queries
    # without paying for the whole suite at 60M rows.
    only = {
        s.strip()
        for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if s.strip()
    }
    names = [
        n
        for n in bench_names()
        if n not in skip and (not only or n in only)
    ]

    # One untimed pass first: JIT/codegen compilation, parquet footer
    # caches, and Python-worker startup all land here, so the timed
    # passes measure steady-state plan execution (JMH-style warmup).
    # A query that fails is dropped from the timed set (and reported)
    # instead of sinking the whole harness — one bad plan must not
    # zero out the entire round's numbers. Skipped at scale (above).
    errors: dict[str, str] = {}
    exempt: dict[str, str] = {}

    def _classify_failure(name: str, exc: Exception) -> None:
        """A deliberate scale guard (guard_quadratic / bounded-corpus)
        is a DESIGNED refusal, not a defect — record it as a
        machine-readable exemption so a scale-sweep artifact carries
        `exempt: {query: reason}` instead of a stack trace (VERDICT r9
        ask #4: the 100× artifact must never show a guarded twin as an
        unresolved error)."""
        msg = f"{type(exc).__name__}: {exc}"
        if isinstance(exc, RuntimeError) and "guard" in str(exc):
            exempt[name] = "expected-quadratic: " + str(exc).split(".")[0][:200]
        else:
            errors[name] = msg[:300]

    # Cold-first-run map (round 11, VERDICT r10 ask #6): the warmup
    # pass is each query's genuinely cold execution — record it so a
    # cache-assisted query can't be priced warm-only. Additive sidecar
    # field; the contract "value" stays the min-of-timed-passes total.
    cold: dict[str, float] = {}
    ok_names = []
    for name in names:
        if at_scale:
            ok_names.append(name)
            continue
        try:
            t0 = time.perf_counter()
            suite.QUERIES[name](spark, sf_dir).count()
            cold[name] = round(time.perf_counter() - t0, 4)
            ok_names.append(name)
        except Exception as exc:  # noqa: BLE001
            _classify_failure(name, exc)

    # Two timed passes, keep the per-query MINIMUM: the min of repeated
    # steady-state runs estimates plan cost with the machine-load noise
    # floor removed (a co-tenant burst inflates one pass, never both).
    # One pass at scale (above).
    passes = 1 if at_scale else 2
    timings: dict[str, float] = {}
    for _ in range(passes):
        for name in ok_names:
            if name in errors or name in exempt:
                continue  # failed a timed pass — drop, don't re-time
            t0 = time.perf_counter()
            try:
                suite.QUERIES[name](spark, sf_dir).count()
            except Exception as exc:  # noqa: BLE001
                # Same isolation as warmup: a transient timed-pass
                # failure must not sink the whole round's numbers.
                _classify_failure(name, exc)
                timings.pop(name, None)
                continue
            t = round(time.perf_counter() - t0, 4)
            if name not in timings or t < timings[name]:
                timings[name] = t
            if at_scale:
                # Scale sweeps (10×/100×) shuffle GBs per query in ONE
                # session; dereferenced shuffle files are only deleted
                # after a JVM GC lets the ContextCleaner see them (the
                # round-9 100× sweep filled the disk this way). Python
                # gc first so py4j drops its JVM handles, then an
                # explicit JVM GC — a few-hundred-ms pause per query,
                # noise at scale, skipped entirely at sf<1.
                import gc as _gc

                _gc.collect()
                spark.sparkContext._jvm.System.gc()

    total = round(sum(timings.values()), 4)
    # The driver records only the TAIL of stdout, so a 140-query map on
    # one line overflows its capture and the machine-readable record is
    # lost (the driver then records "parsed": null). Emit ONE compact
    # JSON line — contract keys intact, "queries" trimmed to the
    # worst-10 plans (the ones worth reading in an artifact) — and
    # write the full per-query map to a sidecar file next to bench.py.
    full = {
        "metric": "suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "passes": passes,
    }
    if cold:
        full["queries_cold"] = cold
    if errors:
        full["errors"] = errors
    if exempt:
        full["exempt"] = exempt
    # Overridable so the 10×/100× scale harness can keep per-SF full
    # maps side by side (tools/scale_regression.py reads "queries"
    # from these files).
    # Subset runs (BENCH_ONLY/BENCH_SKIP) divert to a scratch sidecar by
    # default so a spot-check can never clobber the committed full-suite
    # BENCH_FULL.json (an explicit SPARK_GRAFT_BENCH_OUT still wins).
    default_sidecar = (
        "/tmp/BENCH_SUBSET.json"
        if (only or skip)
        else os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
        )
    )
    sidecar = os.environ.get("SPARK_GRAFT_BENCH_OUT", default_sidecar)
    # Round-over-round regression report (VERDICT r5 ask #9): compare
    # against the PRIOR committed sidecar before overwriting it, so
    # per-query slowdowns are machine-visible in the round artifact
    # without diffing git history. Only full-suite runs compare —
    # BENCH_ONLY/SKIP subsets would miscount.
    regressions: list[dict] = []
    prior_queries: dict = {}
    if not only and not skip and os.path.exists(sidecar):
        try:
            with open(sidecar) as fh:
                prior_queries = json.load(fh).get("queries", {}) or {}
        except Exception:  # noqa: BLE001 — a corrupt sidecar never sinks a run
            prior_queries = {}
        # Machine-speed normalization: rounds run on freshly-provisioned
        # containers whose effective speed varies (round 6's host ran
        # the identical suite ~1.8x slower than round 5's) — raw
        # time ratios would flag EVERY query. The median per-query
        # ratio estimates the host factor (a plan regression moves a
        # few queries, not the median); flag only queries ≥1.5x after
        # dividing it out, and record the factor so the artifact is
        # interpretable.
        ratios = sorted(
            t / prior_queries[name]
            for name, t in timings.items()
            if prior_queries.get(name, 0) >= 0.05
        )
        machine = ratios[len(ratios) // 2] if ratios else 1.0
        full["machine_factor_vs_prior"] = round(machine, 3)
        for name, t in timings.items():
            prev = prior_queries.get(name)
            if prev and prev >= 0.05 and t >= 1.5 * prev * machine:
                regressions.append(
                    {
                        "query": name,
                        "prev": prev,
                        "now": t,
                        "ratio": round(t / prev, 2),
                        "ratio_normalized": round(t / prev / machine, 2),
                    }
                )
        regressions.sort(key=lambda r: -r["ratio_normalized"])
        # Self-triage (round-8 verdict ask #6): every round the 1.5×
        # gate flags a few contention artifacts that previously needed
        # a manual SPARK_GRAFT_BENCH_ONLY re-time. Re-time each flagged
        # query here, after the suite passes have drained (the same
        # isolation the manual protocol sampled: nothing else queued on
        # the scheduler), keep the min of two runs, and record BOTH
        # numbers — a real plan regression stays slow isolated, a
        # co-tenancy burst does not ("cleared": true).
        for entry in regressions:
            name = entry["query"]
            iso = None
            try:
                for _ in range(2):
                    t0 = time.perf_counter()
                    suite.QUERIES[name](spark, sf_dir).count()
                    t = round(time.perf_counter() - t0, 4)
                    if iso is None or t < iso:
                        iso = t
            except Exception as exc:  # noqa: BLE001
                entry["isolated_error"] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            entry["suite"] = entry["now"]
            entry["isolated"] = iso
            entry["ratio_isolated_normalized"] = round(
                iso / entry["prev"] / machine, 2
            )
            entry["cleared"] = iso < 1.5 * entry["prev"] * machine
        full["regressions"] = regressions
        # the current slowest-10 with their prior-round times alongside
        full["slowest10_vs_prior"] = {
            name: {"now": t, "prev": prior_queries.get(name)}
            for name, t in sorted(
                timings.items(), key=lambda kv: -kv[1]
            )[:10]
        }
    with open(sidecar, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
    worst = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    out = {
        "metric": "suite_total",
        "value": total,
        "unit": "sec",
        "queries": worst,
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "n_exempt": len(exempt),
        "passes": passes,
        "regressions": regressions,
        "queries_full": sidecar,
    }
    # The summary line must be rebuildable even if stdout is mangled:
    # a round-7 driver record came back "parsed": null because JVM
    # teardown noise (streaming state-store maintenance threads logging
    # RpcEnvStoppedException during interpreter exit) pushed the JSON
    # line out of the driver's stdout tail capture. Write the exact
    # summary to a sidecar FIRST, then tear Spark down cleanly —
    # stopping every active streaming query and the session itself —
    # and only then print, so the JSON line is the guaranteed-last
    # stdout output with no JVM left alive to interleave stack traces.
    summary_path = (
        "/tmp/BENCH_SUMMARY.json"
        if (only or skip)
        else os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_SUMMARY.json"
        )
    )
    with open(summary_path, "w") as fh:
        json.dump(out, fh)
    try:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    except Exception:  # noqa: BLE001 — teardown noise must not eat the summary
        pass
    sys.stdout.flush()
    sys.stderr.flush()
    print(json.dumps(out))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
