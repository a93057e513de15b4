"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized through the `noop` datasource writer so
every column is computed (a bare .count() would let Catalyst prune
the interesting work).

Round-14 noise protocol (VERDICT r10 #1/#4): the host's root disk has
been observed degrading to ~29 MB/s mid-round and same-code full runs
spread ±20%, so cross-round deltas were unreadable.  Now every run
(a) stamps a measured disk-throughput + loadavg + CPU-canary field
into the artifact so the reader can tell a slow host from a slow
plan, (b) re-measures the slowest entries once more after the main
pass (best-of-2 within a pass × an outlier re-pass ≈ median-of-3
robustness at ~15% of triple-run cost), and (c) records per-entry
executor metrics (shuffle bytes, input rows, executor CPU ms) from
the Spark status REST API — shuffle bytes are plan-determined, so a
cross-round byte delta separates "plan got heavier" from "host was
slow" mechanically.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from analysisofuserbehavior_spark.registry import QUERIES
from analysisofuserbehavior_spark.session import (
    get_spark,
    release_query_resources,
)

HEADLINE = [
    "sessionize",
    "session_stats",
    "session_aggr_stat",
    "session_filtered_aggr_stat",
    "session_random_extract",
    "top10_categories",
    "top10_category_sessions",
    "page_convert_rate",
    "area_top3_products",
    "ad_stat",
    "ad_province_top3",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q4",
    "tpch_q7",
    "tpch_q12",
    "tpch_q14",
    "tpch_q19",
    "tpch_q8",
    "tpch_q15",
    "tpch_q17",
    "tpch_q21",
    "tpch_q22",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_stats",
    "token_counts",
    "session_window_rollup",
    "top10_active_users",
    "top10_purchase_growth",
    "top10_first_week_active",
    "clean_corpus",
    "session_paths",
    "cohort_retention",
    "pack_sequences",
    "incremental_admit",
    "ann_quantized_topk",
    "corpus_profile",
    "vocab_top_tokens",
    "click_asof_prior_view",
    "error_burst_click_counts",
    "corpus_quota_sample",
    "benchmark_contamination",
    "session_length_deciles",
    "user_type_grouping_sets",
    "train_eval_split",
    "boilerplate_ngrams",
    "pii_redact",
    "rolling_7d_clicks",
    "page_rank",
    "scd2_customer_segment",
    "doc_tfidf_top_terms",
    "dq_report",
    "attribution_linear",
    "funnel_sequential",
    "media_dedup",
    "page_transition_probs",
    "snapshot_diff_customer",
    "open_orders_daily",
    "user_ltv_deciles",
    "daily_clicks_gapfilled",
    "vocab_fuzzy_pairs",
    "attribution_decayed",
    # round 4: the rest of the driver's 50-query correctness gate window,
    # so BENCH_r{N} measures every query CORRECTNESS_r{N} checks.
    "session_detail",
    "ad_user_click_count",
    "ad_blacklist",
    "ad_click_trend",
    "daily_cumulative_clicks",
    "ann_ivf_topk",
    "ann_ivf_topk_indexed",
    # embedding_neardup_exact (O(n²) all-pairs calibration twin) is
    # deliberately NOT in HEADLINE: it exists as a recall floor for the
    # LSH path and stays under the full oracle + recall tests, but the
    # headline bench measures only production-path plans.
    "lang_id",
    "doc_fingerprint",
    "streaming_hourly_clicks",
    "area_top3_products_sql",
    "top10_purchase_users",
    "top10_visit_growth",
    "streaming_ad_running_totals",
    "streaming_sliding_trend",
    "session_filtered_aggr_stat2",
    "streaming_session_rollup",
    "tpch_q18",
    "ad_blacklist_feedback",
    "repetition_stats",
    "doc_length_quantiles",
    "quality_weighted_sample",
    "leakage_safe_split",
    "run_task_session_aggr",
    "run_task_area_top3",
    "run_task_page_convert",
    "run_task_ad_province_top3",
    "dsir_select",
    "train_eval_token_shift",
    "hybrid_rrf_topk",
    "mixture_resample",
    "changepoint_daily",
    # round 12: featurization / LSH-ANN / communities / moments
    "target_encode_category",
    "feature_hash_docs",
    "ann_lsh_topk",
    "ann_recall_report",
    "item_communities_lpa",
    "embedding_covariance",
    "collocations_pmi",
    "winsorized_user_spend",
    "countmin_token_freq",
    "page_reachability_sql",
    "streaming_countmin_merge",
    "streaming_click_attribution_outer",
    "user_behavior_profile",
    "daily_anomaly_mad",
    "user_erasure_audit",
    "daily_pivot_unpivot_roundtrip",
    "page_dwell_stats",
    "entry_exit_pages",
    "bounce_rate_daily",
    "session_depth_curve",
    "purchase_gap_distribution",
    "page_graph_triangles",
    "streaming_dedup_keys",
    "bm25_topk",
    "unigram_surprisal",
    "vocab_growth",
    "page_bfs_depths",
    "event_type_pivot",
    "events_cube",
    "user_halves_setops",
    "embedding_cluster_profile",
    "clicks_rollup_calendar",
    "daily_anomaly_zscore",
    "tpch_q2_derived",
    "tpch_q9_derived",
    "tpch_q11_derived",
    "tpch_q16_derived",
    "tpch_q20_derived",
    "image_features_ppm",
    "props_variant_extract",
    "user_value_locf",
    "tokenizer_fertility_by_lang",
    # round 5 gate promotions + new text-quality operators
    "streaming_upsert_crash_recovery",
    "streaming_scd2_crash_recovery",
    "streaming_late_event_drop",
    "bigram_surprisal",
    "backoff_surprisal",
    "quality_gate_report",
    "dedup_exact_canonical",
    "chunk_documents",
    "dup_ngram_coverage",
    "remove_dup_spans",
    # round 7: the composed lifecycle + embedding-space dedup +
    # temperature mixture
    "corpus_pipeline_e2e",
    # round 13: the two-day incremental lifecycle (admission vs stored
    # corpus + day-partition overwrite + ledger-guarded index append +
    # idempotent re-run)
    "corpus_pipeline_incremental",
    "semantic_dedup",
    "mixture_temperature_weights",
    # round 10 (builder r13): embedding_dedup_clusters (the exact-fed
    # O(n²) calibration twin, ~9 s at sf0.1) moved OUT of HEADLINE per
    # the round-9 verdict — it keeps its full-oracle row and the
    # recall-floor tests, but the headline bench measures only
    # production-path plans.  The gated LSH-fed closure stays:
    "embedding_dedup_clusters_lsh",
    "image_features_jpeg",
    "image_features_png",
    # round 8: sweep-line concurrency, CDC apply, shuffle shards,
    # curriculum, skew diagnostics, LSH tuning
    "session_concurrency_hourly",
    "cdc_apply_changelog",
    "training_shuffle_shards",
    "curriculum_stages",
    "skew_key_diagnostics",
    "lsh_tuning_report",
    "item_covisitation",
    "image_features_gif",
    "audio_features_adpcm",
    # round 8, second pass: full registry coverage — every remaining
    # query BENCH had never measured, so BENCH_DETAIL now covers the
    # complete queries() surface (incl. the gated dedup_clusters and
    # the rows-only family).
    "dedup_clusters",
    "streaming_click_attribution",
    "dedup_simhash",
    "ann_ivf_kmeans_topk",
    "embedding_neardup",
    "doc_rolling_fingerprint",
    "ann_cosine_topk_np",
    "normalize_text",
    # round 10: PII scrub (row-local regexp projection)
    "pii_scrub_report",
    # round 10: prefix-filtered similarity join, benched NEXT TO the
    # full-join canonical so the pruning win stays measured
    "dedup_ngram_jaccard_prefix",
    "multitouch_attribution",
    "holt_trend_daily",
    "cusum_drift_daily",
    "theilsen_trend_daily",
    "session_length_percentiles",
    "daily_event_type_pivot",
    "events_profile",
    "daily_type_rollup",
    "events_profile_approx",
    "media_metadata",
    "media_frame_offsets",
    "media_resize_audit",
    "image_features_bmp",
    "audio_features_wav",
    "streaming_user_click_upsert",
    "pack_bin_manifest",
    "tpch_q13",
    "skewed_event_counts",
    "vocab_heavy_hitters_sketch",
    "monthly_users_hll_rollup",
    "lang_mixture_weights",
    "trending_items_decayed",
    "rfm_segments",
    "new_vs_returning_daily",
    "basket_affinity_rules",
    # round 9
    "bm25_topk_indexed",
    "bm25_topk_incremental",
    "ab_test_report",
    "ab_test_cuped",
    "ab_test_mannwhitney",
    "ab_test_quantile_effects",
    "bpe_learn_merges",
    "bpe_encode_stats",
    "hard_negative_mining",
    # round 13: PIT dimension join, JSD drift monitor, exact sliding
    # count-distinct, k-anonymity audit, matryoshka retrieval overlap
    "events_segment_pit",
    "daily_drift_jsd",
    "rolling_7d_distinct_users",
    "k_anonymity_report",
    "ann_matryoshka_overlap",
    "ann_ivf_topk_appended",
    "bm25_prf_topk",
    "bm25_topk_compacted",
    "purged_time_split",
    "lang_id_confusion",
    "offpolicy_ips_estimate",
    "covisit_next_item_hitrate",
    "schema_evolution_union",
    "user_spend_gini",
    "top_decile_spend_share",
    "cart_abandonment_daily",
    "time_to_convert_percentiles",
    "funnel_by_segment",
    "arpu_daily",
    "funnel_within_window",
    "streaming_funnel_within_window",
    "seasonal_anomaly_dow",
    # round 14: coverage curve / entropy / regex funnels / trigrams /
    # zone-map audit / incremental MV.  stress_linear_report is
    # deliberately NOT here — it is a meta-measurement whose inner
    # timings would double-count in the headline total (rotated out
    # of the 50-slot gate window in round 12 per VERDICT r11 #3, it
    # regenerates in the builder's ORACLE_FULL runs and its ratios
    # land in SCALING.md).
    "vocab_coverage_curve",
    "user_entropy_profile",
    "funnel_regex_path",
    "frequent_path_trigrams",
    "zonemap_pruning_report",
    "orders_mv_incremental",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ab_srm_check",
    "embedding_norm_profile",
    "quantile_normalize_by_type",
    "retrieval_ndcg_report",
    "dedup_contained_docs",
    "sessionize_gap_sensitivity",
    "l_diversity_report",
    # round 12: CCNet-style perplexity banding (VERDICT r11 #8)
    "perplexity_filtered_corpus",
]


def _disk_probe_mb_s(n_mb: int = 32) -> float:
    """Measured sequential write throughput of the DISK-backed tmp
    (/var/tmp — the medium the testdata scans and any non-tmpfs spill
    pay), fsync included.  ~1 s on a healthy host, tens of seconds on
    the degraded one — exactly the signal cross-round readers need."""
    import tempfile

    buf = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with tempfile.NamedTemporaryFile(dir="/var/tmp", delete=True) as f:
        for _ in range(n_mb):
            f.write(buf)
        f.flush()
        os.fsync(f.fileno())
        dt = time.perf_counter() - t0
    return round(n_mb / dt, 1)


def _cpu_canary_sec(spark) -> float:
    """Fixed CPU-bound Spark job (no IO, no shuffle read of interest):
    a slow canary means the JVM/CPUs were contended, independent of
    any query's plan."""
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr(
        "sum(id * 2654435761 % 1000003) as s"
    ).collect()
    return round(time.perf_counter() - t0, 3)


def _stages(spark) -> list[dict]:
    """Completed-stage records from the status REST API (empty when
    the UI is off).  Stage IDs are monotonic, so callers diff by id —
    immune to the UI's retained-stage eviction of OLD stages."""
    url = spark.sparkContext.uiWebUrl
    if not url:
        return []
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(
            f"{url}/api/v1/applications/{app}/stages?status=complete", timeout=15
        ) as r:
            return json.loads(r.read())
    except Exception:
        return []


_METRIC_FIELDS = {
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "executor_run_time_ms": "executorRunTime",
}


def _stage_delta(spark, after_id: int) -> dict[str, int]:
    tot = dict.fromkeys(_METRIC_FIELDS, 0)
    for s in _stages(spark):
        if s.get("stageId", -1) > after_id:
            for k, field in _METRIC_FIELDS.items():
                tot[k] += int(s.get(field, 0) or 0)
    return tot


def _max_stage_id(spark) -> int:
    return max((s.get("stageId", -1) for s in _stages(spark)), default=-1)


# Stdout anchor set (round 13, VERDICT r12 #7): the queries shown on
# round 12's stdout line are ALWAYS emitted first, so the driver's
# round-over-round PERF diff compares a stable set.  Previously the
# line kept only the slowest-that-fit, so entries that merely got
# FASTER fell off and read as phantom removals (17 'dropped' in
# PERF_r12, all still measured).  Remaining space is filled with the
# slowest non-anchor queries as before — additions-only; the full
# 253-entry detail is unchanged in BENCH_DETAIL.json.
_STDOUT_ANCHORS = (
    "embedding_dedup_clusters_lsh",
    "corpus_pipeline_incremental",
    "corpus_pipeline_e2e",
    "perplexity_filtered_corpus",
    "streaming_funnel_within_window",
    "clean_corpus",
    "dedup_clusters",
    "leakage_safe_split",
    "streaming_late_event_drop",
    "bm25_topk_compacted",
    "ad_blacklist_feedback",
    "streaming_upsert_crash_recovery",
    "streaming_scd2_crash_recovery",
    "dedup_ngram_jaccard",
    "pack_sequences",
    "lsh_tuning_report",
    "embedding_neardup",
    "incremental_admit",
    "streaming_ad_running_totals",
    "ann_ivf_topk_appended",
    "streaming_click_attribution_outer",
    "bm25_prf_topk",
    "ann_ivf_topk_indexed",
    "dedup_ngram_jaccard_prefix",
    "streaming_click_attribution",
    "semantic_dedup",
    "streaming_countmin_merge",
    "item_communities_lpa",
    "doc_tfidf_top_terms",
    "bpe_encode_stats",
    "bm25_topk_incremental",
    "image_features_jpeg",
    "dedup_contained_docs",
    "scd2_customer_segment",
    "dsir_select",
    "quality_gate_report",
    "ann_ivf_kmeans_topk",
    "rfm_segments",
    "streaming_sliding_trend",
    "cohort_retention",
    "page_rank",
    "streaming_user_click_upsert",
    "page_convert_rate",
    "page_reachability_sql",
    "ann_ivfpq_topk",
    "dedup_minhash_lsh",
    "streaming_hourly_clicks",
    "quantile_normalize_by_type",
    "ann_cosine_topk",
    "benchmark_contamination",
    "ann_quantized_topk",
)


def _fit_stdout_line(
    line_obj: dict, timings: dict[str, float], limit: int = 1750
) -> str:
    """Fill line_obj["queries"] — anchors first (stable cross-round
    set, slowest first), then the slowest of the rest — while the
    compact JSON line fits a `limit`-char stdout-tail capture;
    return that line.  `queries_shown` and `anchors_shown`
    count what made it, so a line whose anchors alone overflow says
    so instead of silently dropping the tail of the anchor set."""
    anchored = sorted(
        ((n, timings[n]) for n in _STDOUT_ANCHORS if n in timings),
        key=lambda kv: -kv[1],
    )
    others = sorted(
        ((n, s) for n, s in timings.items() if n not in _STDOUT_ANCHORS),
        key=lambda kv: -kv[1],
    )
    ranked = anchored + others

    def line(n: int) -> str:
        line_obj["queries"] = dict(ranked[:n])
        line_obj["queries_shown"] = n
        line_obj["anchors_shown"] = min(n, len(anchored))
        return json.dumps(line_obj, separators=(",", ":"))

    n = 0
    while n < len(ranked) and len(line(n + 1)) <= limit:
        n += 1
    return line(n)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # optional comma-separated subset for fast contract checks /
    # single-query iteration; default runs the full HEADLINE list
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    headline = (
        [n for n in HEADLINE if n in only.split(",")] if only else HEADLINE
    )
    # the status REST API is the metrics source — UI on for bench only
    # (every other runner keeps it off)
    spark = get_spark("bench", extra_conf={"spark.ui.enabled": "true"})
    timings: dict[str, float] = {}
    metrics: dict[str, dict[str, int]] = {}
    noise: dict[str, object] = {
        "disk_mb_s_start": _disk_probe_mb_s(),
        "loadavg_start": round(os.getloadavg()[0], 2),
    }
    # warm the JVM/parquet footer caches once with the cheapest query
    QUERIES["tpch_q1"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    noise["cpu_canary_sec"] = _cpu_canary_sec(spark)

    def measure(name: str) -> float:
        # two runs, report the faster: the first pays one-time
        # whole-stage-codegen compilation (~2-3 s/plan locally),
        # which is noise for throughput comparisons.  Executor
        # metrics come from the second run only (plan-determined,
        # identical across runs).
        best = float("inf")
        for i in range(2):
            if i == 1:
                mark = _max_stage_id(spark)
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        metrics[name] = _stage_delta(spark, mark)
        return round(best, 3)

    for name in headline:
        if name not in QUERIES:
            continue
        timings[name] = measure(name)
        # drop any lingering per-query JVM state (broadcast refs,
        # memory-sink tables) so later queries aren't measured under
        # earlier queries' heap pressure.  clearCache() covers the SQL
        # cache only — the LM family's localCheckpoint blocks are
        # RDD-level and free via the ContextCleaner once Python drops
        # the DataFrame refs, so force a collection here or those
        # blocks pile up across the 120-entry run
        release_query_resources(spark)
    # outlier re-pass (VERDICT r10 #1): the slowest entries are where
    # host noise concentrates (they run longest, so they straddle the
    # most IO/scheduler weather) — re-measure them once more after the
    # main pass and keep the per-entry minimum.  Full runs only; the
    # contract-smoke subset stays single-pass fast.
    repassed: list[str] = []
    if not only and timings:
        for name in sorted(timings, key=lambda n: -timings[n])[:8]:
            timings[name] = min(timings[name], measure(name))
            release_query_resources(spark)
            repassed.append(name)
    noise["disk_mb_s_end"] = _disk_probe_mb_s()
    noise["loadavg_end"] = round(os.getloadavg()[0], 2)
    noise["outlier_repass"] = repassed
    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full per-query detail goes to BENCH_DETAIL.json; the stdout JSON
    # line must stay under the driver's 2000-char stdout-tail capture
    # (rounds 4-6 overflowed it and the driver recorded parsed=null),
    # so the line keeps the total plus the slowest queries that fit and
    # points at the detail file for the rest.
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "noise": noise,
        "exec_metrics": metrics,
    }
    # Subset runs (SPARK_GRAFT_BENCH_QUERIES set — pytest contract
    # checks, single-query iteration) must NOT clobber the committed
    # full-run detail: they write BENCH_DETAIL_smoke.json unless an
    # explicit $SPARK_GRAFT_BENCH_DETAIL path overrides.
    detail_name = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        "BENCH_DETAIL_smoke.json" if only else "BENCH_DETAIL.json",
    )
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), detail_name
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
        f.write("\n")
    line_obj = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {},
        "sf": sf_val,
        "queries_measured": len(timings),
        "queries_shown": 0,
        "anchors_shown": 0,
        "detail": detail_name,
        # host-weather stamp so cross-round totals can be read
        # (VERDICT r10 #1): plan-heaviness lives in exec_metrics
        # (detail file), host-slowness in these fields
        "disk_mb_s": [noise["disk_mb_s_start"], noise["disk_mb_s_end"]],
        "loadavg": [noise["loadavg_start"], noise["loadavg_end"]],
        "cpu_canary_sec": noise["cpu_canary_sec"],
    }
    print(_fit_stdout_line(line_obj, timings))
    spark.stop()


if __name__ == "__main__":
    main()
