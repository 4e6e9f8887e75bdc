"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship HA-points pipeline at sf0.001;
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 with its DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from ha_sqllite_2_influxdb_spark.plans.ha_pipeline import q_points

    return q_points(spark, "/root/testdata/sf0.001")


# The round driver correctness-checks the FIRST 50 registry entries in
# insertion order. Most slots are oracle-backed (rows+schema+hash
# verdict); the handful that are rows-only BY NATURE (iterative /
# approximate / codec tiers with no exact SQL counterpart) are
# enumerated in ROWS_ONLY_OK in tests/test_oracle_parity.py's
# test_driver_window_contract, each pinned by an exact-counterpart
# pytest instead. Entries past the window still run under pytest
# (tests/test_oracle_parity.py covers the whole registry).
_DRIVER_WINDOW = [
    # r16 window — _NEXT_WINDOW_PLAN_R16 rotated in VERBATIM (the ninth
    # byte-verbatim rotation): the five fenced last=r9 flux names lead,
    # then 45 of the 50 last=r10 entries in deterministic sorted order.
    # ELEVEN slots (bpe_encode, bpe_vocab, influx_ema,
    # influx_holt_winters, influx_percentile_approx, influxql_explain,
    # kmeans_embeddings, pack_ffd, pq_ann_topk, semdedup,
    # sketch_hll_partitioned) are rows-only by nature and already in the
    # pinned ROWS_ONLY_OK set, so the window is 39/50 oracle-backed.
    "flux_state_duration", "flux_pivot_fields", "flux_histogram",
    "flux_histogram_quantile", "flux_join_math",
    "bpe_encode", "bpe_vocab", "contrastive_triplets", "dataset_card",
    "flux_now_relative", "flux_schema_field_keys",
    "flux_schema_m_tag_values", "flux_schema_measurements",
    "flux_schema_tag_values", "flux_task_hourly_mean",
    "flux_union_streams", "ha_energy_daily", "ha_history_stats",
    "ha_lineprotocol_roundtrip", "ha_statistics_daily",
    "ha_statistics_monthly", "ha_statistics_sum", "hard_negatives",
    "influx_bottom3", "influx_distinct", "influx_ema",
    "influx_fill_linear", "influx_holt_winters", "influx_nn_derivative",
    "influx_percentile_approx", "influx_rollup_cascade",
    "influx_state_durations", "influx_state_mode",
    "influx_stddev_median", "influxql_explain", "kmeans_embeddings",
    "line_dedup", "lm_surprise", "multimodal_png_rgb",
    "multimodal_wav_stereo", "ngram_containment_capped", "pack_ffd",
    "pq_ann_topk", "semdedup", "series_acf", "series_flatline_runs",
    "series_fleet_correlation", "series_hysteresis_alerts",
    "series_rolling_quantile", "sketch_hll_partitioned",
]
assert len(_DRIVER_WINDOW) == 50

# Committed r17 rotation (r14 re-balance per VERDICT r13 #1): the five
# last=r10 leftovers LEAD (skew_report + the four stream tiers the R16
# plan could not hold — they age out at the r14 close, latest=14 needs
# last>=11, so these slots are what turns the lookahead gate green),
# then 45 of the 50 last=r11 entries in deterministic sorted order.
# The 5 last=r11 names this plan cannot hold (tpch_q7, tpch_q8,
# tpch_q9, window_running, window_topk — the sorted-order tail) stay
# fresh through the r14 close and take the lead slots of
# _NEXT_WINDOW_PLAN_R18 at the r15 re-balance; that obligation is
# gate-held by the same lookahead close simulation
# (tests/test_advice_regressions.py::test_rotation_survives_next_close),
# which goes red at round-15 start until R18 is committed with them.
_NEXT_WINDOW_PLAN_R17 = [
    "skew_report", "stream_cq_downsample", "stream_flatline",
    "stream_hysteresis", "stream_lineprotocol",
    "asof_join", "curriculum_topk", "decontaminate", "dedup_exact",
    "dedup_keep_best", "embedding_centroids", "embedding_knn",
    "embedding_neardup", "events_hourly", "events_sliding",
    "grouping_sets", "ha_attr_fields", "ha_backfill_boundary",
    "ha_line_protocol", "ha_ts_format", "multimodal_frames",
    "multimodal_gif_lct", "multimodal_jpeg_color",
    "multimodal_png_adam7", "multimodal_png_palette",
    "multimodal_thumbnail", "multimodal_wav_adpcm", "neardup_clusters",
    "neardup_minhash_lsh", "ngram_jaccard", "pack_sequences",
    "pivot_events", "quantiles", "rollup_orders", "sessionize",
    "set_ops", "simhash_neighbors", "simhash_signatures",
    "stream_dedup", "stream_join", "tpch_q1", "tpch_q10", "tpch_q13",
    "tpch_q18", "tpch_q19", "tpch_q2", "tpch_q22", "tpch_q3",
    "tpch_q5", "tpch_q6",
]
assert len(_NEXT_WINDOW_PLAN_R17) == 50

# Committed r18 rotation (r15 re-balance per VERDICT r14 #2): the five
# last=r11 leftovers LEAD (tpch_q7/q8/q9, window_running, window_topk —
# the R17 plan's sorted-order tail; they age out at the r15 close,
# latest=15 needs last>=12, so these slots are what turns the lookahead
# gate green at round-15 start), then 45 of the 50 last=r12 entries in
# deterministic sorted order. The 5 last=r12 names this plan cannot
# hold (tpch_q20, tpch_q21, training_shuffle, upsert_latest,
# window_time_range — the sorted-order tail) stay fresh through the
# r15 close (12 >= 15-3) and take the lead slots of
# _NEXT_WINDOW_PLAN_R19 at the r16 re-balance; that obligation is
# gate-held by the same lookahead close simulation
# (tests/test_advice_regressions.py::test_rotation_survives_next_close).
_NEXT_WINDOW_PLAN_R18 = [
    "tpch_q7", "tpch_q8", "tpch_q9", "window_running", "window_topk",
    "bm25_topk", "cohort_retention", "curate_pipeline",
    "data_expectations", "dataset_split", "distinct_twophase",
    "full_outer_join", "funnel_steps", "gopher_rules", "ha_oldest_point",
    "ha_points", "incremental_agg", "influx_derivative",
    "influx_integral", "influx_moving_average", "influx_series_stats",
    "ingest_pipeline", "lm_rare_bigrams", "lpa_communities",
    "multimodal_jpeg_progressive", "multimodal_png_gray16",
    "ngram_containment", "ngram_span_dedup", "quality_classifier",
    "quarantine_rows", "random_projection", "range_band_join",
    "resample_locf", "robust_outliers", "salted_join", "scd2_intervals",
    "session_window_native", "sketch_topk_ngrams", "stream_ema",
    "stream_sessions", "stream_static_join", "stream_upsert",
    "stream_window_topk", "textrank_keywords", "tfidf_topk",
    "tpch_q11", "tpch_q12", "tpch_q14", "tpch_q15", "tpch_q16",
]
assert len(_NEXT_WINDOW_PLAN_R18) == 50

# Committed r19 rotation (r16 re-balance): the five last=r12 leftovers
# LEAD (tpch_q20, tpch_q21, training_shuffle, upsert_latest,
# window_time_range — the R18 plan's sorted-order tail; they age out
# at the r16 close, latest=16 needs last>=13, so these slots are what
# turns the lookahead gate green at round-16 start), then 45 of the 50
# last=r13 entries in deterministic sorted order. The 5 last=r13 names
# this plan cannot hold (stream_dedup_incremental,
# stream_incremental_agg, stream_ohlc, triangle_copurchase,
# zorder_events — the sorted-order tail) stay fresh through the r16
# close (13 >= 16-3) and take the lead slots of _NEXT_WINDOW_PLAN_R20
# at the r17 re-balance; that obligation is gate-held by the same
# lookahead close simulation
# (tests/test_advice_regressions.py::test_rotation_survives_next_close).
_NEXT_WINDOW_PLAN_R19 = [
    "tpch_q20", "tpch_q21", "training_shuffle", "upsert_latest",
    "window_time_range",
    "ab_proportion_test", "audience_overlap", "bfs_distances",
    "bpe_pair_counts", "chunk_documents", "conversion_latency",
    "cuped_readout", "curate_mixture_pipeline", "daily_new_returning",
    "data_gaps", "dedup_incremental", "event_transitions",
    "frequent_triples", "html_strip", "hybrid_rrf",
    "influx_cumulative_sum", "influx_difference", "influx_downsample",
    "influx_mode", "influx_percentile", "influx_sample", "influx_top3",
    "json_props_stats", "kcore", "lang_rebalance", "link_prediction",
    "multimodal_bmp", "multimodal_dhash_neardup", "multimodal_jpeg",
    "multimodal_jpeg_dri", "multimodal_png", "multimodal_png_palette4",
    "multimodal_png_trns", "multimodal_wav", "multimodal_wav_pcm24",
    "ohlc_bars", "path_mining", "pit_join", "pmi_bigrams",
    "profile_columns", "repetition_stats", "sample_weighted",
    "seasonal_anomaly", "sequence_similarity", "split_leakage_free",
]
assert len(_NEXT_WINDOW_PLAN_R19) == 50


def _registry():
    from ha_sqllite_2_influxdb_spark.plans import ha_pipeline

    modules = [ha_pipeline]
    for name in ("analytics", "llm_ops", "streaming_ops", "influxql",
                 "influxql_text", "flux_text", "ha_stats", "monitoring"):
        try:
            mod = __import__(
                f"ha_sqllite_2_influxdb_spark.plans.{name}", fromlist=[name]
            )
            modules.append(mod)
        except ImportError:
            pass
    pool: dict[str, Callable] = {}
    oracles: dict[str, str] = {}
    for mod in modules:
        pool.update(getattr(mod, "QUERIES", {}))
        oracles.update(getattr(mod, "ORACLES", {}))
    queries: dict[str, Callable] = {n: pool.pop(n) for n in _DRIVER_WINDOW}
    queries.update(pool)
    return queries, oracles


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry()[0]


def oracle_sql() -> dict[str, str]:
    return _registry()[1]
