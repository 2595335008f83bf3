"""The benchmark's workloads: data, sink and exact query mix of each.

A run executes its workload's mix once per pass, in an order drawn from
the seed, after one untimed warm-up query. Each mix is sized so that one
pass takes about PASS_S seconds on a 4-core machine. No mix holds a query that
writes outside the run's directory: the bucketed-layout twins
(`*_bkt_*`), the `src_*` format round trips and the `stream_*` queries
use fixed `/tmp/graft_*` paths, so none of them is run (see README.md).
"""

# Interactive: a systematic sample (evenly spaced by name within each
# family, in proportion to the family's size) of the graft.ops families.
INTERACTIVE = [
    "agg_corr_cov", "agg_describe", "agg_group_ols", "agg_mode", "agg_ohlc",
    "agg_skew_kurt", "agg_value_counts_series",
    "join_asof_backward", "join_asof_nearest", "join_inner", "join_range_bands",
    "join_skew_salted",
    "win_ewm_ignore_na", "win_expanding", "win_rolling_center", "win_rolling_quantile",
    "win_rolling_time",
    "rs_cube", "rs_from_dummies", "rs_pivot_fill", "rs_transpose",
    "sel_filter_regex_cols", "sel_multiindex_levels", "sel_sample_mod", "sel_truncate",
    "q12_late_priority", "q18_large_orders", "q22_global_sales", "q7_nation_volume",
    "ts_business_day", "ts_funnel", "ts_resample_day", "ts_tz_convert",
    "set_concat_keys", "set_factorize", "set_scd2",
    "str_encode_decode", "str_right_ops",
    "na_ffill_limit", "na_isna_fillna",
]

# Batch: graft.Bench headline shapes, the exact-percentile engine, and
# TPC-H queries, at sf1.
BATCH = [
    "q1_groupby_agg", "join_inner", "rs_pivot", "ts_resample_day", "join_asof_native",
    "agg_median_quantile", "agg_spearman",
    "q3_shipping_priority", "q6_forecast_revenue", "q13_cust_distribution", "q14_promo_share",
    "q15_top_supplier", "q17_small_qty", "q22_global_sales",
]

# Curation: the graft.pipeline families (dedup, similarity, text,
# pipeline composites, multimodal), headline shapes first. Runnable by
# hand; not in BENCHMARK.json, whose one-hour evaluation budget holds two
# workloads at a steady run length (see README.md).
CURATION = [
    "dedup_minhash_pairs", "dedup_exact_rows", "dedup_simhash",
    "sim_cosine_topk", "sim_lsh_ann", "sim_lsh_buckets",
    "txt_tokens", "txt_tfidf", "txt_bigrams", "txt_quality", "txt_langid",
    "pipe_curation", "pipe_pack_sequences", "pipe_token_budget",
    "mm_image_decode", "mm_wav_decode",
]

# scale: replication factor of the sf0.01 fixture (1 = the fixture itself)
WORKLOADS = {
    "interactive": {"queries": INTERACTIVE, "scale": 1, "sink": "collect"},
    "batch_sf1": {"queries": BATCH, "scale": 100, "sink": "parquet"},
    "curation": {"queries": CURATION, "scale": 1, "sink": "parquet"},
}

# seconds of timed work one pass over a mix takes on a 4-core machine; a
# run makes max(1, round(seconds / PASS_S)) passes
PASS_S = 30

# the warm-up query every run's set-up ends with, always on the fixture:
# it loads and compiles the scan/aggregate path before timing starts
WARMUP = "q1_groupby_agg"
