"""Fixed workload parameters of the graft benchmark (see README.md)."""

CURATE_ENTRIES = [
    "corpus_admit", "corpus_admit_verdicts", "dedup_minhash_verified",
    "dedup_containment", "dedup_substring_spans_mat",
    "chunk_dedup_semantic_mat", "embed_ann_ivf_pq",
]

REPORT_ENTRIES = [
    "q1_pricing", "q2_min_cost_supplier", "q3_shipping", "q4_priority_exists",
    "q5_region_rollup", "q6_forecast_revenue", "q7_nation_volume",
    "q8_market_share", "q9_product_profit", "q10_returned_customers",
    "q11_important_parts", "q12_priority_class", "q13_order_distribution",
    "q14_promo_share", "q15_top_supplier", "q16_supplier_diversity",
    "q17_small_qty_revenue", "q18_large_orders", "q19_bracket_revenue",
    "q20_dominant_supplier", "q21_sole_blame", "q22_churn_balance",
    "report_equidepth_merge", "event_daily_anomaly_robust",
    "lm_rebucket_delta", "report_event_freshness", "corpus_sample_quota",
    "sessionize", "event_stats", "window_hot_word", "top3_per_category",
]

CONFIG = {
    "default_seed": 1,
    # not used while the benchmark was tuned; checked once at the end
    "held_out_seed": 9001,
    "curate": {"entries": CURATE_ENTRIES, "sf": 0.001, "base_docs": 250,
               "replicas": 4, "parts": 4, "vectors": 1000},
    "report": {"entries": REPORT_ENTRIES, "sf": 0.01, "base_docs": 1000,
               "vectors": 500, "max_rounds": 64},
    "stream": {"vocab": 20000, "zipf": 1.1, "words_per_line": 10,
               "users": 1000, "blacklisted": 50, "file_interval_s": 0.05,
               "event_t0": 1_700_000_000, "event_s_per_file": 1,
               "warmup_s": 4.0, "segments": 3, "settle_s": 4.0, "lead_s": 0.5},
}
