"""Workload definitions: which inputs each one needs and which operations
one pass runs, in order. One client runs the operations back to back
(closed loop); each run is one fresh process, each pass a new Spark
application.
"""

from __future__ import annotations

# bench.HEADLINE minus dedup_duplicated_spans: the relational headline
OLAP = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_regional_revenue",
    "window_order_rank", "rollup_order_totals", "events_sessionize",
    "events_hourly_tumbling", "median_quantiles", "iqr_clip_quantity",
    "corr_matrix", "freq_encode_customer_name", "label_encode_orderstatus",
    "datetime_expand_orders", "histogram_extendedprice", "json_extract_props",
    "asof_last_order_before_event", "range_join_price_bands",
    "q4_order_priority", "q6_revenue_forecast", "cube_order_totals",
    "pivot_status_by_priority", "q7_nation_volume", "q8_market_share",
    "q9_profit_by_nation", "q13_order_distribution",
    "q18_large_volume_customers",
]

CURATION = [
    "dedup_minhash_lsh", "dedup_simhash", "dedup_duplicated_spans",
    "dedup_survivor_best_quality", "text_quality_score", "text_gopher_quality",
    "text_repetition_stats", "text_bpe_merges", "text_tfidf_top_terms",
    "boilerplate_grams_topk", "contamination_ngram_overlap", "sim_ivfpq_topk",
    "sim_knn_graph_adaptive", "dedup_semantic_clusters",
    "corpus_split_budget_dual",
]

# Three relational and three LLM-data queries: joins, aggregation, an as-of
# join, MinHash LSH, n-gram counting and a contamination check. The queries
# with heavy build-time fits (text_bpe_merges, sim_ivfpq_topk,
# dedup_semantic_clusters, corpus_split_budget_dual) take 3-7 s a pass each
# and do not fit the passes within the run budget; curation_sf0.1 below
# runs them by hand.
REGISTRY_MIX = [
    "q3_shipping_priority",          # queries_relational
    "q18_large_volume_customers",    # queries_tpch_extra
    "asof_last_order_before_event",  # queries_joins
    "dedup_minhash_lsh",             # queries_dedup
    "boilerplate_grams_topk",        # queries_curation
    "contamination_ngram_overlap",   # queries_corpus
]

# User-path operations, in run_pipeline's order.
READ, CLEAN, VIZ, TRAIN, LLM, RUN_PIPELINE = (
    "read", "clean", "viz", "train", "llm", "run_pipeline",
)
WRITE_SHARDS = "write_training_shards"

# warm_passes: untimed passes of the workload's operations (or of warm_ops)
# in the set-up, on the workload's own inputs, so that the timed passes run
# after the JVM's steepest warming.
# pass_s: nominal seconds of one warm pass on a 4-core host; run.py sizes
# the number of timed passes from it, never from a measurement.
WORKLOADS = {
    "report_f1": {
        "f1_rows": 5000,
        "ops": [READ, CLEAN, VIZ, LLM],
        "warm_passes": 2,
        "pass_s": 8,
    },
    "registry_sf0.01": {
        "sf": 0.01,
        "ops": REGISTRY_MIX + [WRITE_SHARDS],
        "warm_passes": 2,
        "pass_s": 6,
    },
    # Not in BENCHMARK.json: too long to repeat within the benchmark's time
    # budget (one train_model call alone runs for minutes). Run by hand.
    "olap_sf0.1": {"sf": 0.1, "ops": OLAP, "warm_passes": 1, "pass_s": 30},
    "curation_sf0.1": {
        "sf": 0.1,
        "ops": CURATION + [WRITE_SHARDS],
        "warm_passes": 1,
        "pass_s": 60,
    },
    "report_f1_train": {
        "f1_rows": 300,
        "ops": [READ, CLEAN, VIZ, TRAIN, LLM],
        "untraced_ops": [RUN_PIPELINE],
        "warm_ops": [READ, CLEAN, VIZ, LLM],
        "warm_passes": 1,
        "pass_s": 100,
    },
}

TARGET = "churn"
