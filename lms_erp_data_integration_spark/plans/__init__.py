from . import registry
from .registry import QUERIES, ORACLES, query, all_queries  # noqa: F401

# Importing the plan modules populates the registry.
from . import sync_queries  # noqa: F401, E402
from . import relational_queries  # noqa: F401, E402
from . import tpch_shapes  # noqa: F401, E402
from . import llm_queries  # noqa: F401, E402
from . import similarity_queries  # noqa: F401, E402  (split out of llm_queries at r8; registers the llm_sim_* / llm_emb_* family)
from . import streaming_queries  # noqa: F401, E402
from . import analytics_queries  # noqa: F401, E402
from . import tokenizer_queries  # noqa: F401, E402
from . import curation_queries  # noqa: F401, E402
from . import media_queries  # noqa: F401, E402
from . import sketch_queries  # noqa: F401, E402  (r8: HLL / Count-Min / Bloom)

# Window rotation rule: the external correctness gate checks the first
# 50 rows of all_queries(), which puts PRIORITY first. Keep the 8 sync
# rows pinned, then every row whose own plan source changed since its
# last check, then fill the window with the re-verification backlog:
# oldest last check first (CORRECTNESS_r*.json), alphabetical within a
# round. After rotating, stamp with scripts/update_checked_hashes.py;
# earlier windows are in git history and the CORRECTNESS_r*.json files.
registry.PRIORITY = [
    # core reference surface — pinned every round
    "sync_missing_faculty_users",
    "sync_missing_student_users",
    "sync_missing_courses",
    "sync_missing_sections",
    "sync_daily_enrollment",
    "sync_ctl_library_courses",
    "sync_ctl_library_sections",
    "sync_clean_users",
    # changed: sync_pipeline_run_report builds its report through
    # SyncPipeline.report and reports NULL sums for an empty update
    "sync_pipeline_run_report",
    # changed: broadcast hints go through hints.bounded_broadcast, and
    # rel_pagerank_parts no longer passes pagerank_micros a broadcast
    # flag; pagerank_micros no longer carries a constant cnt column
    "llm_corpus_curate",
    "llm_corpus_rebalance",
    "llm_domain_mix_doremi",
    "llm_emb_label_drift",
    "llm_heavy_hitters_cms",
    "llm_sim_pq_recall",
    "llm_text_unigram_lm",
    "rel_outlier_iqr",
    "rel_pagerank_parts",
    "rel_q10_returned_items",
    "rel_q11_important_parts",
    "rel_q15_top_supplier",
    "rel_q22_inactive_balance",
    "rel_q2_min_cost_supplier",
    "rel_q5_region_revenue",
    "rel_q7_volume_shipping",
    "rel_q8_market_share",
    "rel_q9_product_profit",
    "rel_quantile_sketch_audit_sampled",
    "rel_range_join_balance_bands",
    "rel_theta_setops",
    "stream_static_enrich",
    # backlog: last checked in r10, alphabetical
    "llm_dedup_rate_by_source",
    "llm_dup_span_detect",
    "llm_emb_ivf_append",
    "llm_emb_matryoshka_recall",
    "llm_emb_norm_stats",
    "llm_emb_quantize",
    "llm_memorization_span",
    "llm_pack_efficiency",
    "llm_sample_importance",
    "llm_sim_ivf_recall",
    "llm_text_entropy",
    "llm_tokenizer_fertility",
    "llm_winnow_fingerprint",
    "rel_cascade_delete_impact",
    "rel_cdc_log_compaction",
    "rel_dim_surrogate_keys",
    "rel_dq_expectations",
    "rel_event_burst_pairs",
    "rel_grouping_sets",
]
