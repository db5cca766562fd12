"""Physical-plan regression tests: lock the scale invariants that
SCALE.md claims — no cartesian products in registered queries, filters
pushed to scans, column-pruned reads. Runs at sf0.001 (plan SHAPE is
what's asserted; AQE may upgrade joins at tiny scale but never
introduces a cartesian product or un-pushes a filter)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"

# Queries whose plans intentionally contain a 1-row scalar broadcast
# (BroadcastNestedLoopJoin of a single aggregate row) — everything
# else must be free of nested-loop joins too.
SCALAR_JOIN_OK = {"rel_q11_important_parts", "rel_q15_top_supplier"}

SAMPLE = [
    "rel_q1_pricing_summary",
    "rel_q3_shipping_priority",
    "rel_q16_supplier_counts",
    "rel_q21_waiting_supplier",
    "sync_daily_enrollment",
    "llm_quality_gate",
    "llm_contamination_ngram",
    "rel_q11_important_parts",
    # bucketed self range-join: must stay an equi-join on
    # (user_id, bucket), never a nested-loop interval join
    "rel_event_burst_pairs",
]


def _executed_plan(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF_DIR)
    df.collect()  # materialize so AQE's final plan exists
    return df._jdf.queryExecution().executedPlan().toString()


SYNC_QUERIES = [
    "sync_missing_faculty_users",
    "sync_missing_student_users",
    "sync_missing_courses",
    "sync_missing_sections",
    "sync_daily_enrollment",
    "sync_ctl_library_courses",
    "sync_ctl_library_sections",
]


@pytest.mark.parametrize("name", SYNC_QUERIES)
def test_sync_family_no_forced_broadcast(spark, name):
    """r6 verdict #1 regression guard: every diff side in the sync
    family is a year-slice of a FACT table, so no registered sync
    query may carry a user broadcast hint — an explicit hint bypasses
    autoBroadcastJoinThreshold and hard-fails past Spark's 8 GB /
    512M-row broadcast limits at ~sf50-100. Join strategy is AQE's
    (which still picks broadcast at small scale from observed sizes;
    see tests/test_diff.py for the positive half)."""
    df = entry_mod.queries()[name](spark, SF_DIR)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in logical, name
    # positive control lives in test_dedup_apply_no_mandatory_broadcast


@pytest.mark.parametrize("name", SAMPLE)
def test_no_cartesian_product(spark, name):
    plan = _executed_plan(spark, name)
    assert "CartesianProduct" not in plan, name
    if name not in SCALAR_JOIN_OK:
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_q1_filter_pushdown_and_pruning(spark):
    plan = _executed_plan(spark, "rel_q1_pricing_summary")
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: the q1 scan must not read join keys it never uses
    read = plan.split("ReadSchema")[1][:400]
    assert "l_orderkey" not in read and "l_suppkey" not in read


def test_quality_gate_single_stage(spark):
    # a narrow filter pipeline: no Exchange at all in the final plan
    plan = _executed_plan(spark, "llm_quality_gate")
    assert "Exchange" not in plan


ANALYTICS_SAMPLE = [
    "rel_temporal_state_join",
    "rel_salted_distinct",
    "rel_triangle_count",
    "llm_corpus_divergence",
    "rel_lateral_topk",
    "rel_funnel_conversion",
    "rel_cohort_retention",
    "rel_scd2_user_history",
    "rel_pagerank_parts",
    "llm_text_unigram_lm",
    "rel_dq_expectations",
    "rel_incremental_agg_merge",
    "rel_mirror_drift_buckets",
    "rel_mirror_reconcile_rows",
    "rel_cdc_log_compaction",
    "rel_cascade_delete_impact",
    "llm_dedup_semantic_verified",
    "rel_join_size_profile",
]


def test_cdc_compaction_single_keyed_shuffle(spark):
    """Log compaction must cost exactly one keyed exchange (the window
    partitioning) — a second exchange would mean the plan re-shuffles
    the compacted output."""
    plan = _executed_plan(spark, "rel_cdc_log_compaction")
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1


def test_dq_expectations_single_fact_scan_for_row_checks(spark):
    """All five row-local checks fold into ONE aggregate: the executed
    plan must scan orders exactly twice total — once for the combined
    observation row, once for the FK anti-join — no matter how many
    checks the suite carries."""
    plan = _executed_plan(spark, "rel_dq_expectations")
    # AQE's toString repeats every scan under "== Initial Plan ==" —
    # count only the final-plan section
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("orders.parquet") == 2


@pytest.mark.parametrize("name", ANALYTICS_SAMPLE)
def test_analytics_no_cartesian_product(spark, name):
    plan = _executed_plan(spark, name)
    assert "CartesianProduct" not in plan, name


def test_array_hof_surface_no_shuffle(spark):
    # narrow per-row expressions: no Exchange in the final plan
    plan = _executed_plan(spark, "rel_array_hof_surface")
    assert "Exchange" not in plan


def test_scd2_filter_pushdown(spark):
    plan = _executed_plan(spark, "rel_scd2_user_history")
    assert "PushedFilters: [" in plan
    assert "user_id" in plan.split("PushedFilters")[1][:200]


def test_key_skew_profile_prunes_to_one_column(spark):
    plan = _executed_plan(spark, "rel_key_skew_profile")
    read = plan.split("ReadSchema")[1][:200]
    assert "o_custkey" in read
    assert "o_totalprice" not in read and "o_orderdate" not in read


def test_chunk_documents_shuffle_free(spark):
    # posexplode flatMap: rows multiply, nothing shuffles
    plan = _executed_plan(spark, "llm_chunk_documents")
    assert "Exchange" not in plan


def _final_plan(plan: str) -> str:
    # an AdaptiveSparkPlan string repeats nodes under "== Initial Plan
    # ==" — count structure only in the final section
    return plan.split("== Initial Plan ==")[0]


def test_shard_assignment_single_shuffle(spark):
    plan = _final_plan(_executed_plan(spark, "llm_shard_assignment"))
    assert plan.count("Exchange") == 1


def test_pack_sequences_no_global_sort(spark):
    # the packing window is PARTITIONED BY shard: exactly one shuffle
    # (on shard), and every Sort is per-partition (global=false) — a
    # global sort here would be the 100 TB bottleneck
    plan = _final_plan(_executed_plan(spark, "llm_pack_sequences"))
    assert plan.count("Exchange") == 1
    import re
    for m in re.finditer(r"Sort \[.*?\], (true|false),", plan):
        assert m.group(1) == "false", m.group(0)


def test_runtime_bloom_filter_injects(spark):
    """The session enables runtime bloom-filter join reduction; with
    the size thresholds scoped down, a selective dim filter feeding a
    shuffle join must inject a bloom_filter_agg on the fact side —
    the 100 TB semi-join reduction path."""
    from pyspark.sql import functions as F

    from lms_erp_data_integration_spark.catalog import Catalog

    scoped = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    try:
        cat = Catalog(spark, SF_DIR)
        sel = cat.orders.where(F.col("o_orderpriority") == "1-URGENT")
        agg = (
            cat.lineitem.join(sel, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert "bloom_filter_agg" in plan


def test_incremental_dedup_no_cartesian(spark):
    # batch-vs-index candidates come from the band equi-join only
    plan = _executed_plan(spark, "llm_dedup_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_apply_no_mandatory_broadcast(spark):
    """The loser set in llm_dedup_apply is corpus-proportional at scale
    (often 30%+ of docs), so its anti-join must carry NO user broadcast
    hint — the join strategy is AQE's choice. A hint would survive into
    the optimized logical plan as a `leftHint=`/`rightHint=(strategy=
    broadcast)` marker on the Join node; assert it is absent (AQE may
    still *choose* broadcast at sf0.001, which is fine and expected)."""
    df = entry_mod.queries()["llm_dedup_apply"](spark, SF_DIR)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in logical
    # Self-validating control: the same marker MUST appear on a frame
    # that is positively hinted, otherwise a Spark version that formats
    # JoinHint differently would make the absence assertion vacuous.
    assert "strategy=broadcast" in _hinted_control_plan(spark)


def _hinted_control_plan(spark):
    """Optimized-plan text of a join whose build side carries an
    explicit F.broadcast hint — the positive control for every
    'no broadcast hint' assertion in this module."""
    left = spark.range(10).withColumnRenamed("id", "k")
    right = spark.range(5).withColumnRenamed("id", "k")
    hinted = left.join(F.broadcast(right), "k")
    return hinted._jdf.queryExecution().optimizedPlan().toString()


def test_pagerank_broadcast_escape_hatch(spark):
    """pagerank_micros(broadcast_ranks=False) must emit NO broadcast
    hint — the rank vector is node-count-sized, and a forced broadcast
    at web-scale node counts would OOM the driver. The default (True)
    keeps the hint for catalog-sized graphs; both are asserted so the
    marker format stays self-validating."""
    from lms_erp_data_integration_spark.operators.graph import (
        pagerank_micros,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1)], "src long, dst long"
    )
    off = pagerank_micros(edges, 2, broadcast_ranks=False)
    assert (
        "strategy=broadcast"
        not in off._jdf.queryExecution().optimizedPlan().toString()
    )
    on = pagerank_micros(edges, 2, broadcast_ranks=True)
    assert (
        "strategy=broadcast"
        in on._jdf.queryExecution().optimizedPlan().toString()
    )
    # same exact integer result either way
    assert sorted(map(tuple, off.collect())) == sorted(
        map(tuple, on.collect())
    )


def test_salted_distinct_exchanges_carry_salt(spark):
    """The salted exact-distinct compiles to three keyed exchanges —
    (group, salt, key) for the distinct expansion, (group, salt) for
    the per-salt counts, (group) for the final merge. What matters for
    skew safety: EVERY exchange before the final 3-row merge carries
    the salt (or the full key), so no stage funnels a group's whole
    key set through one partition; and no Expand node appears."""
    plan = _final_plan(_executed_plan(spark, "rel_salted_distinct"))
    assert plan.count("Exchange hashpartitioning") == 3
    import re
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    wide = [k for k in keys if "_groupingexpression" in k or "custkey" in k]
    assert len(wide) == 2, keys  # only the final merge keys on group alone
    assert "Expand" not in plan


def test_lateral_topk_decorrelates(spark):
    """The correlated LATERAL LIMIT subquery must decorrelate into a
    ranked-window join (WindowGroupLimit pushdown) — never a per-outer-
    row re-execution (nested loop)."""
    plan = _executed_plan(spark, "rel_lateral_topk")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_value_histogram_single_wide_agg(spark):
    """The equi-width histogram reads one column and aggregates; the
    min/max pass is a 1-row broadcast, so the only hash exchange is
    the bucket count's."""
    plan = _final_plan(_executed_plan(spark, "rel_value_histogram"))
    read = plan.split("ReadSchema")[1][:200]
    assert "o_totalprice" in read
    assert "o_orderkey" not in read


def test_winnow_fingerprint_shuffle_free_selection(spark):
    # winnowing selection is a pure narrow fold: the only exchange in
    # the whole query is none at all (per-doc output, no aggregation)
    plan = _executed_plan(spark, "llm_winnow_fingerprint")
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_dup_span_detect_aggregates_before_join(spark):
    # the dup-side of the span join must be the AGGREGATED hash table
    # (one row per duplicated hash), never raw postings joined to raw
    # postings — and no nested-loop anywhere
    plan = _executed_plan(spark, "llm_dup_span_detect")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # partial aggregation runs map-side before the span-hash exchange
    assert "HashAggregate" in plan


def test_interval_overlap_offsets_broadcast(spark):
    # the two-phase cumsum joins the per-bucket offset table via
    # broadcast — the big deltas table must not shuffle for that join
    plan = _executed_plan(spark, "rel_interval_overlap")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_emb_label_drift_no_raw_vector_join(spark):
    # drift is computed on pre-aggregated (label, dim) integer sums;
    # the global-centroid join is a dim-sized broadcast and the plan
    # never joins raw embedding rows
    plan = _executed_plan(spark, "llm_emb_label_drift")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_postings_index_side_joins_without_exchange(spark):
    """Back the docstring claim the ingest-dedup family makes ('in
    production the index postings are persisted as a bucketed table'):
    a (band, band_key)-bucketed postings table must join the arriving
    batch's bands with ZERO exchange on the index side — only the
    (small) batch side shuffles to the bucket layout. At 100 TB this
    is the difference between re-shuffling the index per ingest and
    never moving it."""
    from lms_erp_data_integration_spark.catalog import Catalog
    from lms_erp_data_integration_spark.operators import dedup as dd

    docs = Catalog(spark, SF_DIR).documents
    index_df = docs.where(F.col("doc_id") % 5 != 0)
    sets = index_df.select(
        "doc_id",
        F.array_distinct(dd.shingle_array(F.col("text"), 3)).alias("shset"),
    )
    sigs = dd.minhash_signatures(sets, 16, sets_col="shset")
    postings = sigs.select(
        F.col("doc_id").alias("index_id"),
        F.posexplode(dd._band_keys(8, 2)).alias("band", "band_key"),
    )
    spark.sql("DROP TABLE IF EXISTS postings_bucketed")
    # a killed prior run can leave the managed location behind, which
    # blocks CREATE even after DROP; resolve the managed location from
    # the session's warehouse dir (cwd-relative paths miss it whenever
    # pytest runs from a different directory — r9 ADVICE)
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(
        spark.conf.get("spark.sql.warehouse.dir")
    ).path or spark.conf.get("spark.sql.warehouse.dir")
    shutil.rmtree(
        os.path.join(warehouse, "postings_bucketed"), ignore_errors=True
    )
    (
        postings.write.bucketBy(8, "band", "band_key")
        .sortBy("band", "band_key")
        .saveAsTable("postings_bucketed")
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_abc = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    try:
        # force the sort-merge path: at gate scale AQE broadcasts the
        # tiny batch side (index side equally exchange-free, but then
        # the bucketed mechanism itself goes unexercised). BOTH
        # thresholds must go to -1: the session factory sets the
        # adaptive one explicitly, and AQE re-converts the SMJ at
        # runtime if only the static conf is disabled.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
        )
        static = spark.table("postings_bucketed")
        batch = docs.where(F.col("doc_id") % 5 == 0).select(
            "doc_id",
            F.array_distinct(
                dd.shingle_array(F.col("text"), 3)
            ).alias("shset"),
        )
        bn = dd.minhash_signatures(batch, 16, sets_col="shset").select(
            F.col("doc_id").alias("new_id"),
            F.posexplode(dd._band_keys(8, 2)).alias("band", "band_key"),
        )
        joined = bn.join(static, ["band", "band_key"]).select(
            "new_id", "index_id"
        )
        joined.collect()
        plan = (
            joined._jdf.queryExecution().executedPlan().toString()
        ).split("== Initial Plan ==")[0]
        # the bucketed scan is consumed as-is: SMJ with bucket
        # metadata on the scan and NO exchange between the join and
        # the index-side scan (the batch side exchanges to the bucket
        # layout — that's the side that is allowed to move)
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
        # NO exchange anywhere on the index-side subtree: in the
        # depth-first printout the join's FIRST child's lines carry a
        # ":" rail, the second (index) child's lines do not — so the
        # index subtree is the rail-free lines between the join and
        # the bucketed scan. (A global exchange count would be
        # order-dependent: session state left by earlier tests can
        # legitimately change the batch side's shape.)
        lines = plan.splitlines()
        jidx = next(
            i for i, l in enumerate(lines) if "SortMergeJoin" in l
        )
        sidx = next(
            i
            for i, l in enumerate(lines)
            if "postings_bucketed" in l and "FileScan" in l
        )
        index_side = [
            l
            for l in lines[jidx + 1 : sidx + 1]
            if ":" not in l.split("+-")[0]
        ]
        assert index_side, plan
        assert not any("Exchange" in l for l in index_side), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        if prev_abc is None:
            spark.conf.unset(
                "spark.sql.adaptive.autoBroadcastJoinThreshold"
            )
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", prev_abc
            )
        spark.sql("DROP TABLE IF EXISTS postings_bucketed")


# ---------------------------------------------------------------------------
# Mandatory-broadcast audit (r11 verdict #2): the r11 decade-2 probe
# proved an unbounded F.broadcast() hint on a corpus-dependent build
# side blows spark.driver.maxResultSize at sf10 even though every gate
# scale passes (AQE converts from COMPRESSED shuffle sizes; the hint
# bypasses the threshold entirely). This audit keeps that class
# extinct the way the r5 HUGEINT guard does: every F.broadcast( site
# in the package must carry a one-line boundedness classification
# here, and a new site without one fails the suite. Classifications
# are prefixed with their bounded class:
#   scalar-agg:   a 1-row (or few-row constant) aggregate
#   fixed-dim:    a fixed-cardinality dimension (nation=25, region=5)
#   enum-bounded: group cardinality bounded by an enum/value domain
#                 (event_type, year, lang, pct, embedding dim index)
#   k-row:        bounded by an operator parameter (centroids k,
#                 nprobe list, sketch width, bucket count, top-k)
#   sketch-sized: a sketch/sample frame (bottom-k rows, CMS cells)
#   eval-bounded: a benchmark/eval probe set (small by construction)
#   caller-gated: hint applied only under a flag; every registered
#                 caller passes the scale-safe value for
#                 corpus-proportional inputs
# Corpus-proportional sides (supplier/part/customer slices, rank
# vectors, hot-shingle sets) must NOT appear here — remove the hint
# and let AQE decide (r11 dedup.py fix; r12 tpch/stream/pagerank
# fixes).

_PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "lms_erp_data_integration_spark",
)

BROADCAST_SITES = {
    # --- plans/analytics_queries.py
    ("plans/analytics_queries.py", "outlier_iqr", "q"):
        "enum-bounded: per-event_type quantile pair (event_type enum)",
    ("plans/analytics_queries.py", "text_unigram_lm", "tot"):
        "scalar-agg: 1-row corpus token total",
    ("plans/analytics_queries.py", "_divergence_frame", "ct"):
        "scalar-agg: 1-row corpus token total",
    ("plans/analytics_queries.py", "domain_mix_doremi", "tot"):
        "scalar-agg: 1-row (total tokens, n_sources)",
    ("plans/analytics_queries.py", "domain_mix_doremi", "norm"):
        "scalar-agg: 1-row score normalizer",
    ("plans/analytics_queries.py", "heavy_hitters_cms", "total"):
        "scalar-agg: 1-row grand total",
    ("plans/analytics_queries.py", "heavy_hitters_cms", "sketch"):
        "k-row: CMS_SEEDS x CMS_WIDTH sketch cells (constants)",
    # --- plans/curation_queries.py
    ("plans/curation_queries.py", "corpus_curate", "t"):
        "scalar-agg: 1-row kept-corpus total",
    ("plans/curation_queries.py", "corpus_curate", "rates"):
        "enum-bounded: per-lang keep rates (lang enum)",
    ("plans/curation_queries.py", "psi_report_from_scores", "edges"):
        "sketch-sized: ONE 9-edge decile row from the bottom-256 sample",
    ("plans/curation_queries.py", "psi_from_bucket_counts", "reft"):
        "scalar-agg: 1-row reference total",
    ("plans/curation_queries.py", "psi_from_bucket_counts", "refc"):
        "k-row: 10 decile-bucket reference counts",
    # --- plans/llm_queries.py
    ("plans/llm_queries.py", "corpus_rebalance", "t"):
        "scalar-agg: 1-row corpus total",
    ("plans/llm_queries.py", "_threshold_curve_frame", "nd"):
        "scalar-agg: 1-row document count",
    ("plans/llm_queries.py", "_threshold_curve_frame", "pl"):
        "k-row: one row per sweep threshold (5 constants)",
    ("plans/llm_queries.py", "_threshold_curve_frame", "dl"):
        "k-row: one row per sweep threshold (5 constants)",
    # --- plans/relational_queries.py
    ("plans/relational_queries.py", "q5_region_revenue", "cat.nation"):
        "fixed-dim: nation (25 rows at every SF)",
    ("plans/relational_queries.py", "q5_region_revenue", "cat.region"):
        "fixed-dim: region (5 rows at every SF)",
    ("plans/relational_queries.py", "q10_returned_items", "cat.nation"):
        "fixed-dim: nation",
    ("plans/relational_queries.py", "q22_inactive_balance", "avg_bal"):
        "scalar-agg: 1-row average balance",
    ("plans/relational_queries.py", "range_join_balance_bands", "stats"):
        "scalar-agg: 1-row min/max",
    ("plans/relational_queries.py", "range_join_balance_bands", "bands"):
        "k-row: 5 literal bands x the 1-row stats",
    # --- plans/similarity_queries.py
    ("plans/similarity_queries.py", "sim_pq_recall", "q"):
        "k-row: fixture query vectors (constant count)",
    ("plans/similarity_queries.py", "emb_label_drift", "gsum"):
        "enum-bounded: per-dimension totals (embedding dim index)",
    ("plans/similarity_queries.py", "_nprobe_curve_and_candidates", "c"):
        "k-row: IVF centroids (k constant)",
    ("plans/similarity_queries.py", "_nprobe_curve_and_candidates", "qc"):
        "k-row: query x centroid distances (constants)",
    ("plans/similarity_queries.py", "_nprobe_curve_and_candidates", "nq"):
        "scalar-agg: 1-row query count",
    ("plans/similarity_queries.py", "_nprobe_curve_and_candidates", "hits"):
        "k-row: one row per nprobe sweep point",
    ("plans/similarity_queries.py", "_nprobe_curve_and_candidates", "scan"):
        "k-row: one row per nprobe sweep point",
    # --- plans/sketch_queries.py
    ("plans/sketch_queries.py", "theta_setops",
     "pair.select('yr_a', 'yr_b', 'theta_min')"):
        "enum-bounded: year-pair grid (event years)",
    ("plans/sketch_queries.py", "theta_setops", "na"):
        "enum-bounded: per-year sketch sizes",
    ("plans/sketch_queries.py", "theta_setops", "nb"):
        "enum-bounded: per-year sketch sizes",
    ("plans/sketch_queries.py", "theta_setops", "exact_i"):
        "enum-bounded: year-pair exact intersections",
    ("plans/sketch_queries.py", "quantile_sketch_audit_sampled", "el"):
        "sketch-sized: 4 estimate rows per group from the bottom-k sample",
    ("plans/sketch_queries.py", "quantile_sketch_audit_sampled", "sn"):
        "enum-bounded: per-group slice counts",
    # --- plans/streaming_queries.py
    ("plans/streaming_queries.py", "stream_static_enrich",
     "cat.nation.select('n_nationkey', 'n_name')"):
        "fixed-dim: nation (the customer map side carries NO hint)",
    # --- plans/tpch_shapes.py
    ("plans/tpch_shapes.py", "q2_min_cost_supplier", "cat.nation"):
        "fixed-dim: nation",
    ("plans/tpch_shapes.py", "q2_min_cost_supplier",
     "cat.region.where(F.col('r_name') == 'EUROPE')"):
        "fixed-dim: region slice",
    ("plans/tpch_shapes.py", "q7_volume_shipping", "n1"):
        "fixed-dim: nation",
    ("plans/tpch_shapes.py", "q7_volume_shipping", "n2"):
        "fixed-dim: nation",
    ("plans/tpch_shapes.py", "q8_market_share", "n1"):
        "fixed-dim: nation",
    ("plans/tpch_shapes.py", "q8_market_share", "n2"):
        "fixed-dim: nation",
    ("plans/tpch_shapes.py", "q8_market_share",
     "cat.region.where(F.col('r_name') == 'AMERICA')"):
        "fixed-dim: region slice",
    ("plans/tpch_shapes.py", "q9_product_profit", "cat.nation"):
        "fixed-dim: nation",
    ("plans/tpch_shapes.py", "q11_important_parts", "nat"):
        "fixed-dim: single-nation slice",
    ("plans/tpch_shapes.py", "q11_important_parts", "total"):
        "scalar-agg: 1-row threshold",
    ("plans/tpch_shapes.py", "q15_top_supplier",
     "revenue.join(F.broadcast(top)).where("
     "F.col('total_revenue') == F.col('max_revenue'))"):
        "scalar-agg: scalar-MAX equality slice (ties of the max, ~1 row)",
    ("plans/tpch_shapes.py", "q15_top_supplier", "top"):
        "scalar-agg: 1-row max revenue",
    # --- operators/dedup.py
    ("operators/dedup.py", "cross_corpus_contamination", "ev"):
        "eval-bounded: benchmark-suite shingles (eval sets are small "
        "by construction; the TRAIN side is never hinted)",
    # --- operators/diff.py
    ("operators/diff.py", "_maybe_broadcast", "df"):
        "caller-gated: do_broadcast flag; callers pass it only for "
        "term-dimension mirrors",
    ("operators/diff.py", "scoped", "drifted"):
        "k-row: drifted bucket ids (<= n_buckets parameter)",
    # --- operators/graph.py
    ("operators/graph.py", "pagerank_micros", "deg"):
        "caller-gated: broadcast_ranks flag; rel_pagerank_parts passes "
        "False (part graph is corpus-proportional)",
    ("operators/graph.py", "side", "df"):
        "caller-gated: broadcast_ranks flag (see pagerank_micros)",
    ("operators/graph.py", "_iterate_with_dangling",
     "nodes.agg(F.count(F.lit(1)).alias('n_nodes'))"):
        "scalar-agg: 1-row node count",
    ("operators/graph.py", "_iterate_with_dangling",
     "rank.join(side(deg), F.col('node') == F.col('dsrc'), 'left_anti')"
     ".agg(F.coalesce(F.sum('r'), F.lit(0)).alias('dang_sum'))"):
        "scalar-agg: 1-row dangling mass",
    ("operators/graph.py", "triangle_count", "ne"):
        "scalar-agg: 1-row edge count",
    ("operators/graph.py", "triangle_count", "tri"):
        "scalar-agg: 1-row triangle count",
    # --- operators/profiling.py
    ("operators/profiling.py", "join_size_profile",
     "a.agg(F.count(F.lit(1)).alias('left_keys'))"):
        "scalar-agg: 1-row key count",
    ("operators/profiling.py", "join_size_profile",
     "b.agg(F.count(F.lit(1)).alias('right_keys'))"):
        "scalar-agg: 1-row key count",
    ("operators/profiling.py", "key_skew_profile", "t"):
        "scalar-agg: 1-row totals",
    ("operators/profiling.py", "equi_width_histogram", "mm"):
        "scalar-agg: 1-row min/max",
    # --- operators/relational.py
    ("operators/relational.py", "interval_max_concurrency", "offsets"):
        "k-row: per-(key, bucket) running offsets (bucket parameter)",
    # --- operators/similarity.py
    ("operators/similarity.py", "brute_force_topk", "q"):
        "k-row: query vectors (caller-bounded probe set)",
    ("operators/similarity.py", "ivf_assign", "c"):
        "k-row: IVF centroids",
    ("operators/similarity.py", "ivf_probe_assign", "c"):
        "k-row: IVF centroids",
    ("operators/similarity.py", "ivf_topk", "q_assigned"):
        "k-row: queries x nprobe assignments",
    ("operators/similarity.py", "kmeans_assignments", "state"):
        "k-row: k centroid state rows",
    ("operators/similarity.py", "kmeans_assignments", "seeds"):
        "k-row: g coarse seeds",
    ("operators/similarity.py", "kmeans_assignments", "gstate"):
        "k-row: g coarse cell states",
    ("operators/similarity.py", "kmeans_assignments", "cells"):
        "k-row: k centroid->cell assignments",
    ("operators/similarity.py", "_pq_parts", "cent"):
        "k-row: PQ codebook (subspaces x 256)",
    ("operators/similarity.py", "pq_adc_topk", "cent"):
        "k-row: PQ codebook",
    ("operators/similarity.py", "pq_adc_topk", "dtable"):
        "k-row: ADC distance table (queries x subspaces x 256)",
    # --- operators/sketches.py
    ("operators/sketches.py", "kmv_sketch",
     "est.select(*group_cols, bound.alias('_b'))"):
        "sketch-sized: per-group k-th minimum bound",
    ("operators/sketches.py", "bottomk_sample",
     "n.select(*group_cols, bound.alias('_b'))"):
        "sketch-sized: per-group k-th hash bound",
    # --- pipeline/layout.py
    ("pipeline/layout.py", "write_zorder", "mm"):
        "scalar-agg: 1-row per-column min/max",
}


def _walk_broadcast_sites():
    import ast

    found = []
    for root, _dirs, files in os.walk(_PKG_DIR):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, _PKG_DIR)
            tree = ast.parse(open(path).read())

            class V(ast.NodeVisitor):
                def __init__(self):
                    self.stack = ["<module>"]

                def visit_FunctionDef(self, n):
                    self.stack.append(n.name)
                    self.generic_visit(n)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, n):
                    f = n.func
                    if (
                        isinstance(f, ast.Attribute)
                        and f.attr == "broadcast"
                        and isinstance(f.value, ast.Name)
                        and f.value.id == "F"
                    ):
                        arg = ast.unparse(n.args[0]) if n.args else "?"
                        found.append((rel, self.stack[-1], arg))
                    self.generic_visit(n)

            V().visit(tree)
    return found


def test_every_broadcast_hint_is_classified_bounded():
    """r11 verdict #2: no mandatory F.broadcast() on a
    corpus-dependent build side. Mechanism: every site must carry a
    reviewed boundedness classification above; an unclassified site
    fails (forcing the review), and a removed site must drop its
    entry (keeping the table honest)."""
    found = _walk_broadcast_sites()
    unclassified = [s for s in found if s not in BROADCAST_SITES]
    assert not unclassified, (
        "F.broadcast( sites without a boundedness classification — "
        "either the build side is provably bounded (add a one-line "
        "entry to BROADCAST_SITES) or it is corpus-dependent (remove "
        f"the hint and let AQE decide): {unclassified}"
    )
    stale = [k for k in BROADCAST_SITES if k not in set(found)]
    assert not stale, f"stale BROADCAST_SITES entries: {stale}"
    bad_prefix = [
        k
        for k, v in BROADCAST_SITES.items()
        if not v.startswith(
            (
                "scalar-agg:",
                "fixed-dim:",
                "enum-bounded:",
                "k-row:",
                "sketch-sized:",
                "eval-bounded:",
                "caller-gated:",
            )
        )
    ]
    assert not bad_prefix, (
        f"classification must lead with a bounded class: {bad_prefix}"
    )
