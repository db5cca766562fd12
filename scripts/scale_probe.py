"""One-decade scale probe (r5 verdict #4): measure the heaviest
registered queries at sf0.1 AND a synthesized sf1.0, and report the
observed per-query scaling exponent, converting the "survives 100x"
design argument from prose to data.

The sf1.0 dataset is derived from the read-only sf0.1 drop by 10x
replication with STRUCTURE-PRESERVING namespace separation, built once
under /tmp/sfprobe/sf1.0:

- ``documents``: copy k suffixes every NON-STOPWORD token with
  ``_k`` — the shingle namespace of each copy is (cold-shingle)
  disjoint, so near-dup structure (cluster sizes, posting-list doc
  frequencies, hot-shingle caps) replicates exactly 10x instead of
  collapsing into cross-copy mega-clusters, while the per-copy
  STOPWORD RATIO matches the source exactly, so the Gopher-style
  quality gate admits replicated rows at the source rate (r7 verdict
  #3 — previously every suffixed token missed the stopword list and
  the curate/gate probes measured an under-grown downstream volume).
  All-stopword shingles do recur across copies, but those are
  hot-shingle-capped out of the candidate join by construction.
- ``embeddings``: copy k rotates each vector by 3*k dimensions,
  negating every element once the 64 distinct rotations are exhausted
  (k >= dim; both transforms are orthogonal) — norms and within-copy
  distances are preserved exactly (same cluster geometry per copy),
  while cross-copy vectors decorrelate so semantic dedup does not see
  inflated clusters even at 100 copies.
- ``lineitem``: copy k offsets order/part/supplier keys — ten
  disjoint co-purchase graphs with identical per-copy structure.
- ``customer`` / ``orders`` (r6 verdict #2, sync + relational
  families): copy k offsets cust/order keys coherently with lineitem
  (same k*10M stride), so FK joins land inside the copy and each
  year-slice grows exactly 10x; dates and mktsegments are untouched,
  preserving every filter's per-copy selectivity.
- ``events``: copy k offsets user/event ids; timestamps and values
  untouched, so each event_type's interval set grows 10x within the
  same time range — the per-partition stress the sweep-line two-phase
  cumsum is designed for.

Timing: min-of-2 ``bench.timed_run`` samples per (query, sf).
Usage: python scripts/scale_probe.py [out_dir] [--only q1,q2,...]
       python scripts/scale_probe.py --decade2 [--only q1,q2,...]
Results merge into scale_probe_result.json (existing rows for
unprobed queries are preserved).

``--decade2`` (r7 verdict #2) builds a 100x sf10 drop (documents +
embeddings only — the second-decade targets are all document/embedding
family) and measures sf1.0 -> sf10, recording ``sf10_sec`` and
``exponent2`` next to the first decade's numbers: one decade cannot
distinguish O(f(n)) from O(f(n) log n) or a fixed-constant collision
blowup whose onset is scale-dependent.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SRC = "/root/testdata/sf0.1"
COPIES = 10

PROBE_QUERIES = [
    "llm_dedup_clusters",
    "llm_dedup_apply",
    "llm_dedup_incremental",
    "llm_dedup_minhash_lsh",
    "llm_minhash_accuracy",
    "llm_dedup_semantic_verified",
    "llm_sim_kmeans_assign",
    "llm_quality_gate",
    "rel_triangle_count",
    "rel_pagerank_parts",
    # added post-r6-optimizations (winnowing single-eval rebind, the
    # composed curation pipeline)
    "llm_winnow_pairs",
    "llm_corpus_curate",
    # r6 verdict #2: the reference-core sync family + relational
    # heavyweights, so their scaling is measured rather than argued
    "sync_daily_enrollment",
    "sync_missing_sections",
    "rel_q18_large_orders",
    "rel_lateral_topk",
    "llm_text_tfidf_top_terms",
    "rel_interval_overlap",
    # streaming: a real watermarked streaming run over the replicated
    # events drop (bounded source -> one microbatch of 10x rows)
    "stream_events_hourly",
    # r7: distributed logistic-regression training (K aggregation
    # scans over a persisted narrow projection)
    "llm_quality_classifier",
    # late-r7: remaining dedup-family heavyweights
    "llm_dedup_simhash",
    "llm_dup_span_detect",
    "llm_contamination_ngram",
    # r8: the sketch family — shuffles are sketch-sized after map-side
    # combine, so these should probe strongly sub-linear
    "llm_sketch_hll_distinct",
    "llm_sketch_cms_heavy_hitters",
    "rel_bloom_semi_join",
    # r8: the composed pipeline runner post shared-frame persist
    "sync_pipeline_run_report",
    # late r8: theta set-ops and the bottom-k quantile sketch — the
    # exact_* audit columns are the only data-sized aggregates
    "rel_theta_setops",
    "rel_quantile_sketch",
    # r9: the audit half of the quantile split (verdict #3) — its
    # full-group exact sorts are the expensive path the production
    # row no longer carries
    "rel_quantile_sketch_audit",
    # r9: the new dedup-lifecycle rows — compaction is the repo's
    # heaviest bench row (three dedup passes by construction), the
    # streaming ingest row is the steady-state per-ingest cost
    "llm_dedup_index_compaction",
    "stream_dedup_ingest",
    # r9: the eval-leakage guard (incremental-dedup shape, sides
    # swapped)
    "llm_decontaminate_train",
    # r10: the composed ingest->append->compact lifecycle (per-batch
    # band joins against a GROWING index + terminal compaction), the
    # threshold-calibration scan, the DoReMi mix (KL frame + source-
    # sized tail), the cross-modal pair merge (text LSH side scales,
    # image side is the fixture), and the matryoshka recall audit
    # (5-query brute-force exact top-10 — linear in corpus by design)
    "stream_dedup_lifecycle",
    "llm_quality_calibration",
    "llm_domain_mix_doremi",
    "llm_crossmodal_dedup",
    "llm_emb_matryoshka_recall",
    # r10: memorization-span scan (train distinct-hash set + eval
    # semi-join + hit-position run-length)
    "llm_memorization_span",
    # r10: IVF append audit (broadcast-centroid narrow scans), its
    # streaming twin (stateless literal-centroid assignment), and the
    # recenter Lloyd step (posexplode mean + two assignment passes)
    "llm_emb_ivf_append",
    "stream_emb_ivf_append",
    "llm_emb_ivf_recenter",
    # r11: the recenter-trigger policy row (append audit + gated Lloyd
    # step — at the fixed thresholds the gate FIRES on this data, so
    # the probe measures the triggered path), cross-modal connected
    # components (pair-graph label propagation + cluster summaries),
    # and the sampled-slice quantile audit (slice scan + broadcast
    # estimate join, the row designed to replace the full-sort audit
    # at scale)
    "llm_emb_ivf_recenter_trigger",
    "llm_crossmodal_components",
    "rel_quantile_sketch_audit_sampled",
    # r11 (late): the compaction-trigger policy row (cheap per-band
    # collision stats + gated compaction — the gate FIRES on this
    # data, so the probe measures the triggered path) and the
    # cross-modal apply step (union-pair components + one anti-join)
    "llm_dedup_compaction_trigger",
    "llm_crossmodal_apply",
    # r11 (late): the PSI drift monitor (narrow scoring scan +
    # sketch-sized edge sample + source x 10 aggregates) and its
    # streaming twin (stateless literal-edge scoring, complete-mode
    # source x 10 state)
    "llm_quality_psi_by_source",
    "stream_quality_psi",
    # r11 (late): the nprobe tuning sweep (top-4-list candidates
    # scored once, explode over the sweep, fixed probe-query sample)
    # and the dedup threshold sweep (one exact-overlap pass + a 5-way
    # conditional explode of the collision-bounded pair frame)
    "llm_sim_ivf_nprobe_curve",
    "llm_dedup_threshold_curve",
    # r12: the calibrate->act composition rows — each costs its curve
    # plus ONE production pass at the chosen point (dedup: closure
    # over the chosen-threshold pair graph; quality: one more scan of
    # the persisted feature frame; ANN: one ivf_topk) — and the PSI
    # drift gate (the monitor's cost + one corpus-vs-verdict join)
    "llm_dedup_calibrated_apply",
    "llm_quality_calibrated_gate",
    "llm_sim_ivf_calibrated_search",
    "llm_quality_psi_gate",
    # r12 (late): the streaming quarantine gate — the monitor's cost
    # plus one stateless stream-static join pass
    "stream_quality_psi_gate",
    # r12 (late): the composed calibrated-curation capstone — the sum
    # of the quality/drift/dedup family costs + one flag-join
    # aggregate (the dedup pair pass is the linear-by-design term)
    "llm_corpus_curate_calibrated",
    # r12 (late): the streaming ANN serving twin — curve cost +
    # stateless per-query probe/score stream pass + batch top-k merge
    "stream_sim_ivf_search",
    # r12 (late): cross-document line dedup (ONE line-key shuffle
    # with map-side combine + one join back — the C4 boilerplate job;
    # expected near-linear, the frequency table is the data-sized
    # term) and takedown retraction (the component pass + a
    # k-cluster-row re-election aggregate)
    "llm_line_dedup",
    "llm_dedup_retract",
    # r12 (late): the line-dedup ingest twin — the batch frequency
    # pass (checkpointed) + one stateless stream pass of flag probes
    # + the batch per-doc merge over the append sink
    "stream_line_dedup",
    # r13: the transformWithStateInPandas rows — per-user typed state
    # through the RocksDB store over the replicated events drop; the
    # expected shape is the v1 stateful row's (streaming machinery
    # dominates at these scales, data term linear in events)
    "stream_tws_user_totals",
    "stream_tws_by_type",
    "stream_tws_timer_flush",
]


def build_sf1(
    out_dir: str, copies: int = COPIES, doc_emb_only: bool = False
) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ks AS SELECT unnest(range({copies})) AS k")

    if not os.path.exists(f"{out_dir}/documents.parquet"):
        from lms_erp_data_integration_spark.operators.text import STOPWORDS

        stop_sql = ", ".join(f"'{s}'" for s in STOPWORDS)
        # suffix only non-stopword tokens: per-copy stopword ratio ==
        # source ratio, so the quality gate admits copies at the
        # source rate (r7 verdict #3); documents are single-space
        # token streams (verified), so the split/join round-trip is
        # byte-faithful for k = 0 semantics
        con.execute(
            f"""
            COPY (
              SELECT doc_id, text, lang, source,
                     CAST(length(text) AS INT) AS n_chars
              FROM (
                SELECT d.doc_id + k * 1000000 AS doc_id,
                       CASE WHEN k = 0 THEN d.text
                            ELSE array_to_string(
                              list_transform(
                                string_split(d.text, ' '),
                                t -> CASE WHEN t = ''
                                            OR lower(t) IN ({stop_sql})
                                          THEN t
                                          ELSE t || '_' || k END),
                              ' ') END AS text,
                       d.lang, d.source
                FROM '{SRC}/documents.parquet' d, ks)
            ) TO '{out_dir}/documents.parquet' (FORMAT parquet)
            """
        )
    if not os.path.exists(f"{out_dir}/embeddings.parquet"):
        rot = (
            "e.embedding[(k*3) % len(e.embedding) + 1:]"
            " || e.embedding[1:(k*3) % len(e.embedding)]"
        )
        con.execute(
            f"""
            COPY (
              SELECT e.vec_id + k * 1000000 AS vec_id,
                     CASE WHEN k = 0 THEN e.embedding
                          WHEN k < len(e.embedding) THEN {rot}
                          ELSE list_transform({rot}, x -> -x)
                     END AS embedding,
                     e.label
              FROM '{SRC}/embeddings.parquet' e, ks
            ) TO '{out_dir}/embeddings.parquet' (FORMAT parquet)
            """
        )
    def replicate_keyed(table: str, keyed: dict[str, str]) -> None:
        if os.path.exists(f"{out_dir}/{table}.parquet"):
            return
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM '{SRC}/{table}.parquet'"
            ).fetchall()
        ]
        sel = ", ".join(f"{keyed.get(c, 'l.' + c)} AS {c}" for c in cols)
        con.execute(
            f"""
            COPY (SELECT {sel} FROM '{SRC}/{table}.parquet' l, ks)
            TO '{out_dir}/{table}.parquet' (FORMAT parquet)
            """
        )

    if doc_emb_only:
        # second-decade drop: the document/embedding family plus
        # ORDERS (r9 verdict #3: rel_quantile_sketch_audit is the one
        # >0.5-exponent row outside the doc family; its only input is
        # orders, replicated here with the standard key stride — 15M
        # rows at 100x, still /tmp-sized) plus EVENTS (r14, r13
        # verdict #4: stream_tws_by_type's 0.72 decade-1 exponent is
        # the one over-0.5 row previously closed by a linearity
        # argument instead of a measurement — the events drop at 100x
        # lets the decade-2 rule be satisfied by data). Fixed-
        # cardinality dims are copied so Catalog.register_all() still
        # resolves.
        replicate_keyed(
            "events",
            {
                "event_id": "l.event_id + k * 10000000",
                "user_id": "l.user_id + k * 10000000",
            },
        )
        replicate_keyed(
            "orders",
            {
                "o_orderkey": "l.o_orderkey + k * 10000000",
                "o_custkey": "l.o_custkey + k * 10000000",
            },
        )
        for t in ("region", "nation"):
            if not os.path.exists(f"{out_dir}/{t}.parquet"):
                con.execute(
                    f"""
                    COPY (SELECT * FROM '{SRC}/{t}.parquet')
                    TO '{out_dir}/{t}.parquet' (FORMAT parquet)
                    """
                )
        con.close()
        return
    if not os.path.exists(f"{out_dir}/lineitem.parquet"):
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM '{SRC}/lineitem.parquet'"
            ).fetchall()
        ]
        keyed = {
            "l_orderkey": "l.l_orderkey + k * 10000000",
            "l_partkey": "l.l_partkey + k * 10000000",
            "l_suppkey": "l.l_suppkey + k * 10000000",
        }
        sel = ", ".join(
            f"{keyed.get(c, 'l.' + c)} AS {c}" for c in cols
        )
        con.execute(
            f"""
            COPY (SELECT {sel} FROM '{SRC}/lineitem.parquet' l, ks)
            TO '{out_dir}/lineitem.parquet' (FORMAT parquet)
            """
        )

    # key strides match lineitem's so FK joins stay within-copy
    replicate_keyed("customer", {"c_custkey": "l.c_custkey + k * 10000000"})
    replicate_keyed(
        "orders",
        {
            "o_orderkey": "l.o_orderkey + k * 10000000",
            "o_custkey": "l.o_custkey + k * 10000000",
        },
    )
    replicate_keyed(
        "events",
        {
            "event_id": "l.event_id + k * 10000000",
            "user_id": "l.user_id + k * 10000000",
        },
    )
    replicate_keyed("part", {"p_partkey": "l.p_partkey + k * 10000000"})
    replicate_keyed(
        "supplier", {"s_suppkey": "l.s_suppkey + k * 10000000"}
    )
    # dimension tables stay 1x (region/nation are fixed-cardinality in
    # TPC-H at every SF); needed so Catalog.register_all() resolves
    for t in ("region", "nation"):
        if not os.path.exists(f"{out_dir}/{t}.parquet"):
            con.execute(
                f"""
                COPY (SELECT * FROM '{SRC}/{t}.parquet')
                TO '{out_dir}/{t}.parquet' (FORMAT parquet)
                """
            )
    con.close()


# second-decade targets (r7 verdict #2): the five worst first-decade
# exponents — one decade cannot separate the designed class from a
# log factor or a scale-dependent collision onset
# llm_dedup_retract's decade-1 min (0.76) sits above the 0.5 bar, but
# it is deliberately NOT a decade-2 target: the 100x drop replicates
# every document 100x, which turns each kept document into a
# 100-member exact-dup CLIQUE — the shared cluster pass's pair volume
# then grows quadratically in the REPLICATION FACTOR by construction
# of the synthetic drop (C(100,2) pairs per surviving shingle), not in
# corpus size. The retract LAYER itself (membership join + k-row
# re-election + join back, the only new code) was measured at sf10
# over a materialized copy-group cluster relation: 3.3 s sf1.0 /
# 1.2 s sf10 — flat. Production consumes the lifecycle rows'
# maintained cluster state per takedown rather than recomputing the
# pair graph, so the layer measurement is the scale-relevant one
# (SCALE.md has the full adjudication).
DECADE2_QUERIES = [
    "llm_sim_kmeans_assign",
    "llm_dedup_semantic_verified",
    "llm_dup_span_detect",
    "llm_winnow_pairs",
    "llm_dedup_minhash_lsh",
    # r9 (r8 verdict #4): every remaining probed query whose
    # first-decade exponent exceeded ~0.5 without a second-decade
    # entry. llm_dedup_incremental and rel_q18_large_orders read
    # lineitem/orders-family tables, which the sf10 doc/emb-only
    # drop does not replicate — document-family targets only here.
    "llm_minhash_accuracy",
    "llm_contamination_ngram",
    "llm_text_tfidf_top_terms",
    "llm_dedup_incremental",
    # r9 rows above the 0.5 first-decade bar: compaction is linear by
    # design (a maintenance job must touch every index signature
    # once); decade 2 checks no hidden super-linear term
    "llm_dedup_index_compaction",
    "stream_dedup_ingest",
    "llm_decontaminate_train",
    # r10 rows above the 0.5 first-decade bar: the cross-modal row's
    # text side is a full MinHash-LSH pass (0.81 decade 1), the
    # matryoshka audit is 5-query brute force (0.53 — linear by
    # design; decade 2 checks nothing hides above it)
    "llm_crossmodal_dedup",
    "llm_emb_matryoshka_recall",
    # r10 (r9 verdict #3): the audit half of the quantile split read
    # 0.75 over decade 1 — orders is now replicated into the sf10
    # drop so the claim "the exact per-group sorts are the only
    # data-sized cost" is measured over a second decade too
    "rel_quantile_sketch_audit",
    # r10: memorization span read 0.66 over decade 1 — above the bar
    "llm_memorization_span",
    # r11 (late): the dedup threshold sweep read 0.60 over decade 1
    # (the exact-overlap pair pass is the linear-by-design term after
    # the sweep-floor filter) — above the bar
    "llm_dedup_threshold_curve",
    # r11: cross-modal components read 0.69 over decade 1 (the text
    # LSH pair side dominates, same as llm_crossmodal_dedup) — above
    # the bar, so the label-propagation + cluster-summary tail is
    # checked over a second decade too
    "llm_crossmodal_components",
    # r11 (late): compaction trigger 0.56 and cross-modal apply 0.61
    # over decade 1 — both above the bar (signing the index / the
    # text LSH side are the linear-by-design terms; decade 2 checks
    # nothing hides above them)
    "llm_dedup_compaction_trigger",
    "llm_crossmodal_apply",
    # r12: the calibrate->apply composition read 0.96 over decade 1
    # (the exact-overlap pair pass + chosen-point closure are the
    # linear-by-design terms, same class as the threshold curve it
    # composes) — above the bar; decade 2 checks nothing hides above
    # the designed class
    "llm_dedup_calibrated_apply",
    # r12 (late): the calibrated-curation capstone read 0.76 over
    # decade 1 (its dedup stage is the same linear-by-design term) —
    # above the bar
    "llm_corpus_curate_calibrated",
    # r14 (r13 verdict #4): the TWS MapState row read 0.72 over
    # decade 1 — the data term is per-key pandas work in the Python
    # TWS worker, linear in events by construction; the events table
    # now replicates into the sf10 drop so the claim is measured,
    # not argued
    "stream_tws_by_type",
    # r14 optimization round: the streaming ANN serving row read 0.59
    # over decade 1 after its §2.6 leg overlap (embeddings-family —
    # replicated in the sf10 drop); above the 0.5 bar, so the
    # "constants, not scaling" claim is measured over a second decade
    "stream_sim_ivf_search",
]


def merge_decade1_rows(
    merged: dict, rows: list[tuple[str, float, float, float]]
) -> None:
    """Fold freshly-probed decade-1 (query, sf0.1, sf1.0, exponent)
    rows into the consolidated record IN PLACE. Per-field min across
    runs (tenancy noise only ever inflates), and the OLD row is
    spread first so a decade-1 improvement never erases the row's
    decade-2 fields (sf1_0_dec2_sec / sf10_sec / exponent2 — a review
    pass caught the unfactored merge dropping llm_dup_span_detect's
    second-decade record; pinned by
    ``tests/test_registry.py::test_probe_merge_preserves_decade2``)."""
    for n, a, b, _e in rows:
        old = merged.get(n)
        if old and old["sf0_1_sec"] <= round(a, 3) and old[
                "sf1_0_sec"] <= round(b, 3):
            continue
        merged[n] = {
            **(old or {}),
            "query": n,
            "sf0_1_sec": round(min(a, old["sf0_1_sec"]) if old else a, 3),
            "sf1_0_sec": round(min(b, old["sf1_0_sec"]) if old else b, 3),
            "exponent": round(
                math.log10(
                    (min(b, old["sf1_0_sec"]) if old else b)
                    / (min(a, old["sf0_1_sec"]) if old else a)
                ),
                3,
            ),
        }


def min_of_2(spark, fn, sf_dir: str, name: str) -> float:
    """The faster of two ``bench.timed_run`` samples; a failed run
    raises with its reason instead of timing as -1.0."""
    import bench

    errors: dict[str, str] = {}
    best = min(bench.timed_run(spark, sf_dir, errors, fn, name) for _ in range(2))
    if errors:
        raise RuntimeError(f"{name}: {errors[name]}")
    return best


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    only: list[str] = []
    decade2 = "--decade2" in sys.argv[1:]
    for a in sys.argv[1:]:
        if a.startswith("--only"):
            only = a.split("=", 1)[1].split(",") if "=" in a else []
    if not only and "--only" in sys.argv[1:]:
        i = sys.argv.index("--only")
        only = sys.argv[i + 1].split(",")
        args = [a for a in args if a != sys.argv[i + 1]]
    if decade2:
        return main_decade2(only)
    probe_queries = [q for q in PROBE_QUERIES if not only or q in only]
    out_dir = args[0] if args else "/tmp/sfprobe/sf1.0"
    build_sf1(out_dir)
    for t in ("documents", "embeddings", "lineitem"):
        con = duckdb.connect()
        n = con.sql(
            f"SELECT COUNT(*) FROM '{out_dir}/{t}.parquet'"
        ).fetchone()[0]
        print(f"built {t}: {n} rows", flush=True)
        con.close()

    import __spark_entry__ as entry_mod
    from lms_erp_data_integration_spark.session import get_spark

    qs = entry_mod.queries()

    rows = []
    for name in probe_queries:
        # ONE SESSION PER QUERY: a single long session degrades over
        # dozens of heavy iterative queries (localCheckpoint RDDs from
        # pagerank/k-means/label-propagation rounds linger until JVM
        # GC; measured: llm_corpus_curate read 70 s at sf0.1 late in a
        # 40-job session vs 6.3 s in a fresh one). The ~10 s session
        # spin-up is excluded by the warm-up query below.
        spark = get_spark(app_name=f"scale_probe_{name}")
        spark.range(1_000_000).selectExpr("sum(id)").collect()

        t01 = min_of_2(spark, qs[name], SRC, name)
        t10 = min_of_2(spark, qs[name], out_dir, name)
        spark.stop()
        exp = math.log10(t10 / t01)
        rows.append((name, t01, t10, exp))
        print(
            f"{name:32s} sf0.1={t01:7.2f}s sf1.0={t10:8.2f}s "
            f"exponent={exp:5.2f}",
            flush=True,
        )

    print("\n| query | sf0.1 s | sf1.0 s | observed exponent |")
    print("|---|---|---|---|")
    for name, t01, t10, exp in rows:
        print(f"| {name} | {t01:.2f} | {t10:.2f} | {exp:.2f} |")
    # merge into the consolidated record: probed queries replace their
    # rows, everything else is preserved
    try:
        with open("scale_probe_result.json") as f:
            doc = json.load(f)
        prior = doc["results"] if isinstance(doc, dict) else doc
        note = doc.get("note", "") if isinstance(doc, dict) else ""
        merged = {r["query"]: r for r in prior}
    except (OSError, ValueError):
        merged, note = {}, ""
    merge_decade1_rows(merged, rows)
    with open("scale_probe_result.json", "w") as f:
        json.dump(
            {
                "note": note or "min across probe passes",
                "results": [
                    merged[q] for q in PROBE_QUERIES if q in merged
                ],
            },
            f,
            indent=1,
        )
    return 0


def main_decade2(only: list[str]) -> int:
    """Measure sf1.0 -> sf10 for the worst-exponent queries and merge
    ``sf10_sec`` / ``exponent2`` into scale_probe_result.json."""
    sf1_dir = "/tmp/sfprobe/sf1.0"
    sf10_dir = "/tmp/sfprobe/sf10"
    build_sf1(sf1_dir)
    build_sf1(sf10_dir, copies=100, doc_emb_only=True)
    for t in ("documents", "embeddings"):
        con = duckdb.connect()
        n = con.sql(
            f"SELECT COUNT(*) FROM '{sf10_dir}/{t}.parquet'"
        ).fetchone()[0]
        print(f"sf10 {t}: {n} rows", flush=True)
        con.close()

    import __spark_entry__ as entry_mod
    from lms_erp_data_integration_spark.session import get_spark

    qs = entry_mod.queries()
    targets = [q for q in DECADE2_QUERIES if not only or q in only]
    rows = []
    for name in targets:
        spark = get_spark(app_name=f"scale_probe2_{name}")
        spark.range(1_000_000).selectExpr("sum(id)").collect()

        t1 = min_of_2(spark, qs[name], sf1_dir, name)
        t10 = min_of_2(spark, qs[name], sf10_dir, name)
        spark.stop()
        exp2 = math.log10(t10 / t1)
        rows.append((name, t1, t10, exp2))
        print(
            f"{name:32s} sf1.0={t1:7.2f}s sf10={t10:8.2f}s "
            f"exponent2={exp2:5.2f}",
            flush=True,
        )

    print("\n| query | sf1.0 s | sf10 s | second-decade exponent |")
    print("|---|---|---|---|")
    for name, t1, t10, exp2 in rows:
        print(f"| {name} | {t1:.2f} | {t10:.2f} | {exp2:.2f} |")
    try:
        with open("scale_probe_result.json") as f:
            doc = json.load(f)
        merged = {r["query"]: r for r in doc["results"]}
        note = doc.get("note", "")
    except (OSError, ValueError, KeyError):
        merged, note = {}, ""
    for n, t1, t10, e2 in rows:
        row = merged.setdefault(n, {"query": n})
        # min across passes, consistent with the first-decade merge
        t1m = min(t1, row.get("sf1_0_dec2_sec", t1))
        t10m = min(t10, row.get("sf10_sec", t10))
        row["sf1_0_dec2_sec"] = round(t1m, 3)
        row["sf10_sec"] = round(t10m, 3)
        row["exponent2"] = round(math.log10(t10m / t1m), 3)
    with open("scale_probe_result.json", "w") as f:
        json.dump(
            {
                "note": note or "min across probe passes",
                "results": [
                    merged[q] for q in PROBE_QUERIES if q in merged
                ],
            },
            f,
            indent=1,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
