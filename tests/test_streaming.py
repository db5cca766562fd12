"""Structured Streaming smoke tests (SURVEY.md M8): file-source stream
driven to completion via the memory sink, compared against batch twins."""

from __future__ import annotations

import pytest

from lms_erp_data_integration_spark.catalog import Catalog
from lms_erp_data_integration_spark.plans import QUERIES
from lms_erp_data_integration_spark.streaming import (
    hourly_event_counts,
    running_user_totals,
)
from lms_erp_data_integration_spark.streaming.windows import (
    events_stream,
    run_to_memory_sink,
    sliding_event_value,
)
from pyspark.sql import functions as F


def test_streaming_hourly_matches_batch(spark, sf_dir):
    stream = hourly_event_counts(events_stream(spark, sf_dir))
    got = run_to_memory_sink(stream, "hourly_out")
    batch = QUERIES["rel_events_hourly"](spark, sf_dir)
    s = {
        (r["hour"], r["event_type"]): (r["n"], r["total_value"])
        for r in got.collect()
    }
    b = {
        (r["hour"], r["event_type"]): (r["n"], r["total_value"])
        for r in batch.collect()
    }
    assert s == b  # streaming result == batch twin, bit-for-bit


def test_sliding_windows_overlap(spark, sf_dir):
    got = run_to_memory_sink(
        sliding_event_value(events_stream(spark, sf_dir)), "sliding_out"
    )
    n_events = Catalog(spark, sf_dir).events.count()
    # 1h window sliding by 15min: every event lands in exactly 4 windows
    assert got.agg(F.sum("n")).first()[0] == 4 * n_events


def test_stateful_running_totals(spark, sf_dir):
    stream = running_user_totals(events_stream(spark, sf_dir))
    got = run_to_memory_sink(stream, "state_out", mode="update")
    # last emission per user must equal the batch per-user totals
    latest = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    batch = (
        Catalog(spark, sf_dir)
        .events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert {
        (r["user_id"], r["n_events"]) for r in latest.collect()
    } == {(r["user_id"], r["n_events"]) for r in batch.collect()}


def test_registered_streaming_queries_match_batch(spark, sf_dir):
    """The two registered streaming queries (the ones the driver
    hash-checks) produce exactly their batch-twin answers."""
    from lms_erp_data_integration_spark.plans.registry import QUERIES

    hourly = QUERIES["stream_events_hourly"](spark, sf_dir)
    batch = QUERIES["rel_events_hourly"](spark, sf_dir)
    key = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert key(hourly) == key(batch)

    totals = QUERIES["stream_stateful_user_totals"](spark, sf_dir)
    batch_totals = (
        Catalog(spark, sf_dir)
        .events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias(
                "total_value_micros"
            ),
        )
    )
    assert key(totals) == key(batch_totals)


def _has_protobuf() -> bool:
    # real distribution or the vendored pbshim — either unblocks the
    # TWS worker protocol (session.get_spark resolves the same way)
    from lms_erp_data_integration_spark.vendor import ensure_protobuf

    return ensure_protobuf() != "missing"


def test_tws_plan_builds(spark, sf_dir):
    """transformWithStateInPandas: plan construction + schema are real
    even where the protobuf runtime dependency is missing."""
    from lms_erp_data_integration_spark.streaming.tws import (
        tws_running_user_totals,
    )
    from lms_erp_data_integration_spark.streaming.windows import events_stream

    out = tws_running_user_totals(events_stream(spark, sf_dir))
    assert out.isStreaming
    assert out.schema.simpleString() == (
        "struct<user_id:bigint,n_events:bigint,total_value_micros:bigint>"
    )


@pytest.mark.skipif(
    not _has_protobuf(), reason="TWS execution needs the protobuf package"
)
def test_tws_by_type_map_and_list_state(spark, sf_dir):
    """The MapState + ListState legs of the TWS protocol execute and
    the registered row equals the batch aggregate (r13)."""
    from pyspark.sql import functions as SF

    from lms_erp_data_integration_spark.catalog import Catalog
    from lms_erp_data_integration_spark.plans.streaming_queries import (
        stream_tws_by_type,
    )

    got = {
        (r["user_id"], r["event_type"]): (
            r["n_events"], r["total_value_micros"], r["user_rows"],
            r["user_total_micros"],
        )
        for r in stream_tws_by_type(spark, sf_dir).collect()
    }
    ev = Catalog(spark, sf_dir).events.select(
        "user_id", "event_type",
        SF.round(SF.col("value") * 1_000_000).cast("long").alias("v"),
    )
    per = ev.groupBy("user_id", "event_type").agg(
        SF.count(SF.lit(1)).alias("n"), SF.sum("v").alias("t")
    )
    u = per.groupBy("user_id").agg(
        SF.sum("n").alias("ur"), SF.sum("t").alias("ut")
    )
    want = {
        (r["user_id"], r["event_type"]): (r["n"], r["t"], r["ur"], r["ut"])
        for r in per.join(u, "user_id").collect()
    }
    assert got == want


@pytest.mark.skipif(
    not _has_protobuf(), reason="TWS execution needs the protobuf package"
)
def test_tws_event_time_timer_flush(spark, sf_dir):
    """Event-time timers (r13): nothing is emitted until the watermark
    crosses the fixed absolute expiry, then exactly one flush row per
    user carrying the batch-equal totals and the expiry timestamp."""
    from pyspark.sql import functions as SF

    from lms_erp_data_integration_spark.catalog import Catalog
    from lms_erp_data_integration_spark.plans.streaming_queries import (
        stream_tws_timer_flush,
    )
    from lms_erp_data_integration_spark.streaming.tws import (
        TIMER_FLUSH_AT_MS,
    )

    rows = stream_tws_timer_flush(spark, sf_dir).collect()
    assert all(r["fired_at_ms"] == TIMER_FLUSH_AT_MS for r in rows)
    got = {
        r["user_id"]: (r["n_events"], r["total_value_micros"])
        for r in rows
    }
    assert len(got) == len(rows)  # exactly one flush per user
    ev = Catalog(spark, sf_dir).events
    want = {
        r["user_id"]: (r["n"], r["t"])
        for r in ev.groupBy("user_id")
        .agg(
            SF.count(SF.lit(1)).alias("n"),
            SF.sum(
                SF.round(SF.col("value") * 1_000_000).cast("long")
            ).alias("t"),
        )
        .collect()
    }
    assert got == want


@pytest.mark.skipif(
    not _has_protobuf(), reason="TWS execution needs the protobuf package"
)
def test_tws_executes_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as SF

    from lms_erp_data_integration_spark.streaming.tws import (
        tws_running_user_totals,
    )
    from lms_erp_data_integration_spark.streaming.windows import (
        events_stream,
        run_to_memory_sink,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = run_to_memory_sink(
            tws_running_user_totals(events_stream(spark, sf_dir)),
            "tws_exec_test",
            mode="update",
        )
        got = {
            r["user_id"]: (r["n_events"], r["total_value_micros"])
            for r in out.groupBy("user_id")
            .agg(SF.max(SF.struct("n_events", "total_value_micros")).alias("s"))
            .select("user_id", "s.*")
            .collect()
        }
    finally:
        spark.conf.unset(key)
    from lms_erp_data_integration_spark.catalog import Catalog

    ev = Catalog(spark, sf_dir).events
    want = {
        r["user_id"]: (r["n"], r["t"])
        for r in ev.groupBy("user_id")
        .agg(
            SF.count(SF.lit(1)).alias("n"),
            SF.sum(SF.round(SF.col("value") * 1_000_000).cast("long")).alias("t"),
        )
        .collect()
    }
    assert got == want


def test_streaming_multimodal_decode(spark, tmp_path):
    """The multimodal decode stage runs UNCHANGED on a stream:
    mapInPandas over a file-source stream of binary payloads (the
    "decode shards as they land" deployment), driven through the
    memory sink in append mode (stateless narrow map — no watermark
    involvement)."""
    import numpy as np

    from lms_erp_data_integration_spark.operators import multimodal as mm
    from lms_erp_data_integration_spark.operators.jpeg import encode_jpeg
    from lms_erp_data_integration_spark.streaming.windows import (
        run_to_memory_sink,
    )
    from pyspark.sql import types as T

    src = tmp_path / "payloads"
    jpg = encode_jpeg(np.full((6, 4, 3), 80, np.uint8), quality=95)
    ppm = b"P6\n2 2\n255\n" + bytes(range(12))
    spark.createDataFrame(
        [(1, bytearray(jpg)), (2, bytearray(ppm)), (3, b"junk")],
        "doc_id long, payload binary",
    ).write.parquet(str(src))

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(str(src))
    decoded = mm.extract_image_meta(stream)
    got = {
        r["doc_id"]: r
        for r in run_to_memory_sink(
            decoded, "mm_stream_out", mode="append"
        ).collect()
    }
    assert set(got) == {1, 2, 3}
    assert (got[1]["width"], got[1]["height"]) == (4, 6)  # real JPEG
    assert got[2]["channels"] == 3  # real PPM
    assert got[3]["n_bytes"] == 4  # junk -> deterministic fake row


def test_stream_dedup_ingest_matches_batch_incremental(spark, sf_dir):
    """The streaming ingest-dedup row must produce exactly the batch
    llm_dedup_incremental answer on the bounded source — same pairs,
    same Jaccard values (the stream-static band join and the
    stateless streaming signatures are the only moving parts)."""
    from lms_erp_data_integration_spark.plans.registry import QUERIES

    stream = QUERIES["stream_dedup_ingest"](spark, sf_dir)
    batch = QUERIES["llm_dedup_incremental"](spark, sf_dir)
    key = lambda df: {  # noqa: E731
        (r["new_id"], r["index_id"], r["jaccard"]) for r in df.collect()
    }
    got, want = key(stream), key(batch)
    assert got == want and len(got) > 0


def test_dedup_lifecycle_final_index_matches_batch_unroll(spark, sf_dir):
    """The streaming foreachBatch ingest loop must produce the SAME
    final index CONTENT (doc ids, not just the oracle-checked counts)
    as a plain-batch greedy unroll of the identical policy — the
    stream==batch equivalence for the batch->index APPEND edge."""
    from lms_erp_data_integration_spark.operators import dedup as dd
    from lms_erp_data_integration_spark.plans.streaming_queries import (
        _run_dedup_lifecycle,
    )

    docs = Catalog(spark, sf_dir).documents
    rows, final_sets, compacted = _run_dedup_lifecycle(spark, docs)
    stream_ids = {r.doc_id for r in final_sets.select("doc_id").collect()}

    def _sets(d):
        return d.select(
            "doc_id",
            F.array_distinct(dd.shingle_array(F.col("text"), 3)).alias(
                "shset"
            ),
        )

    mod = 4
    state = _sets(docs.where(F.col("doc_id") % mod == 0)).localCheckpoint(
        eager=True
    )
    for k in range(1, mod):
        bsets = _sets(docs.where(F.col("doc_id") % mod == k)
                      ).localCheckpoint(eager=True)
        matched = (
            dd.incremental_minhash_duplicates(
                None, None, threshold=0.8, num_hashes=16, bands=8,
                shingle_n=3, index_sets=state, batch_sets=bsets,
            )
            .select(F.col("new_id").alias("doc_id"))
            .distinct()
        )
        surv = bsets.join(matched, "doc_id", "left_anti").localCheckpoint(
            eager=True
        )
        dropped_within = (
            dd.minhash_near_duplicates(
                None, threshold=0.8, num_hashes=16, bands=8,
                shingle_n=3, sets=surv,
            )
            .select(F.col("j").alias("doc_id"))
            .distinct()
        )
        kept = surv.join(dropped_within, "doc_id", "left_anti")
        state = state.unionByName(kept).localCheckpoint(eager=True)
    batch_ids = {r.doc_id for r in state.select("doc_id").collect()}

    assert stream_ids == batch_ids
    # compaction keeps a subset; every stage conserves its arrivals
    assert {r.doc_id for r in compacted.collect()} <= stream_ids
    for (_sid, _st, n_in, d_idx, d_within, n_app, _sz) in rows[:-1]:
        assert n_in == d_idx + d_within + n_app


def test_dedup_lifecycle_empty_residue_class_emits_zero_row(spark):
    """An EMPTY residue class produces no micro-batch, but the summary
    must still carry its zero-count stage row with the index size
    carried forward — matching the oracle, which unconditionally
    emits K+1 rows (r10 ADVICE #1)."""
    from lms_erp_data_integration_spark.plans.streaming_queries import (
        _run_dedup_lifecycle,
    )

    docs = (
        Catalog(spark, "/root/testdata/sf0.001")
        .documents.where(F.col("doc_id") % 4 != 2)
        .localCheckpoint(eager=True)
    )
    rows, _final, _compacted = _run_dedup_lifecycle(spark, docs)
    by_stage = {r[0]: r for r in rows}
    assert sorted(by_stage) == [1, 2, 3, 4], rows
    stage2 = by_stage[2]
    # (stage_id, stage, n_in, n_dropped_vs_index, n_dropped_within,
    #  n_appended, index_size_after)
    assert stage2[2:6] == (0, 0, 0, 0)
    # index size carried forward from stage 1, and stage 3 builds on it
    assert stage2[6] == by_stage[1][6]
    assert by_stage[3][6] == stage2[6] + by_stage[3][5]


def test_dedup_lifecycle_replay_after_commit_reproduces_counts(spark):
    """r11 ADVICE #2: foreachBatch's at-least-once contract can
    redeliver a batch whose first attempt died AFTER the state
    checkpoint but BEFORE its results entry landed. The retried stage
    must reproduce the original counts bit-identically (the probe
    excludes the committed keepers' index entries, detected by their
    committed-id overlap) and must NOT re-append keeper rows
    to the index."""
    from lms_erp_data_integration_spark.plans.streaming_queries import (
        _run_dedup_lifecycle,
    )

    docs = (
        Catalog(spark, "/root/testdata/sf0.001")
        .documents.localCheckpoint(eager=True)
    )
    rows_plain, final_plain, _ = _run_dedup_lifecycle(spark, docs)
    rows_replay, final_replay, _ = _run_dedup_lifecycle(
        spark, docs, replay_stage=2
    )
    assert rows_replay == rows_plain
    ids_plain = {r.doc_id for r in final_plain.select("doc_id").collect()}
    # full content (with multiplicity) — a double-append would keep the
    # id SET equal while duplicating rows
    n_rows_replay = final_replay.count()
    ids_replay = {
        r.doc_id for r in final_replay.select("doc_id").collect()
    }
    assert ids_replay == ids_plain
    assert n_rows_replay == len(ids_plain)


def test_stream_quality_psi_gate_equals_batch_gate(spark, sf_dir):
    """The streaming quarantine gate (monitor stream -> kept-source
    verdict -> stream-static join) must reproduce the batch gate's
    curated corpus exactly — same retained doc_ids, same per-doc PSI
    audit values. At the production constant every small sf0.001
    source drifts (the monitor's documented small-slice caveat), so
    the sets are compared BOTH there (legitimately empty, still
    equal) and at a data-derived mid line where both branches carry
    rows."""
    from lms_erp_data_integration_spark.catalog import Catalog
    from lms_erp_data_integration_spark.plans.curation_queries import (
        quality_psi_gate_frame,
        quality_psi_report,
    )
    from lms_erp_data_integration_spark.plans.streaming_queries import (
        stream_quality_psi_gate_frame,
    )

    docs = Catalog(spark, sf_dir).documents

    def key(rows):
        return {
            (r.doc_id, r.lang, r.source, r.psi_total_micro)
            for r in rows
        }

    got = key(stream_quality_psi_gate_frame(spark, sf_dir).collect())
    want = key(quality_psi_gate_frame(docs).collect())
    assert got == want

    totals = sorted(
        r.psi_total_micro
        for r in quality_psi_report(docs)
        .groupBy("source")
        .agg(F.max("psi_total_micro").alias("psi_total_micro"))
        .collect()
    )
    mid = int(totals[len(totals) // 2])
    got_mid = key(
        stream_quality_psi_gate_frame(
            spark, sf_dir, drift_micro=mid
        ).collect()
    )
    want_mid = key(
        quality_psi_gate_frame(docs, drift_micro=mid).collect()
    )
    assert got_mid == want_mid and got_mid


def test_stream_sim_ivf_search_equals_batch_search(spark, sf_dir):
    """The streaming ANN serving twin (query stream -> literal
    multi-probe assignment -> stream-static candidate join -> batch
    top-k merge) must reproduce the batch calibrate->search row
    exactly: same chosen point, same per-rank neighbors, identical
    scores (both sides evaluate the same cosine expression on the
    same data)."""
    from lms_erp_data_integration_spark.catalog import Catalog
    from lms_erp_data_integration_spark.plans.similarity_queries import (
        sim_ivf_calibrated_search_frame,
    )
    from lms_erp_data_integration_spark.plans.streaming_queries import (
        stream_sim_ivf_search,
    )

    got = {
        (r.query_id, r.rank): (
            r.neighbor_id, r.score, r.chosen_nprobe, r.met_target
        )
        for r in stream_sim_ivf_search(spark, sf_dir).collect()
    }
    want = {
        (r.query_id, r.rank): (
            r.neighbor_id, r.score, r.chosen_nprobe, r.met_target
        )
        for r in sim_ivf_calibrated_search_frame(
            spark, Catalog(spark, sf_dir).embeddings
        ).collect()
    }
    assert got == want and got


def test_dedup_lifecycle_replay_all_empty_shingle_keepers(spark):
    """Regression (r12 review): a replayed batch whose committed
    keepers ALL have empty shingle sets (docs shorter than shingle_n
    tokens carry a set row but NO postings) used to evade the
    band-self-collision replay detection and re-append every keeper.
    The committed-id overlap detection must catch it: counts
    reproduce and the final index carries each keeper exactly once."""
    from lms_erp_data_integration_spark.plans.streaming_queries import (
        _run_dedup_lifecycle,
    )

    base = (
        Catalog(spark, "/root/testdata/sf0.001")
        .documents.select("doc_id", "text")
    )
    # residue class 2 (mod 4): replace every doc's text with a
    # two-token string -> empty 3-shingle set -> no postings, always
    # a keeper; other classes keep their real text
    docs = base.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 2, F.lit("a b"))
        .otherwise(F.col("text"))
        .alias("text"),
    ).localCheckpoint(eager=True)

    rows_plain, final_plain, _ = _run_dedup_lifecycle(spark, docs)
    rows_replay, final_replay, _ = _run_dedup_lifecycle(
        spark, docs, replay_stage=2
    )
    assert rows_replay == rows_plain
    # stage 2's keepers are exactly its inputs (nothing can match or
    # pair without shingles)
    by_stage = {r[0]: r for r in rows_plain}
    assert by_stage[2][5] == by_stage[2][2] and by_stage[2][2] > 0
    ids_plain = {r.doc_id for r in final_plain.select("doc_id").collect()}
    ids_replay = {
        r.doc_id for r in final_replay.select("doc_id").collect()
    }
    assert ids_replay == ids_plain
    # multiplicity: a double-append keeps the id SET equal while
    # duplicating rows
    assert final_replay.count() == len(ids_plain)


def test_stream_line_dedup_equals_batch(spark, sf_dir):
    """The ingest twin must reproduce the batch per-doc retention
    report bit-for-bit on a bounded stream (shared-oracle contract)."""
    from lms_erp_data_integration_spark.operators import dedup as dd
    from lms_erp_data_integration_spark.catalog import Catalog
    from lms_erp_data_integration_spark.plans.streaming_queries import (
        stream_line_dedup,
    )

    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_lines"],
            r["n_dropped_lines"],
            r["kept_tokens"],
        )
        for r in stream_line_dedup(spark, sf_dir).collect()
    }
    want = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_lines"],
            r["n_dropped_lines"],
            r["kept_tokens"],
        )
        for r in dd.line_dedup_stats(
            Catalog(spark, sf_dir).documents
        ).collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.skipif(
    not _has_protobuf(), reason="TWS execution needs the protobuf package"
)
def test_tws_by_type_null_event_type(spark, tmp_path):
    """A NULL event_type is a group to the SQL oracle, so the MapState
    leg must carry it as a real SQL NULL key (r14, ADVICE): pandas
    groupby(dropna=False) yields float('nan') — not None — as the
    missing-group key on object columns, and an un-normalized NaN
    would either error the string-keyed MapState or mint a spurious
    'nan' string key."""
    import datetime as dt

    from lms_erp_data_integration_spark.plans.streaming_queries import (
        _rocksdb_provider,
    )
    from lms_erp_data_integration_spark.streaming.tws import (
        tws_user_event_type_stats,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, "click", base, 1.0),
        (1, None, base, 2.0),
        (1, None, base, 3.0),
        (2, None, base, 5.0),
    ]
    src = str(tmp_path / "nullet")
    spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, value double"
    ).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(
            "user_id long, event_type string, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with _rocksdb_provider(spark):
        out = run_to_memory_sink(
            tws_user_event_type_stats(stream), "tws_nullet", mode="update"
        )
    got = {
        (r["user_id"], r["event_type"]): (
            r["n_events"],
            r["total_value_micros"],
        )
        for r in out.collect()
    }
    assert got == {
        (1, "click"): (1, 1_000_000),
        (1, None): (2, 5_000_000),
        (2, None): (1, 5_000_000),
    }


@pytest.mark.skipif(
    not _has_protobuf(), reason="TWS execution needs the protobuf package"
)
def test_tws_timer_flush_multi_batch_single_emit(spark, tmp_path):
    """One flush row per user EVER, even when the source spans several
    data micro-batches (r14, ADVICE): the flush reclaims the
    accumulators, so without the never-cleared ``flushed`` marker a
    post-flush batch would read as first sight, re-register the
    already-past expiry, and emit a SECOND partial row per user."""
    import datetime as dt

    from lms_erp_data_integration_spark.plans.streaming_queries import (
        _rocksdb_provider,
    )
    from lms_erp_data_integration_spark.streaming.tws import (
        TIMER_FLUSH_AT_MS,
        tws_timer_flush_totals,
    )

    src = str(tmp_path / "multibatch")
    base = dt.datetime(2024, 1, 1)
    # three separate files -> three data micro-batches at
    # maxFilesPerTrigger=1; every user appears in every file so any
    # double-emission is per-user visible
    for i in range(3):
        spark.createDataFrame(
            [
                (u, base + dt.timedelta(hours=i), float(10 * u + i))
                for u in (1, 2)
            ],
            "user_id long, ts timestamp, value double",
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with _rocksdb_provider(spark):
        out = run_to_memory_sink(
            tws_timer_flush_totals(stream), "tws_multibatch", mode="append"
        )
    rows = out.collect()
    # the contract under test: exactly one emission per user
    assert sorted(r["user_id"] for r in rows) == [1, 2]
    for r in rows:
        # internal consistency: the log and the accumulator agree on
        # whatever was accumulated by flush time (post-flush batches
        # are dropped by design — the session is closed out)
        assert r["logged_rows"] == r["n_events"]
        assert r["logged_total_micros"] == r["total_value_micros"]
        assert r["fired_at_ms"] == TIMER_FLUSH_AT_MS
        assert r["n_events"] >= 2  # at least the first file's rows


def test_stream_checkpoint_restart_recovers_state(spark, sf_dir, tmp_path):
    """Exactly-once across restart: aggregate two slices of events,
    stop, land a third slice, restart from the SAME checkpoint — the
    restarted query must process only the new file (offset log) and
    its complete-mode output must equal the batch aggregate over all
    three slices (state store recovery), not double-count the old ones."""
    from lms_erp_data_integration_spark.catalog import Catalog

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    ev = Catalog(spark, sf_dir).events.select("event_id", "event_type")
    for sl in (0, 1):
        ev.where(F.col("event_id") % 3 == sl).repartition(1).write.mode(
            "append"
        ).parquet(src)

    def start(name):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return (
            stream.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start("ckpt_run1")
    q1.awaitTermination(120)
    two_slices = {
        r["event_type"]: r["n"] for r in spark.sql(
            "SELECT * FROM ckpt_run1"
        ).collect()
    }

    ev.where(F.col("event_id") % 3 == 2).repartition(1).write.mode(
        "append"
    ).parquet(src)
    q2 = start("ckpt_run2")
    q2.awaitTermination(120)
    got = {
        r["event_type"]: r["n"] for r in spark.sql(
            "SELECT * FROM ckpt_run2"
        ).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert got == want
    # and the first run really did hold only the two-slice state
    part = {
        r["event_type"]: r["n"]
        for r in ev.where(F.col("event_id") % 3 != 2)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert two_slices == part
