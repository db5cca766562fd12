"""Registered Structured Streaming queries (SURVEY.md M8).

Each entry drives a REAL streaming execution (file source ->
watermarked aggregation -> memory sink, ``processAllAvailable``) to
completion and returns the sink contents as a batch DataFrame — so the
driver's correctness harness hash-checks an actual streaming run
against the same DuckDB oracle as the batch twin. On a bounded input
the stream must produce exactly the batch answer; these queries prove
that end-to-end, not just in pytest.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..hints import bounded_broadcast
from ..streaming.windows import (
    documents_stream,
    events_stream,
    hourly_event_counts,
    run_to_memory_sink,
)
from .llm_queries import _LINE_DEDUP_ORACLE, _incremental_minhash_oracle
from .registry import query

# the streaming ingest-dedup row shares the batch row's oracle: on a
# bounded input the stream must produce exactly the batch answer
_incremental_oracle_sql = _incremental_minhash_oracle()

# memory-sink names are session-global; a counter keeps repeat
# invocations (parity + bench in one session) from colliding
_SINK_SEQ = itertools.count()


@query(
    "stream_events_hourly",
    """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY date_trunc('hour', ts), event_type
""",
)
def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window hourly counts, same oracle as the
    batch ``rel_events_hourly``: watermarked event-time aggregation
    over the events file stream, complete-mode memory sink (a bounded
    source never advances the watermark past the tail windows, so
    append would withhold them)."""
    out = run_to_memory_sink(
        hourly_event_counts(events_stream(spark, sf_dir)),
        f"stream_events_hourly_{next(_SINK_SEQ)}",
    )
    return out.select(
        F.col("hour").cast("timestamp_ntz"), "event_type", "n", "total_value"
    )


@query(
    "stream_stateful_user_totals",
    """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
         AS total_value_micros
FROM events GROUP BY user_id
""",
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) driven as a
    real stream and hash-checked: per-user running totals in exact
    integer micro-units (int64 state — order-independent, so the final
    state equals the SQL aggregate bit-for-bit on a bounded source)."""
    from ..streaming.stateful import running_user_totals_micros

    out = run_to_memory_sink(
        running_user_totals_micros(events_stream(spark, sf_dir)),
        f"stream_stateful_user_totals_{next(_SINK_SEQ)}",
        mode="update",
    )
    # update-mode sink keeps one row per (user, micro-batch); the final
    # state is the row with the highest n_events (strictly increasing
    # across batches — total_value_micros alone could decrease when
    # values go negative, so max over the struct, not the columns)
    return (
        out.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value_micros")).alias("_s"))
        .select("user_id", "_s.n_events", "_s.total_value_micros")
    )


from contextlib import contextmanager  # noqa: E402


@contextmanager
def _rocksdb_provider(spark: SparkSession):
    """TWS requires the RocksDB state-store provider; scope the
    session conf to the query run and restore whatever was set (one
    definition for every TWS row — a drifted copy would silently run
    one query against the wrong provider)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


@query(
    "stream_tws_user_totals",
    """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
         AS total_value_micros
FROM events GROUP BY user_id
""",
)
def stream_tws_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``transformWithStateInPandas`` twin of
    ``stream_stateful_user_totals`` — the SAME per-user exact-integer
    running totals through Spark 4's typed-state API (ValueState
    handle + RocksDB state store) instead of v1's
    ``applyInPandasWithState``, hash-checked against the same batch
    oracle. The protobuf worker protocol runs on the vendored shim
    when the real distribution is absent (``vendor/pbshim``).

    Scale posture: identical to the v1 row — state shards by user_id
    across the RocksDB store; TWS adds the typed list/map/timer/TTL
    surface without changing the partitioning story."""
    from ..streaming.tws import tws_running_user_totals

    with _rocksdb_provider(spark):
        out = run_to_memory_sink(
            tws_running_user_totals(events_stream(spark, sf_dir)),
            f"stream_tws_user_totals_{next(_SINK_SEQ)}",
            mode="update",
        )
    # same final-state extraction as the v1 row: update-mode sink keeps
    # one row per (user, micro-batch); n_events is strictly increasing
    return (
        out.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value_micros")).alias("_s"))
        .select("user_id", "_s.n_events", "_s.total_value_micros")
    )


@query(
    "stream_tws_by_type",
    """
WITH per AS (
  SELECT user_id, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
           AS total_value_micros
  FROM events GROUP BY user_id, event_type
), u AS (
  SELECT user_id, CAST(SUM(n_events) AS BIGINT) AS user_rows,
         CAST(SUM(total_value_micros) AS BIGINT) AS user_total_micros
  FROM per GROUP BY user_id
)
SELECT per.user_id, per.event_type, per.n_events,
       per.total_value_micros, u.user_rows, u.user_total_micros
FROM per JOIN u USING (user_id)
""",
)
def stream_tws_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MapState surface of transformWithStateInPandas, driven end
    to end: per-user MapState (event_type -> exact integer (count,
    sum)) via the getValue/containsKey/updateValue/iterator protocol
    legs, with the per-user roll-up in a ValueState accumulator (the
    ListState log-read pattern lives in ``stream_tws_timer_flush``,
    where the log is scanned exactly once at flush instead of per
    batch) — over the real events stream, hash-checked against the
    per-(user, type) SQL aggregate with a per-user roll-up
    (order-independent integers, so the bounded-stream final state
    equals the batch answer exactly)."""
    from ..streaming.tws import tws_user_event_type_stats

    with _rocksdb_provider(spark):
        out = run_to_memory_sink(
            tws_user_event_type_stats(events_stream(spark, sf_dir)),
            f"stream_tws_by_type_{next(_SINK_SEQ)}",
            mode="update",
        )
    # update-mode sink keeps one row set per (user, micro-batch);
    # user_rows is strictly increasing per user, so the max struct per
    # (user, event_type) is that pair's LAST emission
    return (
        out.groupBy("user_id", "event_type")
        .agg(
            F.max(
                F.struct(
                    "user_rows", "n_events", "total_value_micros",
                    "user_total_micros",
                )
            ).alias("_s")
        )
        .select(
            "user_id", "event_type", "_s.n_events",
            "_s.total_value_micros", "_s.user_rows",
            "_s.user_total_micros",
        )
    )


@query(
    "stream_tws_timer_flush",
    """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
         AS total_value_micros,
       CAST(COUNT(*) AS BIGINT) AS logged_rows,
       CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
         AS logged_total_micros,
       CAST(946684800000 AS BIGINT) AS fired_at_ms
FROM events GROUP BY user_id
""",
)
def stream_tws_timer_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME TIMERS + the one-scan ListState log read: totals
    accumulate silently in ValueState and an append-only ListState
    value log, and the ONLY output is the per-user timer flush when
    the watermark crosses the fixed 2000-01-01 expiry (registered
    idempotently from every batch) — the timer-driven finalize
    pattern (session close-out) in Append mode. The flush row carries
    BOTH the accumulator totals and the log-derived totals and the
    oracle pins them equal, so a log/accumulator divergence fails the
    hash. Deterministic because the expiry is a fixed ABSOLUTE
    event-time instant on a watermarked bounded source;
    processing-time timers would be wall-clock and stay out of the
    oracle surface."""
    from ..streaming.tws import tws_timer_flush_totals

    with _rocksdb_provider(spark):
        out = run_to_memory_sink(
            tws_timer_flush_totals(events_stream(spark, sf_dir)),
            f"stream_tws_timer_flush_{next(_SINK_SEQ)}",
            mode="append",
        )
    # append-mode sink: exactly one flush row per user, no extraction
    return out.select(
        "user_id", "n_events", "total_value_micros", "logged_rows",
        "logged_total_micros", "fired_at_ms",
    )


@query(
    "stream_dq_gate",
    """
SELECT COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_error_events,
       CAST(SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS nonpositive_value,
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS null_user,
       CAST(SUM(CASE WHEN event_type NOT IN
              ('view','click','signup','purchase','error')
            THEN 1 ELSE 0 END) AS BIGINT) AS bad_event_type
FROM events
""",
)
def stream_dq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``rel_dq_expectations``: the data-quality
    observation an ingest pipeline keeps continuously updated — error
    rate, value bounds, null keys, domain membership — as ONE global
    streaming aggregate in complete mode, hash-checked against the
    whole-table oracle (on a bounded source the final observation must
    equal the batch answer exactly).

    Scale: violation counters are algebraic (conditional sums), so the
    streaming state is a single constant-size row regardless of event
    volume — the cheapest possible always-on DQ monitor; per-key
    variants shard the same state by key like
    ``stream_stateful_user_totals``."""
    ev = events_stream(spark, sf_dir)
    gate = ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("event_type") == "error").cast("long")).alias(
            "n_error_events"
        ),
        F.sum((F.col("value") <= 0).cast("long")).alias("nonpositive_value"),
        F.sum(F.col("user_id").isNull().cast("long")).alias("null_user"),
        F.sum(
            (
                ~F.col("event_type").isin(
                    "view", "click", "signup", "purchase", "error"
                )
            ).cast("long")
        ).alias("bad_event_type"),
    )
    return run_to_memory_sink(
        gate, f"stream_dq_gate_{next(_SINK_SEQ)}", mode="complete"
    )


@query(
    "stream_session_windows",
    """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events WHERE user_id <= 10 WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM gaps),
agg AS (
  SELECT user_id, MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         COUNT(*) AS n_events
  FROM sessions GROUP BY user_id, sid),
wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events WHERE user_id <= 10)
SELECT user_id, session_start, session_end, n_events
FROM agg, wm WHERE session_end < w
""",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session_window run as a REAL append-mode stream: the
    bounded source's final watermark (max ts - 1 h) withholds open tail
    sessions, and the oracle applies the identical cutoff — so the
    hash-check verifies both the gap-merge semantics and the
    append-mode emission rule."""
    from ..streaming.windows import session_event_windows

    out = run_to_memory_sink(
        session_event_windows(events_stream(spark, sf_dir)),
        f"stream_session_windows_{next(_SINK_SEQ)}",
        mode="append",
    )
    return out.select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz"),
        F.col("session_end").cast("timestamp_ntz"),
        "n_events",
    )


@query(
    "stream_attribution_join",
    """
SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
       a.ts AS view_ts, b.ts AS purchase_ts
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'purchase'
 AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
""",
)
def stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join driven as a REAL stream (two filtered
    views of the same watermarked file stream, time-range join
    condition → bounded state): on a bounded source the emitted match
    set equals the batch join bit-for-bit, which the oracle checks."""
    from ..streaming.windows import attribution_join

    out = run_to_memory_sink(
        attribution_join(events_stream(spark, sf_dir)),
        f"stream_attribution_join_{next(_SINK_SEQ)}",
        mode="append",
    )
    return out.select(
        "user_id",
        "view_id",
        "purchase_id",
        F.col("view_ts").cast("timestamp_ntz"),
        F.col("purchase_ts").cast("timestamp_ntz"),
    )


@query(
    "stream_sliding_counts",
    """
WITH w AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts)
           - k * INTERVAL '15 minutes' AS window_start
  FROM events, unnest([0, 1, 2, 3]) AS t(k))
SELECT window_start, COUNT(*) AS n FROM w GROUP BY window_start
""",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows (1 h length, 15 min slide): every
    event lands in exactly four overlapping windows. The oracle
    regenerates the same four epoch-aligned window starts per event
    (Spark's window generator and DuckDB's time_bucket share the epoch
    origin), so the hash check covers the overlap assignment."""
    from ..streaming.windows import sliding_event_value

    out = run_to_memory_sink(
        sliding_event_value(events_stream(spark, sf_dir)),
        f"stream_sliding_counts_{next(_SINK_SEQ)}",
    )
    return out.select(F.col("window_start").cast("timestamp_ntz"), "n")


@query(
    "stream_dedup_events",
    """
SELECT event_type, COUNT(*) AS n
FROM (SELECT DISTINCT event_id, event_type FROM events)
GROUP BY event_type
""",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: two copies of the event stream are
    unioned (every event arrives twice) and collapsed with
    ``dropDuplicatesWithinWatermark`` on the event id before a
    downstream aggregation — the bounded-state streaming dedup whose
    state evicts with the watermark instead of growing forever like
    plain dropDuplicates. The oracle is the single-copy distinct
    count, so the hash fails if any duplicate survives or any original
    is lost."""
    from ..streaming.windows import events_stream

    one = events_stream(spark, sf_dir)
    two = events_stream(spark, sf_dir)
    deduped = (
        one.unionByName(two)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    out = run_to_memory_sink(
        agg, f"stream_dedup_events_{next(_SINK_SEQ)}", mode="complete"
    )
    return out.select("event_type", "n")


@query(
    "stream_static_enrich",
    """
SELECT n.n_name AS nation, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(e.value * 1000000) AS BIGINT)) AS BIGINT)
         AS total_value_micros
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream inner-joins a static
    customer->nation dimension and aggregates per nation in exact
    integer micros. nation (25 rows, fixed) keeps its broadcast hint;
    the customer->nation map is CUSTOMER-cardinality — corpus-
    proportional — so it carries none (r12 audit): the planner
    auto-broadcasts it under the threshold per micro-batch and falls
    back to a shuffled stream-static join at 100 TB.

    This is the canonical streaming lookup-enrich pattern: no state is
    kept for the join itself (only the downstream aggregation), so at
    100 TB/day the state footprint is one row per nation regardless of
    stream length. Oracle = the equivalent batch 3-way join."""
    from ..catalog import Catalog

    cat = Catalog(spark, sf_dir)
    dim = (
        cat.customer.select("c_custkey", "c_nationkey")
        .join(
            bounded_broadcast(
                cat.nation.select("n_nationkey", "n_name"), "fixed-dim", "25 rows"
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation"))
    )
    ev = events_stream(spark, sf_dir).select(
        "user_id", F.round(F.col("value") * 1_000_000).cast("long").alias("v_micros")
    )
    agg = (
        ev.join(dim, "user_id")
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_micros").alias("total_value_micros"),
        )
    )
    out = run_to_memory_sink(
        agg, f"stream_static_enrich_{next(_SINK_SEQ)}", mode="complete"
    )
    return out.select("nation", "n_events", "total_value_micros")


@query(
    "stream_value_histogram",
    """
SELECT date_trunc('hour', ts) AS hour,
       LEAST(9, CAST(floor(value / 50.0) AS INT)) AS bucket_id,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY date_trunc('hour', ts), LEAST(9, CAST(floor(value / 50.0) AS INT))
""",
)
def stream_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming fixed-bounds value histogram per tumbling hour (10
    buckets of width 50) — in-flight distribution monitoring, the
    streaming complement of the batch equi-width profiler: drift shows
    as bucket mass shifting window over window. Real watermarked
    stream to a complete-mode memory sink; on the bounded source the
    result hash-equals the batch grouping the oracle states.

    State: (windows x 10) rows, constant per window; fixed bounds
    because streaming state cannot depend on a global min/max."""
    from ..streaming.windows import windowed_value_histogram

    out = run_to_memory_sink(
        windowed_value_histogram(events_stream(spark, sf_dir)),
        f"stream_value_histogram_{next(_SINK_SEQ)}",
    )
    return out.select(
        F.col("hour").cast("timestamp_ntz"), "bucket_id", "n"
    )


@query(
    "stream_warc_ingest",
    # literal-VALUES oracle: the same deterministic fixture segments
    # (plans/media_queries.py:warc_segment_records) the batch twin
    # llm_warc_ingest_stats pins — per-file values identical to its
    # per-seg_id rows
    """
SELECT * FROM (VALUES
  (CAST('seg-0.warc.gz' AS VARCHAR), CAST(5 AS BIGINT),
   CAST(290 AS BIGINT), CAST(10698157547 AS BIGINT)),
  ('seg-1.warc', 5, 295, 14209188453),
  ('seg-2.warc.gz', 5, 295, 9497684577),
  ('seg-3.warc', 5, 295, 12305511005),
  ('seg-4.warc.gz', 5, 295, 11116190329),
  ('seg-5.warc', 5, 295, 8417944181)
) AS t(warc_file, n_pages, sum_text_chars, text_crc_sum)
""",
)
def stream_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming crawl ingest end-to-end (r6 verdict #8): the 6
    fixture WARC segments land in a drop folder, a REAL streaming
    query over the partitioned ``warc`` stream source
    (``sources/warc.py:WarcStreamReader`` — driver lists files,
    executors run the gzip-member streaming parse) ingests each
    exactly once, the pages flow through the PURE-Column curation
    layer (``html_to_text``), and the per-segment aggregate in the
    memory sink must equal the batch twin's pinned values.

    ``countDistinct`` is not available in streaming aggregation, so
    unlike ``llm_warc_ingest_stats`` the grouped stats are count /
    exact char sum / crc32 sum only.

    Scale posture: offsets are the planned segment set, so a restart
    resumes from the checkpoint without re-ingesting; each segment is
    one input partition — a crawl dropping thousands of multi-GB
    segments fans out across executors, each parsing with O(largest
    record) memory."""
    import os
    import tempfile

    from ..operators.text import html_to_text
    from ..sources.warc import build_warc, register_warc
    from .media_queries import _N_WARC_SEGMENTS, warc_segment_records

    drop_dir = tempfile.mkdtemp(prefix="warcstream_")
    for seg in range(_N_WARC_SEGMENTS):
        gz = seg % 2 == 0
        name = f"seg-{seg}.warc" + (".gz" if gz else "")
        with open(os.path.join(drop_dir, name), "wb") as f:
            f.write(build_warc(warc_segment_records(seg), gzipped=gz))

    register_warc(spark)
    pages = spark.readStream.format("warc").option("path", drop_dir).load()
    curated = pages.select(
        "warc_file",
        html_to_text(F.col("body").cast("string")).alias("text"),
    )
    agg = curated.groupBy("warc_file").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.length("text")).alias("sum_text_chars"),
        F.sum(F.crc32(F.col("text"))).alias("text_crc_sum"),
    )
    return run_to_memory_sink(agg, f"stream_warc_ingest_{next(_SINK_SEQ)}")


@query(
    "stream_sketch_distinct",
    """
WITH hv AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
           ::BIGINT % 256 AS reg_idx,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
           ::BIGINT // 256 AS v
  FROM events),
r AS (
  SELECT event_type, reg_idx,
         MAX(CASE WHEN v = 0 THEN 53
                  ELSE 53 - length(format('{:b}', v)) END) AS max_rank
  FROM hv GROUP BY event_type, reg_idx),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_nonzero,
         CAST(SUM((1::BIGINT) << (53 - max_rank)) AS BIGINT) AS s_present,
         CAST(SUM((reg_idx + 1) * max_rank) AS BIGINT) AS register_checksum
  FROM r GROUP BY event_type)
SELECT event_type, n_nonzero,
       CAST(256 - n_nonzero AS BIGINT) AS n_zero,
       register_checksum,
       CAST(s_present + (256 - n_nonzero) * ((1::BIGINT) << 53)
            AS BIGINT) AS inv_power_sum,
       0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)
         * 65536.0::DOUBLE * 9007199254740992.0::DOUBLE
         / CAST(s_present + (256 - n_nonzero) * ((1::BIGINT) << 53)
                AS DOUBLE) AS hll_estimate
FROM agg
""",
)
def stream_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog: per-event-type distinct-user sketch
    maintained BY the stream (``operators/sketches.py:hll_registers``
    runs unchanged on the streaming frame — a stateless hash
    projection plus a streaming max), register-folded batch-side from
    the memory sink. Same oracle family as ``llm_sketch_hll_distinct``
    and the same exact-BIGINT determinism, so the driver hash pins the
    streaming sketch's full register state against DuckDB.

    This is the streaming-distinct answer at scale: streaming
    ``countDistinct`` is unsupported (exact distinct needs unbounded
    state), while the HLL state is 256 small longs PER GROUP, forever,
    no watermark required — the canonical bounded-state trade.
    """
    from ..operators import sketches as sk

    events = events_stream(spark, sf_dir).select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    )
    # collapse=False: the distinct pre-collapse would be a second
    # stateful aggregation, which streaming rejects
    regs = sk.hll_registers(events, F.col("uid"), "event_type", collapse=False)
    sink = run_to_memory_sink(
        regs, f"stream_sketch_distinct_{next(_SINK_SEQ)}"
    )
    return sk.hll_estimate_row(sink, "event_type")


@query(
    "stream_sketch_cms",
    """
WITH cells AS (
  SELECT r,
         ('0x' || substr(md5(CAST(r AS VARCHAR) || ':'
                             || CAST(user_id AS VARCHAR)), 1, 15))
           ::BIGINT % 1024 AS cell,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) t(r)
  GROUP BY 1, 2),
probes AS (
  SELECT * FROM (VALUES (1), (2), (3), (7), (999999)) p(user_id)),
probe_cells AS (
  SELECT p.user_id, t.r,
         ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':'
                             || CAST(p.user_id AS VARCHAR)), 1, 15))
           ::BIGINT % 1024 AS cell
  FROM probes p CROSS JOIN (VALUES (0), (1), (2), (3)) t(r)),
est AS (
  SELECT pc.user_id,
         CAST(MIN(coalesce(c.cnt, 0)) AS BIGINT) AS cms_estimate
  FROM probe_cells pc LEFT JOIN cells c ON c.r = pc.r AND c.cell = pc.cell
  GROUP BY pc.user_id),
exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM events WHERE user_id IN (1, 2, 3, 7, 999999)
  GROUP BY user_id)
SELECT CAST(e.user_id AS BIGINT) AS user_id, e.cms_estimate,
       CAST(coalesce(x.exact_count, 0) AS BIGINT) AS exact_count,
       CAST(e.cms_estimate - coalesce(x.exact_count, 0) AS BIGINT)
         AS overestimate
FROM est e LEFT JOIN exact x ON x.user_id = e.user_id
""",
)
def stream_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min: per-user event-frequency cells maintained
    BY the stream (``cms_cells(collapse=False)`` — the d-way salted
    hash is a stateless projection, the cell sum is the single
    stateful aggregation streaming allows; 4096 counters of state,
    forever). The fixed probe set is then point-queried batch-side
    from the memory sink, with exact batch counts alongside pinning
    the one-sided-error guarantee on a STREAM-built sketch. Completes
    the streaming-sketch pair with ``stream_sketch_distinct``:
    distinct-count and frequency, both in bounded state on an
    unbounded stream.
    """
    from ..catalog import Catalog
    from ..operators import sketches as sk

    events = events_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("uid")
    )
    cells = sk.cms_cells(events, F.col("uid"), collapse=False)
    sink = run_to_memory_sink(
        cells, f"stream_sketch_cms_{next(_SINK_SEQ)}"
    )
    probe_ids = [1, 2, 3, 7, 999999]
    probes = spark.createDataFrame(
        [(str(p),) for p in probe_ids], "uid string"
    )
    est = sk.cms_probe(sink, probes, "uid")
    exact = (
        Catalog(spark, sf_dir).events
        .where(F.col("user_id").isin(probe_ids))
        .groupBy(F.col("user_id").cast("string").alias("uid"))
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return est.join(exact, "uid", "left").select(
        F.col("uid").cast("long").alias("user_id"),
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        F.coalesce(F.col("exact_count"), F.lit(0))
        .cast("long")
        .alias("exact_count"),
        (
            F.col("cms_estimate")
            - F.coalesce(F.col("exact_count"), F.lit(0))
        )
        .cast("long")
        .alias("overestimate"),
    )

@query(
    "stream_dedup_ingest",
    # identical semantics (and oracle) to the batch llm_dedup_incremental
    # row: the stream must produce exactly the batch answer
    _incremental_oracle_sql,
)
def stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS-INGEST dedup — the Structured Streaming form of
    ``llm_dedup_incremental``: arriving documents (the doc_id % 5 = 0
    slice, one file per micro-batch) are MinHash-signed and banded
    with STATELESS per-row expressions on the stream, then a
    stream-static equi-join on (band, band_key) probes the persisted
    index postings (the % 5 != 0 corpus, signed once as a batch
    frame); collisions verify by exact shingle-set Jaccard >= 0.8
    per row, and the only stateful operator is the final
    candidate-pair aggregate (complete mode; one state row per
    VERIFIED pair, never per collision — the >= 0.8 filter runs
    before state).

    Scale posture: this is the per-ingest steady state a 100 TB
    corpus actually runs — signatures for new docs only, a band join
    sized by collisions against postings a periodic
    ``compact_dedup_index`` pass keeps bounded, zero stream-side
    state for the join itself (stream-static joins keep no watermark
    state). The sole batch/stream asymmetry is documented in
    ``minhash_signatures(persist=False)``: a stream cannot cache the
    per-row md5 hashes, so the 16 affine rehashes recompute them."""
    from ..caching import tracked_persist
    from ..catalog import Catalog
    from ..operators import dedup as dd

    num_hashes, bands, rows_per_band, shingle_n = 16, 8, 2, 3
    docs = Catalog(spark, sf_dir).documents
    index_df = docs.where(F.col("doc_id") % 5 != 0)

    # static side, built once: (band, band_key) postings + the
    # verification shingle sets (in production: a bucketed table)
    sets_idx = tracked_persist(
        index_df.select(
            "doc_id",
            F.array_distinct(
                dd.shingle_array(F.col("text"), shingle_n)
            ).alias("shset"),
        )
    )
    sig_idx = dd.minhash_signatures(
        sets_idx, num_hashes, sets_col="shset"
    )
    postings = (
        sig_idx.select(
            F.col("doc_id").alias("index_id"),
            F.posexplode(dd._band_keys(bands, rows_per_band)).alias(
                "band", "band_key"
            ),
        )
        .join(
            sets_idx.select(
                F.col("doc_id").alias("index_id"),
                F.col("shset").alias("_sh_i"),
            ),
            "index_id",
        )
    )

    # streaming side: stateless shingle -> sign -> band expressions
    new_docs = documents_stream(spark, sf_dir).where(
        F.col("doc_id") % 5 == 0
    )
    sets_new = new_docs.select(
        "doc_id",
        F.array_distinct(
            dd.shingle_array(F.col("text"), shingle_n)
        ).alias("shset"),
    )
    sig_new = dd.minhash_signatures(
        sets_new, num_hashes, sets_col="shset", persist=False,
        carry_sets=True, fused=True,
    )
    bn = sig_new.select(
        F.col("doc_id").alias("new_id"),
        F.col("shset").alias("_sh_j"),
        F.posexplode(dd._band_keys(bands, rows_per_band)).alias(
            "band", "band_key"
        ),
    )

    inter = F.size(F.array_intersect(F.col("_sh_i"), F.col("_sh_j")))
    union = F.size("_sh_i") + F.size("_sh_j") - inter
    verified = (
        bn.join(postings, ["band", "band_key"])
        .select(
            "new_id", "index_id", (inter / union).alias("jaccard")
        )
        .where(F.col("jaccard") >= 0.8)
    )
    # one state row per verified pair (a pair colliding in several
    # bands carries the same jaccard in each — max() collapses them)
    agg = verified.groupBy("new_id", "index_id").agg(
        F.max("jaccard").alias("jaccard")
    )
    out = run_to_memory_sink(
        agg, f"stream_dedup_ingest_{next(_SINK_SEQ)}", mode="complete"
    )
    return out.select("new_id", "index_id", "jaccard")


def _lifecycle_oracle(
    num_hashes: int = 16, rows_per_band: int = 2, n_batches: int = 3
) -> str:
    """Oracle for ``stream_dedup_lifecycle``: the greedy sequential
    ingest loop UNROLLED batch-by-batch over the same deterministic
    batch assignment (seed = doc_id % (K+1) = 0, batch k = residue k).

    The near-dup relation ``nd`` is computed ONCE over the full corpus
    (band collisions + exact-Jaccard verify) and each unrolled stage
    filters it — valid because LSH candidate generation is pairwise,
    so candidates within any subset of docs are exactly the full
    relation restricted to that subset (the same subset-filter
    equivalence the compaction oracle uses). The Spark side does NOT
    get this shortcut: it genuinely re-probes its growing index state
    per micro-batch."""
    from .llm_queries import _SIZES_CTE, _mh_banded_cte

    banded = _mh_banded_cte(num_hashes, rows_per_band).replace(
        "WITH ", "WITH RECURSIVE ", 1
    )
    mod = n_batches + 1
    stages = []
    for k in range(1, n_batches + 1):
        prev = f"idx{k - 1}"
        # anti-joins, never correlated NOT EXISTS: inside a WITH
        # RECURSIVE block DuckDB plans the correlated form as a
        # dependent join that re-evaluates the whole nd pipeline per
        # outer row (measured: 10+ min vs sub-second at sf0.01)
        stages.append(f"""
b{k} AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id % {mod} = {k}),
s{k} AS MATERIALIZED (
  SELECT d.doc_id FROM b{k} d
  LEFT JOIN (SELECT DISTINCT nd.i FROM nd
             JOIN {prev} x ON x.doc_id = nd.j) m{k}
    ON m{k}.i = d.doc_id
  WHERE m{k}.i IS NULL),
k{k} AS MATERIALIZED (
  SELECT d.doc_id FROM s{k} d
  LEFT JOIN (SELECT DISTINCT nd.i FROM nd
             JOIN s{k} e ON e.doc_id = nd.j
             WHERE nd.j < nd.i) w{k}
    ON w{k}.i = d.doc_id
  WHERE w{k}.i IS NULL),
idx{k} AS MATERIALIZED (SELECT doc_id FROM {prev} UNION ALL SELECT doc_id FROM k{k}),""")
        # summary row for stage k (assembled below)
    stage_sql = "".join(stages)
    summary_rows = "\nUNION ALL\n".join(
        f"""SELECT {k} AS stage_id, 'batch_{k}' AS stage,
       (SELECT COUNT(*) FROM b{k}) AS n_in,
       (SELECT COUNT(*) FROM b{k}) - (SELECT COUNT(*) FROM s{k})
         AS n_dropped_vs_index,
       (SELECT COUNT(*) FROM s{k}) - (SELECT COUNT(*) FROM k{k})
         AS n_dropped_within,
       (SELECT COUNT(*) FROM k{k}) AS n_appended,
       (SELECT COUNT(*) FROM idx{k}) AS index_size_after"""
        for k in range(1, n_batches + 1)
    )
    last = f"idx{n_batches}"
    return f"""
{banded}
{_SIZES_CTE}
cands AS (
  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
inter AS (
  SELECT c.i, c.j, COUNT(*) AS inter
  FROM cands c
  JOIN shing si ON si.doc_id = c.i
  JOIN shing sj ON sj.doc_id = c.j AND sj.shingle = si.shingle
  GROUP BY c.i, c.j),
vp AS (
  SELECT i, j FROM inter
  JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8),
nd AS MATERIALIZED (SELECT i, j FROM vp UNION ALL SELECT j AS i, i AS j FROM vp),
idx0 AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id % {mod} = 0),{stage_sql}
fedges AS MATERIALIZED (
  SELECT nd.i AS src, nd.j AS dst FROM nd
  JOIN {last} xi ON xi.doc_id = nd.i
  JOIN {last} xj ON xj.doc_id = nd.j),
reach AS (
  SELECT src AS node, dst AS target FROM fedges
  UNION
  SELECT r.node, e.dst AS target
  FROM reach r JOIN fedges e ON e.src = r.target),
fdropped AS (
  SELECT node FROM reach GROUP BY node
  HAVING LEAST(node, MIN(target)) <> node),
summary AS (
{summary_rows}
UNION ALL
SELECT {n_batches + 1} AS stage_id, 'compaction' AS stage,
       (SELECT COUNT(*) FROM {last}) AS n_in,
       0 AS n_dropped_vs_index,
       (SELECT COUNT(*) FROM fdropped) AS n_dropped_within,
       0 AS n_appended,
       (SELECT COUNT(*) FROM {last}) - (SELECT COUNT(*) FROM fdropped)
         AS index_size_after)
SELECT CAST(stage_id AS BIGINT) AS stage_id, stage,
       CAST(n_in AS BIGINT) AS n_in,
       CAST(n_dropped_vs_index AS BIGINT) AS n_dropped_vs_index,
       CAST(n_dropped_within AS BIGINT) AS n_dropped_within,
       CAST(n_appended AS BIGINT) AS n_appended,
       CAST(index_size_after AS BIGINT) AS index_size_after
FROM summary ORDER BY stage_id
"""


def _run_dedup_lifecycle(
    spark: SparkSession,
    docs: DataFrame,
    n_batches: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    replay_stage: int | None = None,
) -> tuple[list[tuple], DataFrame, DataFrame]:
    """Drive the foreachBatch ingest loop and terminal compaction;
    returns (summary_rows, final_index_sets, compacted_keeper_ids).
    Split out of the registered query so
    ``tests/test_streaming.py`` can pin the final index CONTENT (not
    just the oracle-checked counts) against a plain-batch greedy
    unroll of the same policy."""
    import os
    import shutil
    import tempfile
    import time as _time

    from ..operators import dedup as dd

    mod = n_batches + 1

    def _sets(d: DataFrame) -> DataFrame:
        return d.select(
            "doc_id",
            F.array_distinct(
                dd.shingle_array(F.col("text"), shingle_n)
            ).alias("shset"),
        )

    rows_per_band = num_hashes // bands

    def _state_rows(sets_df: DataFrame) -> DataFrame:
        """Index-state rows for a (doc_id, shset) frame, ONE combined
        schema (doc_id, shset, band, band_key): each doc contributes
        one band-NULL "set" row plus its band postings — each doc is
        SIGNED ONCE, when it enters the index (the append-only
        posting-table shape production persists). Combining the two
        state relations into one frame halves the per-batch
        checkpoint jobs (r10 verdict #4): one lineage truncation per
        ingest instead of two."""
        sig = dd.minhash_signatures(
            sets_df, num_hashes, sets_col="shset", carry_sets=True,
            persist=False, fused=True,
        )
        postings = sig.select(
            "doc_id",
            "shset",
            F.posexplode(
                dd._band_keys(bands, rows_per_band)
            ).alias("band", "band_key"),
        )
        return sets_df.select(
            "doc_id",
            "shset",
            F.lit(None).cast("int").alias("band"),
            F.lit(None).cast("string").alias("band_key"),
        ).unionByName(postings)

    def _sets_view(state_df: DataFrame) -> DataFrame:
        return state_df.where(F.col("band").isNull()).select(
            "doc_id", "shset"
        )

    def _postings_view(state_df: DataFrame) -> DataFrame:
        return state_df.where(F.col("band").isNotNull()).select(
            F.col("doc_id").alias("index_id"),
            F.col("shset").alias("_sh_i"),
            "band",
            "band_key",
        )

    tmp = tempfile.mkdtemp(prefix="dedup_lifecycle_")
    # foreachBatch-internal plans operate on MICRO-BATCH-sized frames:
    # AQE's stage-by-stage materialization (3-4 sub-jobs per action)
    # and corpus-sized shuffle widths are pure overhead there — Spark
    # already disables AQE for the streaming query itself. Scope both
    # to this run and restore on exit (session confs leak across the
    # shared test session otherwise). Measured at sf0.1: 104 -> 28
    # jobs for the whole lifecycle. At production scale the shuffle
    # width is sized to the micro-batch volume the trigger admits,
    # not to the corpus.
    _tuned = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    _saved = {}
    for _k, _v in _tuned.items():
        try:
            _saved[_k] = spark.conf.get(_k)
        except Exception:
            _saved[_k] = None
        spark.conf.set(_k, _v)
    try:
        # one parquet FILE per micro-batch, mtimes strictly ascending
        # (the file source admits oldest-first). ONE partitioned write
        # job produces all K files (vs K filter+coalesce jobs).
        now = _time.time()
        staging = os.path.join(tmp, "_staging")
        (
            docs.where(F.col("doc_id") % mod != 0)
            .withColumn("b", F.col("doc_id") % mod)
            .repartition(n_batches, "b")
            .write.mode("overwrite")
            .partitionBy("b")
            .parquet(staging)
        )
        for k in range(1, n_batches + 1):
            bdir = os.path.join(staging, f"b={k}")
            if not os.path.isdir(bdir):
                # an empty residue class simply produces no
                # micro-batch (arbitrary caller frames; real sf dirs
                # populate every class)
                continue
            parts = [
                f for f in os.listdir(bdir) if f.endswith(".parquet")
            ]
            assert len(parts) == 1, parts
            dst = os.path.join(tmp, f"batch_{k}.parquet")
            os.rename(os.path.join(bdir, parts[0]), dst)
            os.utime(dst, (now + 10 * k, now + 10 * k))
        shutil.rmtree(staging)

        seed_state = _state_rows(
            _sets(docs.where(F.col("doc_id") % mod == 0))
        ).localCheckpoint(eager=True)
        state = {
            "frame": seed_state,
            # count over the checkpointed frame: a cheap scan, not a
            # recompute of the shingle/signature pipeline
            "n": _sets_view(seed_state).count(),
        }
        seed_n = state["n"]
        results: dict[int, tuple[int, int, int, int, int]] = {}
        # replay_stage (tests only): after that stage completes, drop
        # its results entry and redeliver the batch — simulating a
        # crash in the checkpoint-committed / results-lost window
        _replayed = {"done": False}

        def ingest(batch_df: DataFrame, _bid: int) -> None:
            # within-batch frames: lazy persist (multiple consumers,
            # shallow lineage) — eager checkpoints here would add one
            # full job each per micro-batch; only the cross-batch
            # STATE needs lineage truncation
            bsets = _sets(batch_df).persist()
            # probe the persisted postings: stateless batch-side
            # sign+band, one equi-join, exact-Jaccard verify — the
            # index side is NEVER re-signed (append-only state)
            bsig = dd.minhash_signatures(
                bsets, num_hashes, sets_col="shset", carry_sets=True,
                persist=False, fused=True,
            )
            bn = bsig.select(
                F.col("doc_id").alias("new_id"),
                F.col("shset").alias("_sh_j"),
                F.posexplode(
                    dd._band_keys(bands, rows_per_band)
                ).alias("band", "band_key"),
            )
            inter = F.size(
                F.array_intersect(F.col("_sh_i"), F.col("_sh_j"))
            )
            union = F.size("_sh_i") + F.size("_sh_j") - inter
            # Committed-id overlap: batch ids already present in the
            # index's set rows. In normal operation batch ids never
            # intersect index ids (disjoint residue classes), so this
            # is empty and the anti-joins below are no-ops. On an
            # at-least-once REPLAY whose first attempt died after the
            # state checkpoint (r11 ADVICE #2), this batch's committed
            # keepers sit in the index under their own ids, and the
            # id overlap detects EVERY one of them — including keepers
            # whose shingle set is empty (docs shorter than shingle_n
            # tokens carry a set row but no postings, so the earlier
            # band-self-collision detection missed an all-empty-keeper
            # batch and double-appended it). Excluding ALL hits
            # against committed entries makes the probe see the index
            # the ORIGINAL attempt saw: every count reproduces
            # bit-identically.
            committed = (
                bsets.select("doc_id")
                .join(_sets_view(state["frame"]).select("doc_id"), "doc_id")
                .select(F.col("doc_id").alias("index_id"))
                .distinct()
            )
            # slim (new_id, index_id) hit relation, persisted once
            probe = (
                bn.join(_postings_view(state["frame"]), ["band", "band_key"])
                .where((inter / union) >= 0.8)
                .select("new_id", "index_id")
                .persist()
            )
            matched = (
                probe.join(committed, "index_id", "left_anti")
                .select(F.col("new_id").alias("doc_id"))
                .distinct()
                .persist()
            )
            surv = bsets.join(matched, "doc_id", "left_anti").persist()
            wpairs = dd.minhash_near_duplicates(
                None, threshold=0.8, num_hashes=num_hashes,
                bands=bands, shingle_n=shingle_n, sets=surv,
            )
            dropped_within = wpairs.select(
                F.col("j").alias("doc_id")
            ).distinct().persist()
            kept = surv.join(dropped_within, "doc_id", "left_anti"
                             ).persist()
            # ONE action computes the stage id and all three counts
            # (r10 verdict #4: was first() + 3 counts = 4 jobs). The
            # stage id comes from the batch's own rows (file order is
            # pinned by mtime, but never trusted; partitionBy strips
            # the b column from the file data, so re-derive it);
            # matched/dropped_within are disjoint subsets of bsets, so
            # the flag sums reconstruct the survivor/keeper counts.
            st = (
                bsets.join(
                    matched.withColumn("_m", F.lit(1)), "doc_id", "left"
                )
                .join(
                    dropped_within.withColumn("_w", F.lit(1)),
                    "doc_id",
                    "left",
                )
                .join(
                    committed.select(
                        F.col("index_id").alias("doc_id")
                    ).withColumn("_r", F.lit(1)),
                    "doc_id",
                    "left",
                )
                .agg(
                    F.min(F.col("doc_id") % mod).alias("k"),
                    F.count(F.lit(1)).alias("n_in"),
                    F.coalesce(F.sum("_m"), F.lit(0)).alias("n_m"),
                    F.coalesce(F.sum("_w"), F.lit(0)).alias("n_w"),
                    F.coalesce(F.sum("_r"), F.lit(0)).alias("n_r"),
                )
                .first()
            )
            if st["k"] is None:
                # empty micro-batch: nothing to ingest — but the st
                # aggregate already materialized the persisted frames
                for f in (probe, bsets, matched, dropped_within, kept):
                    f.unpersist(False)
                return
            k = int(st["k"])
            if k in results:
                # fully-completed REPLAY (state committed AND results
                # recorded): nothing to do (idempotent retry)
                for f in (probe, bsets, matched, dropped_within, kept):
                    f.unpersist(False)
                return
            n_in, n_surv = int(st["n_in"]), int(st["n_in"] - st["n_m"])
            n_kept = n_surv - int(st["n_w"])
            if int(st["n_r"]) > 0:
                # REPLAY in the non-atomic window: the first attempt
                # checkpointed the state union but died before
                # results[k] landed. The keepers are already in the
                # index (detected by the committed-id overlap),
                # the probe above already excluded their entries so
                # every count reproduces the original attempt — heal
                # the in-memory size from the committed frame (the n
                # assignment may also have died) and record, WITHOUT
                # re-appending keeper rows.
                state["n"] = _sets_view(state["frame"]).count()
                results[k] = (
                    n_in, n_in - n_surv, n_surv - n_kept, n_kept,
                    state["n"],
                )
            else:
                n_idx = state["n"] + n_kept
                # state mutation first, results[k] last: a crash
                # before the checkpoint re-runs the stage cleanly (no
                # trace in the index); a crash after it is the n_r>0
                # branch above; only results[k] itself marks the stage
                # complete.
                state["frame"] = state["frame"].unionByName(
                    _state_rows(kept)
                ).localCheckpoint(eager=True)
                state["n"] = n_idx
                results[k] = (
                    n_in, n_in - n_surv, n_surv - n_kept, n_kept, n_idx
                )
            for f in (probe, bsets, matched, dropped_within, kept):
                f.unpersist(False)
            if replay_stage is not None and k == replay_stage and not (
                _replayed["done"]
            ):
                # test hook: simulate the at-least-once redelivery in
                # the exact non-atomic window — state committed,
                # results[k] lost — and re-run the stage body
                _replayed["done"] = True
                del results[k]
                ingest(batch_df, _bid)

        ckpt = os.path.join(tmp, "_ckpt")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "batch_*.parquet")
            .parquet(tmp)
        )
        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        # empty residue classes produce no micro-batch (arbitrary
        # caller frames; real sf dirs populate every class) — emit the
        # zero-count stage row the oracle unconditionally produces,
        # carrying the index size forward in ascending stage order
        carry = seed_n
        for k in range(1, n_batches + 1):
            if k in results:
                carry = results[k][4]
            else:
                results[k] = (0, 0, 0, 0, carry)

        # terminal maintenance: compact the grown index. final size is
        # the maintained running count — no extra count job.
        final_sets = _sets_view(state["frame"])
        pairs = dd.minhash_near_duplicates(
            None, threshold=0.8, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n, sets=final_sets,
        )
        dropped_comp = (
            dd.duplicate_clusters(pairs)
            .where(F.col("member") != F.col("cluster_id"))
            .select(F.col("member").alias("doc_id"))
        )
        compacted = final_sets.select("doc_id").join(
            dropped_comp, "doc_id", "left_anti"
        ).localCheckpoint(eager=True)
        n_final = state["n"]
        n_compacted = compacted.count()
        rows = [
            (k, f"batch_{k}", *results[k])
            for k in sorted(results)
        ] + [
            (
                n_batches + 1, "compaction", n_final, 0,
                n_final - n_compacted, 0, n_compacted,
            )
        ]
        return rows, final_sets, compacted
    finally:
        for _k, _v in _saved.items():
            if _v is None:
                spark.conf.unset(_k)
            else:
                spark.conf.set(_k, _v)
        shutil.rmtree(tmp, ignore_errors=True)


@query("stream_dedup_lifecycle", _lifecycle_oracle())
def stream_dedup_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup-index lifecycle, composed end-to-end
    (r9 verdict #5): a real ``foreachBatch`` Structured Streaming run
    ingests the corpus in K micro-batches against a GROWING index —
    per batch: probe arriving docs against the current index postings
    (band join + exact-Jaccard verify), drop matches, dedup the
    survivors within the batch (min-id direct-neighbor policy: a doc
    drops iff a lower-id surviving doc verifies >= 0.8), APPEND the
    keepers' shingle sets to the index state — then one
    ``compact_dedup_index`` pass collapses the final index's internal
    clusters. This exercises the batch->index APPEND edge that
    ``stream_dedup_ingest`` (static index) and
    ``llm_dedup_index_compaction`` (index->batch) leave untested.

    Determinism: batch membership is doc_id % (K+1) (seed = residue
    0); the K batch files are written with strictly ascending mtimes
    so the file source admits them in arrival order, and the stage id
    is re-derived from the batch's own rows, never from file order.
    The ingest is retry-idempotent under foreachBatch's at-least-once
    contract (a replayed stage id returns before any state mutation),
    and an EMPTY residue class still emits its zero-count stage row
    with the index size carried forward — exactly the K+1 rows the
    oracle unconditionally produces (r10 ADVICE #1/#2).

    Scale posture: per micro-batch the work is one band equi-join
    against the index postings plus a within-batch self-join sized by
    the BATCH (not the corpus); index state grows by corpus novelty
    only, and the terminal compaction is the same cluster-bounded
    maintenance job as ``llm_dedup_index_compaction``. State between
    batches is an eager ``localCheckpoint`` of ONE combined
    sets+postings frame (lineage truncated per ingest — in
    production: the persisted bucketed postings table); per
    micro-batch the driver issues exactly two actions — one fused
    stage-id+counts aggregate and the state checkpoint (r10 verdict
    #4: was 4 actions + 2 checkpoints).

    The oracle unrolls the identical greedy sequence in SQL (nd
    computed once, subset-filtered per stage — pairwise LSH makes
    that equivalence exact); ``tests/test_streaming.py`` additionally
    pins the final index CONTENT against a plain-batch unroll."""
    from ..catalog import Catalog

    docs = Catalog(spark, sf_dir).documents
    rows, _final, _compacted = _run_dedup_lifecycle(spark, docs)
    return spark.createDataFrame(
        rows,
        "stage_id long, stage string, n_in long, "
        "n_dropped_vs_index long, n_dropped_within long, "
        "n_appended long, index_size_after long",
    )


from .registry import ORACLES as _REG_ORACLES  # noqa: E402


@query(
    "stream_emb_ivf_append",
    # shares the batch llm_emb_ivf_append oracle: on a bounded stream
    # the per-list growth/drift summary must equal the batch answer
    _REG_ORACLES["llm_emb_ivf_append"],
)
def stream_emb_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING form of ``llm_emb_ivf_append`` — vectors arrive as a
    file stream and are assigned to the existing index's centroids by
    a STATELESS per-row expression (``ivf_assign_literal``: the k
    centroids baked into the projection as literals, exactly the
    broadcast constants a production assigner ships), with the only
    stateful operator the k-row complete-mode per-centroid aggregate
    (count + micro-quantized cosine sum — both order-exact integers).
    The k centroid rows are collected to the driver once: that
    driver-side collect is the documented pattern for closure-
    broadcast constants (the BPE merge-table precedent), sized k,
    never corpus.

    Sharing the batch row's oracle makes this the batch/stream twin
    pair for ANN maintenance that ``stream_dedup_ingest`` /
    ``llm_dedup_incremental`` form for dedup: the bounded stream must
    produce the batch answer bit-for-bit."""
    from ..catalog import Catalog
    from ..operators import similarity as sim
    from ..streaming.windows import embeddings_stream

    from .similarity_queries import (
        ivf_append_report,
        ivf_append_side_summary,
        ivf_index_centroids,
    )

    emb = Catalog(spark, sf_dir).embeddings
    index = emb.where(F.col("vec_id") % 5 != 0)
    centroids_df = ivf_index_centroids(index)
    cents = [
        (int(r["centroid_id"]), list(r["embedding"]))
        for r in centroids_df.collect()
    ]

    arriving = embeddings_stream(spark, sf_dir).where(
        F.col("vec_id") % 5 == 0
    )
    agg = ivf_append_side_summary(
        sim.ivf_assign_literal(arriving, cents)
    )
    gb = run_to_memory_sink(
        agg, f"stream_emb_ivf_append_{next(_SINK_SEQ)}", mode="complete"
    )
    # static index side + report: the SAME helpers the batch row uses,
    # so the twins cannot drift
    gi = ivf_append_side_summary(
        sim.ivf_assign(index, centroids_df, keep_sim=True)
    )
    return ivf_append_report(gi, gb)


from .curation_queries import _PSI_ORACLE  # noqa: E402  (the batch PSI oracle the streaming twin shares; curation_queries imports nothing from this module, so the early import is cycle-free)


@query(
    "stream_quality_psi",
    # shares the batch llm_quality_psi_by_source oracle: on a bounded
    # stream the per-source drift report must equal the batch answer
    _PSI_ORACLE,
)
def stream_quality_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING form of ``llm_quality_psi_by_source`` — quality-score
    drift monitoring where it actually runs in production: on the
    document ingest stream. Per arriving row the score (stopword
    ratio in ppm) and its decile bucket are STATELESS projections —
    the 9 bucket edges come from the static reference corpus's
    coordinated bottom-256 sample and are baked into the expression
    as BIGINT literals (one bounded driver-side collect of a 1-row
    edge frame: the ``ivf_assign_literal`` closure-constant pattern).
    The only stateful operator is the (source x bucket)-row
    complete-mode count; the reference side's bucket counts are
    static-frame aggregates, and the summary tail is the SHARED
    :func:`psi_from_bucket_counts` — so the stream must equal the
    batch answer bit-for-bit, which sharing the batch oracle
    enforces.

    Scale posture: per event the work is one projection; state is
    sources x 10 rows; the reference side is computed once per edge
    refresh, not per micro-batch."""
    return _stream_psi_report(spark, sf_dir)


def _stream_psi_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming PSI monitor body — shared by
    ``stream_quality_psi`` and the streaming quarantine gate (which
    acts on this report's verdict), so the monitor and the action
    cannot desync."""
    from ..caching import tracked_persist
    from ..catalog import Catalog
    from ..operators import sketches as sk
    from .curation_queries import (
        psi_bucket_expr,
        psi_from_bucket_counts,
        psi_score_frame,
    )

    static_docs = Catalog(spark, sf_dir).documents
    sc_static = tracked_persist(psi_score_frame(static_docs))
    g = sc_static.withColumn("g", F.lit("*"))
    samp = sk.bottomk_sample(g, F.col("doc_id"), "g")
    edges_row = sk.sample_quantiles(
        samp, "score", F.col("doc_id"),
        list(range(10, 100, 10)), "g", prefix="e",
    ).first()
    edges = [int(edges_row[f"e_p{p}"]) for p in range(10, 100, 10)]

    refc = sc_static.select(
        psi_bucket_expr(edges).alias("bucket")
    ).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_ref")
    )

    arriving = psi_score_frame(documents_stream(spark, sf_dir))
    agg = arriving.select(
        "source", psi_bucket_expr(edges).alias("bucket")
    ).groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_src_bucket")
    )
    srcc = run_to_memory_sink(
        agg, f"stream_quality_psi_{next(_SINK_SEQ)}", mode="complete"
    ).localCheckpoint(eager=True)  # sources x 10 rows; the summary
    # tail self-joins this frame (totals/grid), and the memory-sink
    # VIEW cannot be self-joined (conflicting attribute ids)
    return psi_from_bucket_counts(srcc, refc)


from .curation_queries import _PSI_GATE_ORACLE  # noqa: E402  (the batch gate oracle the streaming twin shares; same cycle-free direction as _PSI_ORACLE above)


@query(
    "stream_quality_psi_gate",
    # shares the batch llm_quality_psi_gate oracle: on a bounded
    # stream the quarantined-and-retained corpus must equal the batch
    # gate's answer bit-for-bit
    _PSI_GATE_ORACLE,
)
def stream_quality_psi_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING form of ``llm_quality_psi_gate`` — the quarantine
    ACTION where it actually runs in production: on the document
    ingest stream. Phase 1 is the shared streaming monitor
    (``_stream_psi_report`` — the same body ``stream_quality_psi``
    returns), whose per-source verdict frame is reduced to the kept
    set (psi_total_micro < ``PSI_DRIFT_MICRO``, the complement of
    ``drifted``) and checkpointed. Phase 2 re-drives the document
    stream through a STREAM-STATIC inner join against that verdict
    frame — the standard production shape where the quarantine table
    is refreshed per monitor cadence and the ingest stream joins
    against it; no literal-baking of the source set (source
    cardinality is corpus-dependent, the batch gate's documented
    no-hint rationale) and no broadcast hint (AQE upgrades the
    verdict side from observed size).

    Scale posture: the monitor's cost plus one more stateless stream
    pass whose per-row work is one join probe; the only driver
    traffic is the monitor's (source x 10)-row complete-mode state.
    Oracle: shares the batch gate's SQL — the stream must reproduce
    the batch-curated corpus bit-for-bit."""
    return stream_quality_psi_gate_frame(spark, sf_dir)


def stream_quality_psi_gate_frame(
    spark: SparkSession, sf_dir: str, drift_micro: int | None = None
) -> DataFrame:
    """Body of ``stream_quality_psi_gate``, parameterized on the
    drift line (the batch ``quality_psi_gate_frame`` precedent) so
    tests can drive a data-derived mid line — at tiny slices every
    small source reads over the production constant and the retained
    set is legitimately empty."""
    from .curation_queries import PSI_DRIFT_MICRO, psi_kept_sources

    if drift_micro is None:
        drift_micro = PSI_DRIFT_MICRO
    kept = psi_kept_sources(
        _stream_psi_report(spark, sf_dir), drift_micro
    ).localCheckpoint(eager=True)  # sources-sized verdict frame;
    # checkpointed so the second stream's static side does not
    # re-run the monitor per micro-batch; the reduction itself is the
    # shared psi_kept_sources — the batch gate, the capstone and this
    # twin cannot disagree on the kept set
    arriving = documents_stream(spark, sf_dir)
    out = arriving.join(kept, "source").select(
        "doc_id", "lang", "source", "psi_total_micro"
    )
    return run_to_memory_sink(
        out, f"stream_quality_psi_gate_{next(_SINK_SEQ)}", mode="append"
    )  # stateless filter pass: append emits every joined row; no
    # window/watermark is involved, so nothing is ever held back


from .similarity_queries import _CAL_SEARCH_ORACLE  # noqa: E402  (the batch calibrate->search oracle the streaming serving twin shares; similarity_queries imports nothing from this module, so the early import is cycle-free)


@query(
    "stream_sim_ivf_search",
    # shares the batch llm_sim_ivf_calibrated_search oracle: a
    # bounded query stream searched against the static index must
    # produce the batch answer bit-for-bit
    _CAL_SEARCH_ORACLE,
)
def stream_sim_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING form of ``llm_sim_ivf_calibrated_search`` — ANN
    SERVING where it actually runs in production: queries arrive as a
    stream and are searched against the STATIC index at the
    calibrated operating point. The calibration (nprobe curve ->
    chosen probe count) happens driver-side exactly as the batch row
    does it (shared ``nprobe_curve_frame`` + ``_choose_nprobe``, so
    the twins cannot disagree on the point); per arriving query the
    top-chosen probe lists come from a STATELESS literal-centroid
    expression (``ivf_probe_assign_literal`` — the k centroids baked
    into the projection, the ``ivf_assign_literal`` closure-constant
    pattern, no window on the stream), candidates come from one
    STREAM-STATIC equi-join against the persisted assigned index on
    centroid_id, and scoring is a stateless per-row cosine. Scored
    candidates land in the append-mode sink; the final top-10 merge
    per query is a BATCH window over the (queries x probed-list)-
    sized sink — the serving-layer merge step, deliberately NOT
    per-query streaming state (per-query candidate lists are
    corpus-proportional, exactly what must never accumulate in a
    state store).

    Scale posture: per arriving query the stream does k literal
    cosines + one equi-join probe + |candidate| cosines — no shuffle
    wider than the candidate rows, no streaming state at all; the
    static side is assigned once and persisted; the merge input is
    the same candidate relation the batch row ranks."""
    from ..caching import tracked_persist
    from ..catalog import Catalog
    from ..operators import similarity as sim
    from ..streaming.windows import embeddings_stream
    from .similarity_queries import (
        IVF_TARGET_RECALL_PCT,
        _choose_nprobe,
        nprobe_curve_frame,
    )
    from pyspark.sql import Window as W

    emb = Catalog(spark, sf_dir).embeddings

    # The calibration leg (nprobe curve -> chosen probe count, measured
    # 2.1-2.5 s warm) and the serving-index leg (k-row centroid collect
    # + assigned-index persist materialization, 0.9-1.3 s warm) are
    # INDEPENDENT chains of driver-blocking jobs that only meet when
    # the stream is wired up. Run them as two concurrent driver threads
    # (optimization guide §2.6 — the r14 curate-capstone pattern) so
    # the pre-stream setup costs max(leg), not sum(legs). Results are
    # unchanged: each leg reads only its own inputs; the tracked-
    # persist list appends are GIL-atomic.
    from ..concurrency import run_legs

    def _calibration_leg():
        return _choose_nprobe(
            nprobe_curve_frame(spark, emb).collect(), IVF_TARGET_RECALL_PCT
        )  # bounded: one row per probe count 1..IVF_NPROBE_MAX

    def _index_leg():
        centroids_df = emb.groupBy(F.col("label").alias("centroid_id")).agg(
            F.min_by("embedding", "vec_id").alias("embedding")
        )
        cents = [
            (int(r["centroid_id"]), list(r["embedding"]))
            for r in centroids_df.collect()
        ]  # k rows: the documented closure-broadcast constant
        assigned = tracked_persist(
            sim.ivf_assign(emb, centroids_df).select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("_nv"),
                "centroid_id",
            )
        )
        # materialize the persisted serving index NOW, inside the
        # overlap window (the stream-static join would otherwise pay
        # for it serially on the stream's first micro-batch)
        assigned.write.format("noop").mode("overwrite").save()
        return cents, assigned

    # shared InheritableThread-wrapped pool (concurrency.run_legs,
    # r14 ADVICE): no fresh paired JVM threads per invocation
    (chosen, met), (cents, assigned) = run_legs(
        _calibration_leg, _index_leg
    )
    arriving = embeddings_stream(spark, sf_dir).where(F.col("vec_id") < 5)
    cand = (
        sim.ivf_probe_assign_literal(arriving, cents, chosen)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("_qv"),
            "centroid_id",
        )
        .join(assigned, "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            sim.cosine(F.col("_nv"), F.col("_qv")).alias("score"),
        )
    )
    sunk = run_to_memory_sink(
        cand, f"stream_sim_ivf_search_{next(_SINK_SEQ)}", mode="append"
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        sunk.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            "score",
            "rank",
            F.lit(int(chosen)).cast("long").alias("chosen_nprobe"),
            F.lit(int(met)).cast("long").alias("met_target"),
        )
    )


@query(
    "stream_line_dedup",
    # shares the batch llm_line_dedup oracle: a bounded document
    # stream cleaned against the learned boilerplate set must
    # reproduce the batch per-doc retention report bit-for-bit
    _LINE_DEDUP_ORACLE,
)
def stream_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING form of ``llm_line_dedup`` — boilerplate-line
    removal where it actually runs in production: the corpus-wide
    line-frequency pass learns the boilerplate set at monitor
    cadence, and the document INGEST stream is cleaned against it.
    The boilerplate frame is batch-derived and checkpointed (it is
    corpus-dependent and unbounded, so it is neither collected,
    broadcast-hinted, nor baked into literals — the r11 hot-shingle
    lesson); every arriving document's window-lines come from a
    STATELESS narrow explode (``line_windows`` — split, sequence
    explode, slice; no window, no watermark), and each line is
    flagged via one STREAM-STATIC left join probe against the
    boilerplate set. Flagged line rows land in the append-mode sink;
    the per-document retention report is a BATCH aggregate over the
    sink joined to the static corpus's token counts (the
    ``stream_sim_ivf_search`` batch-merge precedent: per-doc counts
    are corpus-proportional, exactly what must never accumulate in a
    state store — documents shorter than one line never reach the
    sink and enter through the static base frame with zero counts).

    Scale posture: per arriving document the stream does one narrow
    explode + |lines| join probes — no streaming state at all; the
    static side is one checkpointed aggregate refreshed per cadence.
    Oracle: shares the batch row's SQL."""
    from ..catalog import Catalog
    from ..operators import dedup as dd

    docs = Catalog(spark, sf_dir).documents
    boiler = (
        dd.boilerplate_lines(dd.line_windows(docs))
        .select("line", F.lit(1).alias("_hit"))
        .localCheckpoint(eager=True)
    )
    arriving = documents_stream(spark, sf_dir)
    flagged = (
        dd.line_windows(arriving)
        .join(boiler, "line", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_hit"), F.lit(0)).alias("hit"),
        )
    )
    sunk = run_to_memory_sink(
        flagged, f"stream_line_dedup_{next(_SINK_SEQ)}", mode="append"
    )  # stateless flag pass: append emits every line row as it
    # arrives; nothing is windowed, so nothing is ever held back
    per_doc = sunk.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_nl"),
        F.sum("hit").alias("_ndrop"),
    )
    return dd.line_retention_report(docs, per_doc)
