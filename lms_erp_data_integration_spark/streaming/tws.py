"""Second-generation custom stateful operator via Spark 4's
``transformWithStateInPandas`` (the arbitrary-state successor to
``applyInPandasWithState``): typed per-key state handles (value / list
/ map), timers, and TTL — the API new streaming operators should
target.

Requires the RocksDB state-store provider
(``spark.sql.streaming.stateStore.providerClass``) and a
``google.protobuf`` runtime at EXECUTION time (the TWS worker speaks
protobuf to the state server). This container ships pyspark 4.1.2
without ``protobuf``; since r13 the vendored pure-Python shim
(``vendor/pbshim`` — wire format + dynamic messages, real package
wins when installed) unblocks execution: ``session.get_spark``
resolves it onto PYTHONPATH before the JVM launches so the Python
workers inherit it. End-to-end execution is tested
(``tests/test_streaming.py::test_tws_executes_matches_batch``) and
registered as the driver row ``stream_tws_user_totals`` with the
same batch oracle as the v1 ``applyInPandasWithState`` row.

State here is a single int64 ValueState per user: order-independent
integer accumulation, so on a bounded source the final state equals
the SQL aggregate bit-for-bit — same determinism contract as
``stateful.py``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

OUTPUT_SCHEMA = "user_id long, n_events long, total_value_micros long"
_STATE_SCHEMA = "n_events long, total_value_micros long"


class UserTotalsProcessor(StatefulProcessor):
    """Per-user running (count, exact integer sum) in a ValueState."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState("totals", _STATE_SCHEMA)

    def handleInputRows(
        self, key, rows, timerValues
    ) -> Iterator[pd.DataFrame]:
        n, tot = self._totals.get() if self._totals.exists() else (0, 0)
        for pdf in rows:
            n += len(pdf)
            tot += int(pdf["v_micros"].sum())
        self._totals.update((n, tot))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value_micros": [tot],
            }
        )

    def close(self) -> None:
        pass


def _ensure_worker_protobuf(events: DataFrame) -> None:
    """Make ``google.protobuf`` importable in the Python workers this
    plan will spawn, even when the JVM was launched (by a harness that
    doesn't use ``session.get_spark``) before the shim path existed:
    pyspark ships ``sc.environment`` with every wrapped function and
    the JVM merges its ``PYTHONPATH`` entry into the worker
    environment (``_prepare_for_python_RDD`` -> SimplePythonFunction
    envVars), so a runtime update here reaches both the TWS driver
    worker and the per-task workers."""
    import os

    from ..vendor import _PBSHIM_DIR, ensure_protobuf

    mode = ensure_protobuf()
    if mode == "missing":
        # get_spark degrades to "missing" instead of failing session
        # creation (a regular `google` package without protobuf
        # shadows the shim's namespace dir); TWS is the one surface
        # that genuinely needs the runtime, so it raises at use.
        raise ImportError(
            "transformWithStateInPandas needs a google.protobuf "
            "runtime, and an installed non-namespace 'google' package "
            "shadows both the real distribution and the vendored shim"
        )
    if mode == "shim":
        sc = events.sparkSession.sparkContext
        existing = sc.environment.get("PYTHONPATH", "")
        if _PBSHIM_DIR not in existing.split(os.pathsep):
            sc.environment["PYTHONPATH"] = _PBSHIM_DIR + (
                os.pathsep + existing if existing else ""
            )


def tws_running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals through ``transformWithStateInPandas``.

    At 100 TB the state shards by user across the RocksDB state store
    exactly like the v1 operator; what TWS adds is the typed state
    surface (list/map state, timers, TTL) without changing the
    partitioning story."""
    _ensure_worker_protobuf(events)
    scaled = events.select(
        "user_id",
        F.round(F.col("value") * 1_000_000).cast("long").alias("v_micros"),
    )
    return scaled.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotalsProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


BYTYPE_OUTPUT_SCHEMA = (
    "user_id long, event_type string, n_events long, "
    "total_value_micros long, user_rows long, user_total_micros long"
)
_MAP_KEY_SCHEMA = "event_type string"
_MAP_VALUE_SCHEMA = "n long, tot long"


class UserByTypeProcessor(StatefulProcessor):
    """Per-user MAP state (event_type -> exact integer (count, sum))
    plus a ValueState roll-up — the MapState legs of the protobuf
    worker protocol (exists/containsKey/getValue/updateValue/
    iterator). The per-user roll-up lives in ValueState, NOT a
    re-scanned list: re-reading a value log every micro-batch would
    cost O(batches x user events) per key at scale, so the log-read
    pattern belongs to the timer-flush row (one scan, at expiry —
    ``UserTimerFlushProcessor``). Every accumulator is an
    order-independent integer, so the final per-(user, event_type)
    rows equal the SQL aggregate bit-for-bit on a bounded source.
    Timers are deliberately NOT used here: a processing-time timer
    fires on wall clock, which would break the oracle's determinism
    contract (timeMode="None" pins that)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._by_type = handle.getMapState(
            "by_type", _MAP_KEY_SCHEMA, _MAP_VALUE_SCHEMA
        )
        self._roll = handle.getValueState("roll", _STATE_SCHEMA)

    def handleInputRows(
        self, key, rows, timerValues
    ) -> Iterator[pd.DataFrame]:
        user_rows, user_total = (
            self._roll.get() if self._roll.exists() else (0, 0)
        )
        for pdf in rows:
            user_rows += len(pdf)
            user_total += int(pdf["v_micros"].sum())
            # dropna=False: a NULL event_type is a group to the SQL
            # oracle (GROUP BY keeps it) so it must be one here too.
            # pandas yields float('nan') (not None) as the missing
            # group key on object columns — normalize to None so the
            # string-keyed MapState stores a real SQL NULL instead of
            # erroring or minting a spurious 'nan' key
            # (test_tws_by_type_null_event_type pins this).
            g = pdf.groupby("event_type", dropna=False)["v_micros"]
            for et, ser in g:
                et = et if pd.notna(et) else None
                if self._by_type.containsKey((et,)):
                    n, tot = self._by_type.getValue((et,))
                else:
                    n, tot = 0, 0
                self._by_type.updateValue(
                    (et,), (n + int(ser.size), tot + int(ser.sum()))
                )
        self._roll.update((user_rows, user_total))
        ets, ns, tots = [], [], []
        for k, v in self._by_type.iterator():
            ets.append(k[0])  # None round-trips as SQL NULL
            ns.append(int(v[0]))
            tots.append(int(v[1]))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(ets),
                "event_type": ets,
                "n_events": ns,
                "total_value_micros": tots,
                "user_rows": [user_rows] * len(ets),
                "user_total_micros": [user_total] * len(ets),
            }
        )

    def close(self) -> None:
        pass


def tws_user_event_type_stats(events: DataFrame) -> DataFrame:
    """Per-(user, event_type) exact integer stats + per-user roll-up
    through MapState + a ValueState accumulator (see
    ``UserByTypeProcessor``; the ListState log-read pattern lives in
    the timer-flush operator, where the log is scanned once).

    At 100 TB: state shards by user_id; the map fans out by event
    type WITHIN the user's state entry (bounded domain) — everything
    lives in the RocksDB store, nothing corpus-sized crosses the
    driver and no state is re-scanned per batch."""
    _ensure_worker_protobuf(events)
    scaled = events.select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 1_000_000).cast("long").alias("v_micros"),
    )
    return scaled.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserByTypeProcessor(),
        outputStructType=BYTYPE_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


TIMER_OUTPUT_SCHEMA = (
    "user_id long, n_events long, total_value_micros long, "
    "logged_rows long, logged_total_micros long, fired_at_ms long"
)
_LIST_SCHEMA = "v long"  # the timer processor's per-row value log

# Fixed absolute event-time expiry (2000-01-01T00:00:00Z). The events
# table's timestamps are ~2024, so the expiry PREDATES every event and
# the timer becomes eligible the first time the watermark advances at
# all — i.e. in the no-data pass after the single data micro-batch.
# That single-batch shape is STRUCTURAL here, not luck: events_stream
# reads the one-file events table with maxFilesPerTrigger=1, so a
# bounded run is exactly one data batch + one watermark pass, and the
# flush always carries FULL totals. If the structure ever changes
# (multi-file table, a different maxFilesPerTrigger), the one-row-per
# -user contract is still enforced mechanically: a never-cleared
# ``flushed`` ValueState marks emission, and post-flush batches are
# dropped without re-registering the already-past expiry — a second
# data batch can no longer masquerade as first sight and double-emit
# partial totals (the flush clears the accumulators, so first-sight
# detection via ``_tot.exists()`` alone would be wrong exactly then).
TIMER_FLUSH_AT_MS = 946_684_800_000
_FLUSHED_SCHEMA = "f long"  # presence == this key already emitted


class UserTimerFlushProcessor(StatefulProcessor):
    """Totals accumulate silently in ValueState AND a ListState value
    log (appendList per batch — append-only, never re-read on the hot
    path); the ONLY emission is the event-time timer flush
    (``handleExpiredTimer``), where the log is scanned exactly ONCE
    (``ListState.get``) — the timer-driven finalize pattern (session
    close-out) a production stateful pipeline uses, exercising the
    registerTimer / expiry-iterator protocol legs plus the
    one-scan-at-flush log-read pattern. The flush row carries both
    the ValueState totals and the log-derived totals; the oracle pins
    them equal (logged_rows == n_events etc.), so a log/accumulator
    divergence fails the hash."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._tot = handle.getValueState("tot", _STATE_SCHEMA)
        self._vals = handle.getListState("vmicros", _LIST_SCHEMA)
        # Never cleared: distinguishes "flushed" from "never seen"
        # after the flush reclaims the accumulators (see the module
        # comment above TIMER_FLUSH_AT_MS). One int64, key-sized.
        self._flushed = handle.getValueState("flushed", _FLUSHED_SCHEMA)
        self._handle = handle

    def handleInputRows(
        self, key, rows, timerValues
    ) -> Iterator[pd.DataFrame]:
        if self._flushed.exists():
            # Post-flush data (only reachable if the single-batch
            # structure changes): drop it rather than re-register the
            # already-past expiry and emit a second, partial row.
            for _ in rows:
                pass
            return iter([])
        first_sight = not self._tot.exists()
        n, tot = (0, 0) if first_sight else self._tot.get()
        for pdf in rows:
            n += len(pdf)
            tot += int(pdf["v_micros"].sum())
            self._vals.appendList([(int(v),) for v in pdf["v_micros"]])
        self._tot.update((n, tot))
        if first_sight:
            self._handle.registerTimer(TIMER_FLUSH_AT_MS)
        return iter([])

    def handleExpiredTimer(
        self, key, timerValues, expiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        if self._flushed.exists():  # one emission per key, ever
            return iter([])
        self._flushed.update((1,))
        n, tot = self._tot.get() if self._tot.exists() else (0, 0)
        logged_rows = 0
        logged_total = 0
        for row in self._vals.get():  # ONE scan, at flush
            logged_rows += 1
            logged_total += int(row[0])
        # close-out semantics: the flush RECLAIMS the state (the log is
        # event-sized — leaving it in RocksDB after emission would be
        # unbounded growth on an unbounded stream)
        self._vals.clear()
        self._tot.clear()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value_micros": [tot],
                "logged_rows": [logged_rows],
                "logged_total_micros": [logged_total],
                "fired_at_ms": [
                    int(expiredTimerInfo.getExpiryTimeInMs())
                ],
            }
        )

    def close(self) -> None:
        pass


def tws_timer_flush_totals(events: DataFrame) -> DataFrame:
    """Per-user totals emitted ONLY by an event-time timer (see
    ``UserTimerFlushProcessor``): watermarked input, Append mode —
    nothing leaves the operator until the watermark crosses the fixed
    flush timestamp, then exactly one row per user.

    At 100 TB: identical state sharding to the other TWS rows; timers
    live in the same RocksDB store keyed by (user, expiry), and the
    flush batch emits one row per key — the output is key-sized, never
    event-sized."""
    _ensure_worker_protobuf(events)
    scaled = events.withWatermark("ts", "0 seconds").select(
        "ts",
        "user_id",
        F.round(F.col("value") * 1_000_000).cast("long").alias("v_micros"),
    )
    return scaled.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTimerFlushProcessor(),
        outputStructType=TIMER_OUTPUT_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )
