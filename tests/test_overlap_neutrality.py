"""The §2.6 leg-overlap rows must be CONCURRENCY-NEUTRAL: a plan whose
independent driver-blocking legs run from the shared thread pool
(``concurrency.run_legs``) must produce bit-identical rows to the same
legs run inline on the calling thread. Pinned by monkeypatching
``concurrent.futures.ThreadPoolExecutor`` with a serial inline
executor (``run_legs`` resolves the pool class at call time, so the
patch takes effect per invocation).

Scope (r14 ADVICE #5): the serial arm pins "threaded legs == the same
legs run inline", not "new == pre-overlap code" — for
sync_pipeline_run_report the pre-change code had no mirror
materialization block at all, so a third arm additionally skips
``run_legs`` entirely (the materializations are noop sinks whose
results are unused) and pins THAT equality too.
"""

from __future__ import annotations

import concurrent.futures as cf

import pytest

import lms_erp_data_integration_spark.concurrency as concurrency
import lms_erp_data_integration_spark.plans as plans
from lms_erp_data_integration_spark.caching import release_cached


@pytest.mark.parametrize(
    "name", ["sync_pipeline_run_report", "stream_sim_ivf_search"]
)
def test_threaded_legs_match_serial_rows(
    spark, sf_dir, name, monkeypatch, serial_executor
):
    fn = plans.QUERIES[name]
    threaded = sorted(map(tuple, fn(spark, sf_dir).collect()))
    release_cached()
    monkeypatch.setattr(cf, "ThreadPoolExecutor", serial_executor)
    serial = sorted(map(tuple, fn(spark, sf_dir).collect()))
    release_cached()
    assert threaded == serial
    assert threaded  # non-empty: the plan actually ran both arms


def test_run_report_matches_without_materialization(
    spark, sf_dir, monkeypatch
):
    """The pre-overlap form of sync_pipeline_run_report had no mirror
    materialization block; its noop-sink legs return nothing, so
    skipping run_legs entirely must leave the rows bit-identical (the
    frames materialize lazily inside the first sink action that reads
    them, the pre-r14 ordering)."""
    fn = plans.QUERIES["sync_pipeline_run_report"]
    threaded = sorted(map(tuple, fn(spark, sf_dir).collect()))
    release_cached()
    monkeypatch.setattr(
        concurrency, "run_legs", lambda *fns: [None] * len(fns)
    )
    skipped = sorted(map(tuple, fn(spark, sf_dir).collect()))
    release_cached()
    assert threaded == skipped
    assert threaded
