"""The §2.6 leg-overlap rows must be CONCURRENCY-NEUTRAL: a plan whose
independent driver-blocking legs run from the shared thread pool
(``concurrency.run_legs``) must produce bit-identical rows to the same
legs run inline on the calling thread. Pinned with
``concurrency.serial_legs`` (``run_legs`` reads its flag on every call,
so the switch takes effect per invocation).

Scope (r14 ADVICE #5): the serial arm pins "threaded legs == the same
legs run inline", not "new == pre-overlap code" — for
sync_pipeline_run_report the pre-change code had no mirror
materialization block at all, so a third arm additionally skips
``run_legs`` entirely (the materializations are noop sinks whose
results are unused) and pins THAT equality too.
"""

from __future__ import annotations

import threading

import pytest

import lms_erp_data_integration_spark.concurrency as concurrency
import lms_erp_data_integration_spark.plans as plans
from lms_erp_data_integration_spark.caching import release_cached


@pytest.mark.parametrize(
    "name", ["sync_pipeline_run_report", "stream_sim_ivf_search"]
)
def test_threaded_legs_match_serial_rows(spark, sf_dir, name):
    fn = plans.QUERIES[name]
    threaded = sorted(map(tuple, fn(spark, sf_dir).collect()))
    release_cached()
    with concurrency.serial_legs():
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


def test_legs_carry_the_callers_tags_and_leave_none_behind(spark, recwarn):
    """Each leg sees the caller's session tags; a pool thread reused by a
    later call carries no stale tag; serial legs leave the caller's
    tags as they were."""
    barrier = threading.Barrier(concurrency._POOL_WORKERS, timeout=60)

    def tags():
        barrier.wait()  # one leg per pool thread
        return sorted(spark.getTags())

    legs = [tags] * concurrency._POOL_WORKERS
    spark.addTag("ab_x")
    try:
        assert concurrency.run_legs(*legs) == [["ab_x"]] * len(legs)
    finally:
        spark.removeTag("ab_x")
    assert concurrency.run_legs(*legs) == [[]] * len(legs)

    def tag_inside():
        spark.addTag("leg")
        return sorted(spark.getTags())

    spark.addTag("ab_y")
    try:
        with concurrency.serial_legs():
            assert concurrency.run_legs(tag_inside) == [["ab_y", "leg"]]
        assert sorted(spark.getTags()) == ["ab_y"]
    finally:
        spark.removeTag("ab_y")
    assert not [w for w in recwarn if "Tags will not be inherited" in str(w.message)]


def test_legs_called_from_a_thread_without_a_session(spark):
    out = []
    t = threading.Thread(target=lambda: out.append(concurrency.run_legs(lambda: 1, lambda: 2)))
    t.start()
    t.join(60)
    assert not t.is_alive() and out == [[1, 2]]
