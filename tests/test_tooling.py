"""The measurement tooling: ``bench.timed_run``, ``scripts/ab.py``'s
``run_ab``, and that every script still imports."""

from __future__ import annotations

import importlib
import os
import threading

import pytest

import bench
from lms_erp_data_integration_spark import caching
from lms_erp_data_integration_spark.concurrency import run_legs

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")


def _leg_runs_on_a_pool_thread() -> bool:
    """A serial arm is over: legs run on the pool again."""
    return run_legs(threading.get_ident) != [threading.get_ident()]


@pytest.fixture
def ab(monkeypatch):
    monkeypatch.syspath_prepend(SCRIPTS)
    return importlib.import_module("ab")


def test_timed_run_times_labels_and_releases(spark, sf_dir):
    seen = {}

    def ok(spark, sf):
        seen["label"] = spark.sparkContext.getLocalProperty("spark.job.description")
        seen["df"] = caching.tracked_persist(spark.range(10))
        return seen["df"]

    errors: dict[str, str] = {}
    assert bench.timed_run(spark, sf_dir, errors, ok, "ok_q") >= 0
    assert seen["label"] == "bench: ok_q"
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
    assert not seen["df"].is_cached and not caching._TRACKED
    assert errors == {}


def test_timed_run_records_first_error_per_name(spark, sf_dir):
    calls = []

    def bad(spark, sf):
        calls.append(1)
        raise ValueError(f"planted failure {len(calls)}\nsecond line")

    errors: dict[str, str] = {}
    assert bench.timed_run(spark, sf_dir, errors, bad, "bad_q") == -1.0
    assert bench.timed_run(spark, sf_dir, errors, bad, "bad_q") == -1.0
    assert errors == {"bad_q": "ValueError: planted failure 1"}
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


def test_run_ab_serial_arm_rows_equal(spark, sf_dir, ab):
    from lms_erp_data_integration_spark import plans

    q = "sync_pipeline_run_report"
    doc = ab.run_ab(spark, {q: plans.QUERIES[q]}, ["base", "seq:serial"], 1, sf_dir)
    assert _leg_runs_on_a_pool_thread()
    assert doc["rows_equal"] is True and doc["errors"] == {}
    assert doc["queries"] == [q] and list(doc["arms"]) == ["base", "seq"]
    base, seq = doc["arms"]["base"], doc["arms"]["seq"]
    assert set(base) == {"sweeps", "min", "median", "per_query"}
    assert set(seq) == set(base) | {"min_ratio", "median_ratio"}
    assert len(seq["sweeps"]) == 1 and len(seq["per_query"][q]) == 1


def test_run_ab_reports_row_mismatch_and_restores_conf(spark, sf_dir, ab):
    key = "x.ab.n"
    spark.conf.unset(key)

    def q(spark, sf):
        return spark.range(int(spark.conf.get(key)))

    doc = ab.run_ab(spark, {"rng": q}, [f"a:{key}=3", f"b:{key}=4"], 1, sf_dir)
    assert doc == {"rows_equal": False, "mismatch": ["b: rng"]}
    assert spark.conf.get(key, None) is None

    spark.conf.set(key, "2")
    try:
        doc = ab.run_ab(spark, {"rng": q}, [f"a:{key}=3,serial", "b:serial"], 1, sf_dir)
        assert doc["rows_equal"] is False
        assert spark.conf.get(key) == "2" and _leg_runs_on_a_pool_thread()
    finally:
        spark.conf.unset(key)


def test_parse_arm_rejects_unknown_spec(ab):
    assert ab.parse_arm("advisory:a.b=false,serial") == ("advisory", {"a.b": "false"}, True)
    with pytest.raises(ValueError, match="neither"):
        ab.parse_arm("x:bogus")


@pytest.mark.parametrize(
    "name",
    sorted(f[:-3] for f in os.listdir(SCRIPTS) if f.endswith(".py")) + ["bench"],
)
def test_script_imports(name, monkeypatch):
    """Every script imports without running its ``main``, so one left
    importing a deleted helper fails here, not at its next run."""
    monkeypatch.syspath_prepend(SCRIPTS)
    mod = importlib.import_module(name)
    assert callable(mod.main)
