"""Unit tests for the snapshot-diff family (SURVEY.md section 2.4),
on FIXTURES.md section C-style synthetic ERP/mirror frames covering:
adds, drops, no-ops, other-term exclusion."""

from __future__ import annotations

import pytest

from lms_erp_data_integration_spark.operators import (
    missing_rows,
    present_rows,
    snapshot_diff,
)
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def erp(spark):
    rows = [
        ("C1", 1001, "student", "S1", "21", "1S"),  # in both -> no-op
        ("C1", 1002, "student", "S1", "21", "1S"),  # add
        ("C2", 1003, "teacher", "S2", "21", "1S"),  # add
        ("C9", 1009, "student", "S9", "20", "2S"),  # other term
    ]
    return spark.createDataFrame(
        rows,
        "course_id string, user_id long, role string, section_id string,"
        " yr_cde string, trm_cde string",
    )


@pytest.fixture(scope="module")
def mirror(spark):
    rows = [
        ("C1", 1001, "student", "S1", "21", "1S", -1),  # no-op
        ("C3", 1004, "student", "S3", "21", "1S", -1),  # drop (SIS-managed)
        ("C4", 1005, "student", "S4", "21", "1S", 0),  # manual -> never drop
    ]
    return spark.createDataFrame(
        rows,
        "course_id string, user_id long, role string, section_id string,"
        " yr_cde string, trm_cde string, created_by_sis int",
    )


KEYS = ["course_id", "user_id", "role", "section_id"]


def term_slice(df, yr="21", trm="1S"):
    return df.where((F.col("yr_cde") == yr) & (F.col("trm_cde") == trm))


def test_missing_rows(spark, erp, mirror):
    out = missing_rows(term_slice(erp), term_slice(mirror), KEYS)
    got = {(r["course_id"], r["user_id"]) for r in out.collect()}
    assert got == {("C1", 1002), ("C2", 1003)}


def test_present_rows(spark, erp, mirror):
    out = present_rows(term_slice(erp), term_slice(mirror), KEYS)
    assert [(r["course_id"], r["user_id"]) for r in out.collect()] == [("C1", 1001)]


def test_snapshot_diff_daily_enrollment(spark, erp, mirror):
    """Q5: adds active, drops deleted — drops only for created_by_sis=-1."""
    truth = term_slice(erp)
    sis_mirror = term_slice(mirror).where(F.col("created_by_sis") == -1)
    out = snapshot_diff(truth, sis_mirror, KEYS)
    got = {(r["course_id"], r["user_id"], r["status"]) for r in out.collect()}
    assert got == {
        ("C1", 1002, "active"),
        ("C2", 1003, "active"),
        ("C3", 1004, "deleted"),
    }
    # manual row C4 (created_by_sis=0) must never be dropped
    assert ("C4", 1005, "deleted") not in got


def test_anti_join_default_leaves_strategy_to_aqe(spark, erp, mirror):
    """The sync diff sides are year-slices of fact tables — they grow
    with the corpus, so the diff must carry NO forced broadcast hint
    (a hint bypasses autoBroadcastJoinThreshold and hard-fails past the
    8 GB / 512M-row broadcast limits). Size-based selection must still
    pick a broadcast anti-join when the mirror is actually small."""
    out = missing_rows(term_slice(erp), term_slice(mirror), KEYS)
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in logical
    # local-relation stats are unknown pre-execution, so the strategy
    # decision is AQE's: execute, then read the FINAL adaptive plan —
    # the tiny mirror's observed size must promote it to broadcast
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_drift_buckets_detects_only_drifted(spark):
    from pyspark.sql import functions as F

    from lms_erp_data_integration_spark.operators.diff import drift_buckets

    src = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v")
    )
    ck = F.col("k") * 1000003 + F.col("v")
    # identical mirror: no drift rows at all
    assert drift_buckets(src, src, ck, F.col("k"), 16).count() == 0
    # drop one row (k=130 -> bucket 2) and corrupt one value
    # (k=37 -> bucket 5): exactly those two buckets must surface
    mirror = src.where(F.col("k") != 130).withColumn(
        "v", F.when(F.col("k") == 37, F.lit(0)).otherwise(F.col("v"))
    )
    got = {
        r["bucket"]: r for r in drift_buckets(
            src, mirror, ck, F.col("k"), 16
        ).collect()
    }
    assert set(got) == {130 % 16, 37 % 16}
    assert got[130 % 16]["src_rows"] == got[130 % 16]["mir_rows"] + 1
    # the corrupted bucket has equal counts but differing checksums
    assert got[37 % 16]["src_rows"] == got[37 % 16]["mir_rows"]
    assert got[37 % 16]["src_checksum"] != got[37 % 16]["mir_checksum"]


def test_reconcile_mirror_scoped_equals_full_diff(spark):
    from pyspark.sql import functions as F

    from lms_erp_data_integration_spark.operators.diff import (
        reconcile_mirror,
        snapshot_diff,
    )

    src = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    mirror = src.where(~F.col("k").isin(42, 137)).unionByName(
        spark.createDataFrame([(9999, 0)], "k long, v long")
    )
    ck = F.col("k") * 1000003 + F.col("v")
    scoped = reconcile_mirror(src, mirror, ["k"], ck, F.col("k"), 16)
    full = snapshot_diff(
        src, mirror, ["k"],
        add_status="missing_in_mirror", drop_status="extra_in_mirror",
    )
    assert sorted(map(tuple, scoped.collect())) == sorted(
        map(tuple, full.collect())
    )
    got = {(r["k"], r["status"]) for r in scoped.collect()}
    assert got == {
        (42, "missing_in_mirror"),
        (137, "missing_in_mirror"),
        (9999, "extra_in_mirror"),
    }
