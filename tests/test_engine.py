"""End-to-end SyncEngine test: raw reports -> mirrors -> seven updates
-> FK-ordered sink -> report, on FIXTURES.md section C fixture data
covering adds, drops, no-ops, and other-term exclusion."""

from __future__ import annotations

import datetime as dt

import pytest

from lms_erp_data_integration_spark.pipeline.engine import SyncEngine, convert_term_id
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    erp = {
        "reg_config": spark.createDataFrame(
            [("21 ", "1S ")], "CUR_YR_DFLT string, CUR_TRM_DFLT string"
        ),
        "faculty": spark.createDataFrame(
            [
                (2001, "prof.a", "Ada", "Prof", "21", "1S"),  # already mirrored
                (2002, "prof.b", "Bob", "Prof", "21", "1S"),  # add
            ],
            "id_num long, login_id string, first_name string, last_name string,"
            " yr_cde string, trm_cde string",
        ),
        "students": spark.createDataFrame(
            [
                (1001, "stu.a", "Al", "Stu", "21", "1S"),  # mirrored
                (1002, "stu.b", "Bea", "Stu", "21", "1S"),  # add
                (1003, "stu.c", "Cy", "Stu", "20", "2S"),  # other term
            ],
            "id_num long, login_id string, first_name string, last_name string,"
            " yr_cde string, trm_cde string",
        ),
        "courses": spark.createDataFrame(
            [
                ("MATH101", "Calculus", "21", "1S"),  # mirrored
                ("CS200", "Spark", "21", "1S"),  # add
            ],
            "crs_cde string, title string, yr_cde string, trm_cde string",
        ),
        "sections": spark.createDataFrame(
            [
                ("MATH101", "S1", "Morning", "21", "1S"),  # mirrored (sis)
                ("CS200", "S1", "Lab", "21", "1S"),  # add
            ],
            "crs_cde string, section_id string, name string,"
            " yr_cde string, trm_cde string",
        ),
        "enrollments": spark.createDataFrame(
            [
                ("MATH101", 1001, "student", "S1", "21", "1S"),  # no-op
                ("CS200", 1002, "student", "S1", "21", "1S"),  # add
            ],
            "course_id string, user_id long, role string, section_id string,"
            " yr_cde string, trm_cde string",
        ),
    }
    eng = SyncEngine(
        spark,
        erp,
        str(tmp_path_factory.mktemp("mirrors")),
        term="current",
        run_date=dt.date(2021, 9, 1),
    )
    raw_reports = {
        "users": spark.createDataFrame(
            [("1001", 11, "stu.a"), ("2001", 12, "prof.a"), ("sdemo9", 13, "sdemo+x")],
            "user_id string, canvas_user_id long, login_id string",
        ),
        "courses": spark.createDataFrame(
            [(21, "MATH101", "active")],
            "canvas_course_id long, course_id string, status string",
        ),
        "sections": spark.createDataFrame(
            [
                ("MATH101", "S1", "Morning", "active", 1, 31, True),
                ("OLD1", "S9", "Manual", "active", 1, 32, False),  # manual
            ],
            "course_id string, section_id string, name string, status string,"
            " account_id long, canvas_section_id long, created_by_sis boolean",
        ),
        "enrollments": spark.createDataFrame(
            [
                ("MATH101", "1001", "student", "S1", "active", 41, 31, True),
                ("MATH101", "1009", "student", "S1", "active", 42, 31, True),  # drop
                ("MATH101", "1010", "student", "S1", "active", 43, 31, False),  # manual
            ],
            "course_id string, user_id string, role string, section_id string,"
            " status string, canvas_enrollment_id long, canvas_section_id long,"
            " created_by_sis boolean",
        ),
    }
    eng.update_mirror_tables(raw_reports)
    return eng


def _noop_sink(name, df):
    """A sink that writes nothing, with the one action per update the
    pipeline's observed counts need."""
    df.write.format("noop").mode("overwrite").save()


def test_term_resolution(engine):
    assert engine.params.term_id == "211S"


def test_convert_term_id(spark):
    terms = spark.createDataFrame(
        [(42, "211S"), (43, "212S")], "id long, sis_term_id string"
    )
    assert convert_term_id(terms, "211S") == 42
    assert convert_term_id(terms, "999S") is None


def test_updates_and_fk_ordered_run(engine):
    updates = engine.build_updates()
    got = {
        name: {tuple(r) for r in df.collect()} for name, df in updates.items()
    }
    assert got["faculty_users"] == {(2002, "prof.b", "Bob", "Prof", "active")}
    # other-term student 1003 excluded; mirrored 1001 excluded
    assert got["student_users"] == {(1002, "stu.b", "Bea", "Stu", "active")}
    assert got["courses"] == {("CS200", "CS200", "Spark", "211S", "active")}
    assert got["sections"] == {("S1", "CS200", "Lab", "active")}
    # enrollment diff: add (CS200,1002), drop (MATH101,1009);
    # manual 1010 (created_by_sis=0) never dropped
    assert got["enrollments"] == {
        ("CS200", 1002, "student", "S1", "active"),
        ("MATH101", 1009, "student", "S1", "deleted"),
    }
    assert got["ctl_library_courses"] == {
        ("CTL-CS200", "CS200", "CTL Library Spark", "211S", "active")
    }

    seen: list[str] = []

    def sink(name, df):
        seen.append(name)
        _noop_sink(name, df)

    report = engine.run(sink)
    assert seen == [
        "faculty_users",
        "student_users",
        "courses",
        "sections",
        "enrollments",
        "ctl_library_courses",
        "ctl_library_sections",
    ]
    rows = {r["entity"]: r for r in report.collect()}
    assert rows["enrollments"]["n_active"] == 1
    assert rows["enrollments"]["n_deleted"] == 1


def test_run_applies_materialized_diffs_in_fk_order(engine):
    """The sink receives the seven updates in FK order."""
    from lms_erp_data_integration_spark.pipeline.runner import UPDATE_ORDER

    seen: list[str] = []

    def sink(name, df):
        seen.append(name)
        _noop_sink(name, df)

    engine.run(sink)
    assert seen == list(UPDATE_ORDER)


def _report_rows(df):
    return df.schema.simpleString(), [tuple(r) for r in df.collect()]


def test_run_report_from_observed_counts(engine, spark):
    """run's report has run_report's rows, names and types, and
    showing it runs no Spark job: it is built from the counts the
    sink's writes observed."""
    from lms_erp_data_integration_spark.pipeline.runner import run_report

    report = engine.run(_noop_sink)
    sc = spark.sparkContext
    sc.setJobGroup("sync-report-probe", "collect the observed report")
    try:
        got = _report_rows(report)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("sync-report-probe") == []
    assert got == _report_rows(run_report(engine.build_updates()))


def test_run_report_on_an_empty_update(engine, spark):
    """A night with no missing faculty: the empty update reports
    n_rows 0 and NULL n_active/n_deleted, exactly as run_report's
    aggregates over an empty frame do."""
    from lms_erp_data_integration_spark.pipeline.runner import run_report

    erp = dict(engine.erp)
    erp["faculty"] = erp["faculty"].where(F.col("id_num") == 2001)
    quiet = SyncEngine(
        spark,
        erp,
        engine.mirror_path,
        term="current",
        run_date=dt.date(2021, 9, 1),
    )
    got = _report_rows(quiet.run(_noop_sink))
    assert got == _report_rows(run_report(quiet.build_updates()))
    assert got[1][0][:5] == ("faculty_users", "Account", 0, None, None)


def test_update_plans_run_no_job(engine, spark):
    """Building the seven update plans and their observations runs no
    Spark job, so a night can build them while its gates run."""
    from lms_erp_data_integration_spark.pipeline.runner import SyncPipeline

    sc = spark.sparkContext
    sc.setJobGroup("sync-plan-probe", "build the update plans")
    try:
        SyncPipeline(_noop_sink).observe(engine.build_updates())
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("sync-plan-probe") == []


def test_mirror_cleaning_contracts(engine):
    users = engine.mirror("users")
    # sdemo row filtered by the cleaning spec (canvas.py:70)
    assert users.where(F.col("login_id").rlike("sdemo")).count() == 0
    sections = engine.mirror("sections")
    bits = {r["crs_cde"]: r["created_by_sis"] for r in sections.collect()}
    assert bits == {"MATH101": -1, "OLD1": 0}


def test_dq_gate_blocks_poisoned_mirror(spark, tmp_path):
    """Fail-closed admission (r4 verdict #8): a raw users report with a
    duplicated id must abort the mirror refresh BEFORE the overwrite,
    leaving no partial state for the diff queries to read. The sdemo
    rows the cleaning spec filters never reach the gate."""
    import os

    from lms_erp_data_integration_spark.operators.dq import DQGateError
    from lms_erp_data_integration_spark.pipeline.engine import SyncEngine
    from lms_erp_data_integration_spark.pipeline.mirror import mirror_table_path

    erp = {
        "reg_config": spark.createDataFrame(
            [("21 ", "1S ")], "CUR_YR_DFLT string, CUR_TRM_DFLT string"
        )
    }
    mirror = str(tmp_path / "mirror")
    eng = SyncEngine(spark, erp, mirror, term="current")
    users = spark.createDataFrame(
        [
            ("1001", 11, "stu.a"),
            ("1001", 12, "stu.a.dup"),  # duplicate id -> gate trips
            ("sdemo9", 13, "sdemo+x"),  # filtered upstream of the gate
        ],
        "user_id string, canvas_user_id long, login_id string",
    )
    with pytest.raises(DQGateError) as ei:
        eng.update_mirror_tables({"users": users})
    assert any(n == "id_num_unique" for n, _ in ei.value.failed)
    # fail-closed: nothing written for the poisoned entity
    assert not os.path.exists(mirror_table_path(mirror, "users"))
    # the same report deduplicated passes the gate and lands
    eng.update_mirror_tables({"users": users.limit(1)})
    assert eng.mirror("users").count() == 1


def test_dq_gate_is_all_or_nothing_across_entities(spark, tmp_path):
    """Every entity's gate runs before any mirror is written: a refresh
    whose courses, sections and enrollments are valid but whose users
    report has a duplicated id leaves all four mirrors on the earlier
    snapshot, not only the users mirror."""
    from lms_erp_data_integration_spark.operators.dq import DQGateError
    from lms_erp_data_integration_spark.pipeline.mirror import (
        MIRROR_ENTITIES,
        read_mirror,
    )

    erp = {
        "reg_config": spark.createDataFrame(
            [("21 ", "1S ")], "CUR_YR_DFLT string, CUR_TRM_DFLT string"
        )
    }
    mirror = str(tmp_path / "mirror")
    eng = SyncEngine(spark, erp, mirror, term="current")

    users_schema = "user_id string, canvas_user_id long, login_id string"
    courses_schema = "canvas_course_id long, course_id string, status string"
    sections_schema = (
        "course_id string, section_id string, name string, status string,"
        " account_id long, canvas_section_id long, created_by_sis boolean"
    )
    enrollments_schema = (
        "course_id string, user_id string, role string, section_id string,"
        " status string, canvas_enrollment_id long, canvas_section_id long,"
        " created_by_sis boolean"
    )

    def reports(users, courses, sections, enrollments):
        # users last: a gate run per entity just before its write would
        # already have overwritten the other three when users trips
        return {
            "courses": spark.createDataFrame(courses, courses_schema),
            "sections": spark.createDataFrame(sections, sections_schema),
            "enrollments": spark.createDataFrame(
                enrollments, enrollments_schema
            ),
            "users": spark.createDataFrame(users, users_schema),
        }

    def snapshot():
        return {
            e: sorted(map(tuple, read_mirror(spark, e, mirror).collect()))
            for e in MIRROR_ENTITIES
        }

    eng.update_mirror_tables(reports(
        [("1001", 11, "stu.a")],
        [(21, "MATH101", "active")],
        [("MATH101", "S1", "Morning", "active", 1, 31, True)],
        [("MATH101", "1001", "student", "S1", "active", 41, 31, True)],
    ))
    before = snapshot()
    assert all(before.values())

    poisoned = reports(
        [("1002", 21, "stu.b"), ("1002", 22, "stu.b.dup")],  # duplicate id
        [(22, "CS200", "active")],
        [("CS200", "S2", "Lab", "active", 1, 32, True)],
        [("CS200", "1002", "student", "S2", "active", 42, 32, True)],
    )
    with pytest.raises(DQGateError) as ei:
        eng.update_mirror_tables(poisoned)
    assert ei.value.label == "users"
    assert any(n == "id_num_unique" for n, _ in ei.value.failed)
    assert snapshot() == before


def test_dq_report_unit(spark):
    """dq_report over a constructed frame: one row per check, exact
    violation counts, FK orphans via anti-join."""
    from pyspark.sql import functions as F

    from lms_erp_data_integration_spark.operators import dq

    df = spark.createDataFrame(
        [(1, 10), (1, -5), (2, 3), (None, 4)], "k int, v int"
    )
    dim = spark.createDataFrame([(1,), (3,)], "dk int")
    rep = {
        r["check_name"]: r
        for r in dq.dq_report(
            df,
            [
                dq.RowCheck("k_not_null", F.col("k").isNull()),
                dq.RowCheck("v_positive", F.col("v") <= 0),
                dq.UniqueCheck("k_unique", ("k",)),
                dq.FkCheck("k_fk_dim", ("k",), dim, ("dk",)),
            ],
        ).collect()
    }
    assert rep["k_not_null"]["violations"] == 1
    assert rep["v_positive"]["violations"] == 1
    # 4 rows, 2 distinct non-null k -> 2 "duplicates" (dup + null row)
    assert rep["k_unique"]["violations"] == 2
    assert not rep["k_unique"]["passed"]
    # k=2 and k=NULL rows have no dim match
    assert rep["k_fk_dim"]["violations"] == 2
    assert rep["v_positive"]["passed"] is False


def test_dq_gate_admits_an_empty_report(spark):
    """An empty report violates nothing: the gate passes it, although
    a row check's sum over no rows is NULL."""
    from lms_erp_data_integration_spark.operators import dq
    from lms_erp_data_integration_spark.pipeline.engine import mirror_checks

    empty = spark.createDataFrame(
        [], "crs_cde string, yr_cde string, trm_cde string"
    )
    dq.enforce(empty, mirror_checks()["courses"], label="courses")
