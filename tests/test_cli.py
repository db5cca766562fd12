"""CLI entry point (`python -m lms_erp_data_integration_spark`) — the
usage parity with the reference's `python main.py` run."""

from __future__ import annotations

import datetime as dt
import io
import os
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from lms_erp_data_integration_spark.__main__ import main


def test_cli_list_names_all_queries():
    from lms_erp_data_integration_spark.plans import QUERIES

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert main(["list"]) == 0
    names = buf.getvalue().split()
    assert sorted(names) == sorted(QUERIES)


def test_cli_unknown_query_errors():
    assert main(["query", "no_such_query"]) == 2


def _write_sync_inputs(spark, tmp_path):
    """The ERP tables and raw reports of one small night, as parquet
    under ``tmp_path/erp`` and ``tmp_path/raw``; returns both dirs."""
    erp_dir, raw_dir = tmp_path / "erp", tmp_path / "raw"
    for d in (erp_dir, raw_dir):
        os.makedirs(d)

    frames = {
        "reg_config": ([("21 ", "1S ")],
                       "CUR_YR_DFLT string, CUR_TRM_DFLT string"),
        "faculty": ([(2001, "prof.a", "Ada", "Prof", "21", "1S"),
                     (2002, "prof.b", "Bob", "Prof", "21", "1S")],
                    "id_num long, login_id string, first_name string,"
                    " last_name string, yr_cde string, trm_cde string"),
        "students": ([(1001, "stu.a", "Al", "Stu", "21", "1S"),
                      (1002, "stu.b", "Bea", "Stu", "21", "1S")],
                     "id_num long, login_id string, first_name string,"
                     " last_name string, yr_cde string, trm_cde string"),
        "courses": ([("MATH101", "Calculus", "21", "1S"),
                     ("CS200", "Spark", "21", "1S")],
                    "crs_cde string, title string, yr_cde string,"
                    " trm_cde string"),
        "sections": ([("MATH101", "S1", "Morning", "21", "1S"),
                      ("CS200", "S1", "Lab", "21", "1S")],
                     "crs_cde string, section_id string, name string,"
                     " yr_cde string, trm_cde string"),
        "enrollments": ([("MATH101", 1001, "student", "S1", "21", "1S"),
                         ("CS200", 1002, "student", "S1", "21", "1S")],
                        "course_id string, user_id long, role string,"
                        " section_id string, yr_cde string, trm_cde string"),
    }
    for name, (rows, schema) in frames.items():
        spark.createDataFrame(rows, schema).write.parquet(
            str(erp_dir / f"{name}.parquet")
        )
    raws = {
        "users": ([("1001", 11, "stu.a"), ("2001", 12, "prof.a")],
                  "user_id string, canvas_user_id long, login_id string"),
        "courses": ([(21, "MATH101", "active")],
                    "canvas_course_id long, course_id string, status string"),
        "sections": ([("MATH101", "S1", "Morning", "active", 1, 31, True)],
                     "course_id string, section_id string, name string,"
                     " status string, account_id long,"
                     " canvas_section_id long, created_by_sis boolean"),
        "enrollments": ([("MATH101", "1001", "student", "S1", "active",
                          41, 31, True)],
                        "course_id string, user_id string, role string,"
                        " section_id string, status string,"
                        " canvas_enrollment_id long,"
                        " canvas_section_id long, created_by_sis boolean"),
    }
    for name, (rows, schema) in raws.items():
        spark.createDataFrame(rows, schema).write.parquet(
            str(raw_dir / f"{name}.parquet")
        )
    return erp_dir, raw_dir


def _run_sync(erp_dir, raw_dir, mirror_dir, out_dir) -> str:
    """Run the ``sync`` command, without ``--raw`` when ``raw_dir`` is
    None; returns what it printed."""
    buf = io.StringIO()
    raw = [] if raw_dir is None else ["--raw", str(raw_dir)]
    with redirect_stdout(buf):
        rc = main(
            [
                "sync",
                "--erp", str(erp_dir),
                "--mirror", str(mirror_dir),
                "--out", str(out_dir),
                *raw,
            ]
        )
    assert rc == 0
    return buf.getvalue()


def test_cli_sync_end_to_end(spark, tmp_path):
    """ERP parquet dir + raw reports dir -> mirrors -> updates under
    OUT -> report printed; asserts sink files exist with rows."""
    erp_dir, raw_dir = _write_sync_inputs(spark, tmp_path)
    out_dir = tmp_path / "out"
    out = _run_sync(erp_dir, raw_dir, tmp_path / "mirror", out_dir)
    assert "student_users" in out  # report printed
    # the adds computed by the diff landed in the CSV sink
    import glob

    files = glob.glob(str(out_dir / "student_users" / "*.csv"))
    assert files
    body = open(files[0]).read()
    assert "1002" in body  # stu.b is the missing student user


def test_cli_sync_stamps_mirrors_with_todays_date(spark, tmp_path):
    """A ``--raw`` night stamps every mirror row's ``load_date`` with
    the date the night ran, as the reference does
    (``src/canvas.py:101``)."""
    from lms_erp_data_integration_spark.pipeline.mirror import read_mirror

    erp_dir, raw_dir = _write_sync_inputs(spark, tmp_path)
    before = dt.date.today()
    _run_sync(erp_dir, raw_dir, tmp_path / "mirror", tmp_path / "out")
    days = {before, dt.date.today()}
    users = read_mirror(spark, "users", str(tmp_path / "mirror"))
    stamps = {r["load_date"] for r in users.select("load_date").collect()}
    assert stamps and stamps <= days


def test_cli_sync_missing_inputs(spark, tmp_path):
    """A missing raw report skips that entity's mirror refresh, so its
    previous snapshot stays; a missing ERP table still fails the run
    with FileNotFoundError."""
    import shutil

    import pytest

    erp_dir, raw_dir = _write_sync_inputs(spark, tmp_path)
    mirror_dir = tmp_path / "mirror"
    users_mirror = mirror_dir / "rpc_re_canvas_users"

    def listing():
        return sorted(
            (str(p), p.stat().st_mtime_ns) for p in users_mirror.rglob("*")
        )

    _run_sync(erp_dir, raw_dir, mirror_dir, tmp_path / "out")
    before = listing()
    assert before
    shutil.rmtree(raw_dir / "users.parquet")
    _run_sync(erp_dir, raw_dir, mirror_dir, tmp_path / "out")
    assert listing() == before

    shutil.rmtree(erp_dir / "faculty.parquet")
    with pytest.raises(FileNotFoundError, match="faculty"):
        _run_sync(erp_dir, raw_dir, mirror_dir, tmp_path / "out2")


def test_cli_sync_overlap_matches_serial(spark, tmp_path):
    """The overlapped night (loads, DQ gates, mirror writes and mirror
    reads as run_legs legs) writes the same seven CSVs and four mirrors
    and prints the same report as the same legs run inline."""
    import glob

    from lms_erp_data_integration_spark.concurrency import serial_legs
    from lms_erp_data_integration_spark.pipeline.mirror import (
        MIRROR_ENTITIES,
        read_mirror,
    )
    from lms_erp_data_integration_spark.pipeline.runner import UPDATE_ORDER

    erp_dir, raw_dir = _write_sync_inputs(spark, tmp_path)

    def night(arm):
        mirror_dir, out_dir = tmp_path / arm / "mirror", tmp_path / arm / "out"
        report = _run_sync(erp_dir, raw_dir, mirror_dir, out_dir)
        csvs = {}
        for name in UPDATE_ORDER:
            (path,) = glob.glob(str(out_dir / name / "*.csv"))
            with open(path) as f:
                header, *rows = f.read().splitlines()
            csvs[name] = (header, sorted(rows))
        mirrors = {
            e: sorted(map(tuple, read_mirror(spark, e, str(mirror_dir)).collect()))
            for e in MIRROR_ENTITIES
        }
        return csvs, mirrors, report

    threaded = night("threaded")
    with serial_legs():
        serial = night("serial")
    assert threaded == serial
    csvs, mirrors, _ = threaded
    assert csvs["student_users"][1]  # the diff found the missing student
    assert all(mirrors.values())  # every mirror was written


def _rewrite(spark, path, change):
    """Replace the parquet table at ``path`` by ``change`` of it."""
    import shutil

    df = change(spark.read.parquet(str(path))).localCheckpoint(eager=True)
    shutil.rmtree(path)
    df.write.parquet(str(path))


@pytest.mark.parametrize(
    "where, column",
    [("erp", "login_id"), ("raw", "login_id"), ("mirror", "canvas_user")],
)
def test_cli_sync_rejects_a_file_without_a_declared_column(
    spark, tmp_path, where, column
):
    """The faculty ERP table, the raw users report or the users mirror
    without one declared column fails the night with an error naming
    that column, instead of reading it as NULLs."""
    erp_dir, raw_dir = _write_sync_inputs(spark, tmp_path)
    mirror_dir = tmp_path / "mirror"
    if where == "mirror":
        _run_sync(erp_dir, raw_dir, mirror_dir, tmp_path / "out0")
        path = mirror_dir / "rpc_re_canvas_users"
        raw_dir = None  # no refresh: the night reads the mirror back
    else:
        table = "faculty" if where == "erp" else "users"
        path = tmp_path / where / f"{table}.parquet"
    _rewrite(spark, path, lambda df: df.drop(column))
    with pytest.raises(ValueError, match=f"lacks declared columns.*{column}"):
        _run_sync(erp_dir, raw_dir, mirror_dir, tmp_path / "out")


@pytest.mark.parametrize(
    "where, table, column",
    [("erp", "enrollments", "user_id"), ("raw", "sections", "created_by_sis")],
)
def test_cli_sync_rejects_a_column_of_another_type_before_writing(
    spark, tmp_path, where, table, column
):
    """A column stored as string where the schema declares long or
    boolean fails the night at the footer check, before any mirror or
    update file is written."""
    erp_dir, raw_dir = _write_sync_inputs(spark, tmp_path)
    _rewrite(
        spark,
        tmp_path / where / f"{table}.parquet",
        lambda df: df.withColumn(column, F.col(column).cast("string")),
    )
    mirror_dir, out_dir = tmp_path / "mirror", tmp_path / "out"
    with pytest.raises(ValueError, match=f"{column} is string"):
        _run_sync(erp_dir, raw_dir, mirror_dir, out_dir)
    assert not mirror_dir.exists()
    assert not out_dir.exists()


def test_cli_sync_dq_gate_fails_the_night_before_writing(spark, tmp_path):
    """A raw users report that repeats a ``user_id`` trips the mirror
    admission gate: the night raises before any mirror or update file
    is written, staging included."""
    from lms_erp_data_integration_spark.operators.dq import DQGateError

    erp_dir, raw_dir = _write_sync_inputs(spark, tmp_path)
    _rewrite(spark, raw_dir / "users.parquet", lambda df: df.union(df))
    mirror_dir, out_dir = tmp_path / "mirror", tmp_path / "out"
    with pytest.raises(DQGateError):
        _run_sync(erp_dir, raw_dir, mirror_dir, out_dir)
    assert not list(mirror_dir.glob("rpc_re_canvas_*"))
    assert not out_dir.exists()


def test_cli_sync_reads_csv_tables_and_rejects_a_mismatched_header(
    spark, tmp_path
):
    import glob
    import shutil

    erp_dir, raw_dir = _write_sync_inputs(spark, tmp_path)
    shutil.rmtree(erp_dir / "faculty.parquet")
    header = "id_num,login_id,first_name,last_name,yr_cde,trm_cde"
    rows = "2001,prof.a,Ada,Prof,21,1S\n2002,prof.b,Bob,Prof,21,1S\n"
    csv = erp_dir / "faculty.csv"
    csv.write_text(header + "\n" + rows)
    out_dir = tmp_path / "out"
    _run_sync(erp_dir, raw_dir, tmp_path / "mirror", out_dir)
    (path,) = glob.glob(str(out_dir / "faculty_users" / "*.csv"))
    with open(path) as f:
        assert f.read().splitlines()[1:] == ["2002,prof.b,Bob,Prof,active"]

    csv.write_text(header.replace("login_id", "login") + "\n" + rows)
    with pytest.raises(ValueError, match=r"lacks declared columns \['login_id'\]"):
        _run_sync(erp_dir, raw_dir, tmp_path / "mirror", tmp_path / "out2")


def test_cli_sync_reads_a_csv_report_by_column_name(spark, tmp_path):
    """A raw report CSV whose columns come in another order and include
    one the schema does not declare, as real provisioning reports do,
    refreshes the same mirror as the parquet report it replaces."""
    import shutil

    from lms_erp_data_integration_spark.pipeline.mirror import read_mirror

    erp_dir, raw_dir = _write_sync_inputs(spark, tmp_path)

    def users_mirror(arm):
        mirror_dir = tmp_path / arm / "mirror"
        _run_sync(erp_dir, raw_dir, mirror_dir, tmp_path / arm / "out")
        users = read_mirror(spark, "users", str(mirror_dir))
        return sorted(map(tuple, users.collect()))

    from_parquet = users_mirror("parquet")
    shutil.rmtree(raw_dir / "users.parquet")
    (raw_dir / "users.csv").write_text(
        "canvas_user_id,user_id,login_id,sortable_name\n"
        '11,1001,stu.a,"Stu, Al"\n'
        '12,2001,prof.a,"Prof, Ada"\n'
    )
    assert users_mirror("csv") == from_parquet
    assert len(from_parquet) == 2


def test_cli_sync_reads_narrower_integer_columns(spark, tmp_path):
    """ERP id columns stored as int rather than the declared long are
    read as long: the night writes what it writes from long columns."""
    import glob

    from lms_erp_data_integration_spark.pipeline.runner import UPDATE_ORDER

    erp_dir, raw_dir = _write_sync_inputs(spark, tmp_path)

    def updates(arm):
        out_dir = tmp_path / arm / "out"
        _run_sync(erp_dir, raw_dir, tmp_path / arm / "mirror", out_dir)
        got = {}
        for name in UPDATE_ORDER:
            (path,) = glob.glob(str(out_dir / name / "*.csv"))
            with open(path) as f:
                got[name] = sorted(f.read().splitlines())
        return got

    as_long = updates("long")
    for table, column in (
        ("faculty", "id_num"), ("students", "id_num"), ("enrollments", "user_id")
    ):
        _rewrite(
            spark,
            erp_dir / f"{table}.parquet",
            lambda df, c=column: df.withColumn(c, F.col(c).cast("int")),
        )
    assert updates("int") == as_long
    assert as_long["student_users"][0].startswith("1002,")


def test_cli_query_json_output(spark, capsys):
    import json

    rc = main(
        ["query", "rel_q6_revenue_filter",
         "--sf-dir", "/root/testdata/sf0.001", "--json", "--limit", "5"]
    )
    assert rc == 0
    lines = [
        l for l in capsys.readouterr().out.splitlines() if l.startswith("{")
    ]
    assert lines
    row = json.loads(lines[0])
    assert "revenue" in {k.lower() for k in row}
