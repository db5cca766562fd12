"""CLI entry point (`python -m lms_erp_data_integration_spark`) — the
usage parity with the reference's `python main.py` run."""

from __future__ import annotations

import datetime as dt
import io
import os
from contextlib import redirect_stdout

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
    """Run the ``sync`` command with a CSV sink; returns what it printed."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            [
                "sync",
                "--erp", str(erp_dir),
                "--mirror", str(mirror_dir),
                "--out", str(out_dir),
                "--raw", str(raw_dir),
                "--sink", "csv",
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
