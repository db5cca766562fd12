"""Spark 4 Python Data Source wrapping the report connector (S6+S7):

    spark.dataSource.register(CanvasReportDataSource)
    df = (spark.read.format("canvas_report")
          .option("term_id", "211S").option("entity", "users")
          .option("stage_dir", "/shared/stage")
          .option("transport", "pkg.mod:attr")   # or "fake"
          .load())

This lifts the reference's report workflow (``src/canvas.py:30-52``:
create a provisioning report, poll to complete, download + unzip) into
a first-class ``spark.read.format`` source. Planning — the whole REST
create/poll/download dance — runs ONCE on the driver inside
``partitions()`` (matching the reference's driver-side orchestration);
executors only parse their assigned staged CSV, so the scan
parallelizes across files and never repeats the REST workflow per
task. On a cluster the stage dir must be shared storage (NFS / object
store); in local mode any tmp dir works.

The transport is resolved from the ``transport`` option: the literal
``"fake"`` selects the bundled deterministic in-memory Canvas (no
network — CI/offline parity), anything else is a ``module:attr``
dotted reference to a ``Transport`` callable.
"""

from __future__ import annotations

import csv as _csv
import importlib
import io
import zipfile
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .schemas import ENTITY_CSV_SCHEMAS
from .rest import REPORT_POLL_SECONDS, ReportSource, Transport


def fake_canvas_transport(method: str, url: str, payload: dict | None):
    """Bundled deterministic Canvas fake: report completes on first
    poll; the zip carries one small CSV per entity, rows typed to
    ``ENTITY_CSV_SCHEMAS``."""
    if url.endswith("/reports") and method == "POST":
        return {"id": 1}
    if "/reports/1" in url:
        return {"status": "complete", "attachment_url": "fake://blob.zip"}
    if url.endswith("blob.zip"):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr(
                "users.csv",
                "user_id,canvas_user_id,login_id\n"
                "1001,11,alice\n1002,12,bob\n1003,13,carol\n",
            )
            zf.writestr(
                "courses.csv",
                "canvas_course_id,course_id,status\n21,MTH101,active\n22,PHY201,active\n",
            )
            zf.writestr(
                "sections.csv",
                "course_id,section_id,name,status,account_id,canvas_section_id,created_by_sis\n"
                "MTH101,MTH101-A,Section A,active,5,31,true\n"
                "PHY201,PHY201-B,Section B,active,5,32,false\n",
            )
            zf.writestr(
                "enrollments.csv",
                "course_id,user_id,role,status,section_id,canvas_enrollment_id,"
                "canvas_course_id,canvas_section_id\n"
                "MTH101,1001,student,active,MTH101-A,41,21,31\n",
            )
        return buf.getvalue()
    raise AssertionError(f"unexpected {method} {url}")


def _resolve_transport(ref: str) -> Transport:
    if ref == "fake":
        return fake_canvas_transport
    mod, sep, attr = ref.partition(":")
    if not sep:
        raise ValueError(
            f"transport must be 'fake' or 'module:attr', got {ref!r}"
        )
    return getattr(importlib.import_module(mod), attr)


def _convert(value: str, type_name: str):
    if value == "":
        return None
    if type_name in ("bigint", "int", "smallint", "tinyint"):
        return int(value)
    if type_name == "boolean":
        return value.strip().lower() == "true"
    if type_name == "double" or type_name.startswith("decimal"):
        return float(value)
    return value


class _CsvPartition(InputPartition):
    def __init__(self, path: str, type_names: Sequence[str], columns: Sequence[str]):
        self.path = path
        self.type_names = list(type_names)
        self.columns = list(columns)


class CanvasReportReader(DataSourceReader):
    def __init__(self, options: dict, schema) -> None:
        self.options = options
        self.schema_obj = schema

    def partitions(self) -> list[InputPartition]:
        # driver-side planning: run the REST workflow once, stage the
        # CSVs, then hand executors one file each
        transport = _resolve_transport(self.options.get("transport", "fake"))
        src = ReportSource(
            transport,
            self.options.get("base_url", "http://canvas"),
            poll_seconds=float(
                self.options.get("poll_seconds", REPORT_POLL_SECONDS)
            ),
        )
        stage = self.options["stage_dir"]
        files = src.fetch(self.options.get("term_id", ""), stage)
        entity = self.options.get("entity", "users")
        want = f"{entity}.csv"
        paths = [f for f in files if f.endswith(want)]
        if not paths:
            raise FileNotFoundError(
                f"report zip has no {want}; staged: {sorted(files)}"
            )
        types = [f.dataType.simpleString() for f in self.schema_obj.fields]
        names = [f.name for f in self.schema_obj.fields]
        return [_CsvPartition(p, types, names) for p in paths]

    def read(self, partition: _CsvPartition) -> Iterator[tuple]:
        with open(partition.path, newline="") as fh:
            rows = _csv.reader(fh)
            header = next(rows, None)
            if header is None:
                return
            # project by header name so column order in the staged CSV
            # can differ from the declared schema
            idx = [header.index(c) for c in partition.columns]
            for row in rows:
                yield tuple(
                    _convert(row[i], t)
                    for i, t in zip(idx, partition.type_names)
                )


class CanvasReportStreamReader(SimpleDataSourceStreamReader):
    """Streaming form of the report connector: each micro-batch is one
    full report run (create -> poll -> download -> parse) — the
    continuous version of the reference's daily batch pull. Offsets
    are a monotone run counter ``{"run": N}``; every run stages its
    CSVs under ``stage_dir/run_N`` so ``readBetweenOffsets`` can
    REPLAY a committed-but-lost batch from disk instead of re-running
    the REST workflow (the simple-reader recovery contract).

    Posture: the simple stream API routes rows through the driver by
    design — correct here because a provisioning report is
    entity-sized, not event-sized. A report too big for the driver
    belongs on the batch source (executor-side CSV parsing) on a
    schedule, not on this reader. ``max_runs`` bounds the stream for
    deterministic tests/backfills: the reader then reports no new
    data, which lets ``availableNow`` triggers drain and stop."""

    def __init__(self, options: dict, schema) -> None:
        self.options = options
        self.schema_obj = schema
        self.max_runs = int(options.get("max_runs", 0))  # 0 = unbounded

    def initialOffset(self) -> dict:
        return {"run": 0}

    def _staged_rows(self, stage: str) -> list[tuple]:
        entity = self.options.get("entity", "users")
        types = [f.dataType.simpleString() for f in self.schema_obj.fields]
        names = [f.name for f in self.schema_obj.fields]
        part = _CsvPartition(f"{stage}/{entity}.csv", types, names)
        return list(CanvasReportReader(self.options, self.schema_obj).read(part))

    def read(self, start: dict):
        run = start["run"]
        if self.max_runs and run >= self.max_runs:
            return iter([]), start  # drained — no new offset
        transport = _resolve_transport(self.options.get("transport", "fake"))
        src = ReportSource(
            transport,
            self.options.get("base_url", "http://canvas"),
            poll_seconds=float(
                self.options.get("poll_seconds", REPORT_POLL_SECONDS)
            ),
        )
        stage = f"{self.options['stage_dir']}/run_{run + 1}"
        src.fetch(self.options.get("term_id", ""), stage)
        return iter(self._staged_rows(stage)), {"run": run + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        # recovery replay: batches re-read from their staged files —
        # no second REST round-trip, so replay is deterministic even
        # if the remote report would differ now
        rows: list[tuple] = []
        for run in range(start["run"] + 1, end["run"] + 1):
            rows.extend(
                self._staged_rows(f"{self.options['stage_dir']}/run_{run}")
            )
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass  # staged runs kept for audit (run-dir convention)


class CanvasReportDataSource(DataSource):
    """``spark.read.format("canvas_report")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "canvas_report"

    def schema(self):
        entity = self.options.get("entity", "users")
        if entity not in ENTITY_CSV_SCHEMAS:
            raise KeyError(f"no CSV schema for entity {entity!r}")
        return ENTITY_CSV_SCHEMAS[entity]

    def reader(self, schema) -> DataSourceReader:
        return CanvasReportReader(self.options, schema)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return CanvasReportStreamReader(self.options, schema)


def register_canvas_report(spark) -> None:
    """Register the format on a session (idempotent per session)."""
    spark.dataSource.register(CanvasReportDataSource)
