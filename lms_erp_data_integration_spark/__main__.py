"""Command-line entry point — the Spark-native equivalent of the
reference's ``python main.py`` run (``main.py:1-14``: build connectors,
refresh mirrors, compute updates, apply in FK order, print counts).

    python -m lms_erp_data_integration_spark list
    python -m lms_erp_data_integration_spark query rel_q1_pricing_summary \\
        --sf-dir /root/testdata/sf0.01 --limit 10 [--explain]
    python -m lms_erp_data_integration_spark sync \\
        --erp ERP_DIR --mirror MIRROR_DIR --out OUT_DIR \\
        [--raw RAW_DIR] [--term current]

``sync`` reads the six ERP tables (``reg_config faculty students
courses sections enrollments``) from ``ERP_DIR/<name>.parquet`` (or
``.csv`` with a header), optionally refreshes the mirror tables from a
raw provisioning-report directory (``RAW_DIR/<entity>.parquet|csv`` —
the reference's E2 step) behind an always-on DQ gate, computes the
seven diff updates, applies them in FK order through the CSV sink
under ``OUT_DIR``, and prints the per-entity run report. With
``--raw`` the diffs compare against the reports the gate just
admitted, without reading the mirrors back; without it they compare
against the mirrors under ``MIRROR_DIR``.

Every input is read with a declared schema (``sources.schemas``)
through ``sources.declared``, so no read runs a schema-inference job.
Columns are matched by name, and a file's extra columns are dropped.
A file that lacks a declared column, or a parquet file that has it
with a type Spark cannot read into the declared one, fails the night
before anything is written; a CSV value that does not parse as its
declared type fails the read.
The update plans are built while the gates run. Then one wave writes
the admitted mirrors and stages the seven updates under
``OUT_DIR/_staging``, all concurrently; only when every write of the
wave succeeded is each update published into ``OUT_DIR/<name>``, in
FK order. Otherwise ``_staging`` is discarded, nothing is published,
and the night fails.
"""

from __future__ import annotations

import argparse
import sys


def _cmd_list() -> int:
    from .plans import all_queries

    for name in all_queries():
        print(name)
    return 0


def _cmd_query(args) -> int:
    from .plans import all_queries
    from .session import get_spark

    qs = all_queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = get_spark(app_name=f"query:{args.name}")
    df = qs[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    if args.json:
        import json

        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(recursive=True), default=str))
    else:
        df.show(args.limit, truncate=False)
    return 0


def _cmd_sync(args) -> int:
    from .concurrency import run_legs
    from .pipeline.engine import SyncEngine
    from .pipeline.mirror import MIRROR_ENTITIES
    from .pipeline.runner import csv_sink
    from .session import get_spark
    from .sources.declared import read_declared_table
    from .sources.schemas import ENTITY_CSV_SCHEMAS, ERP_SCHEMAS

    spark = get_spark(app_name="sync")
    # Each load checks a footer and lists files on the driver; the
    # loads are independent, so they overlap as legs of one run_legs
    # call. A missing ERP table still raises; a missing raw report is
    # skipped.
    raw_entities = MIRROR_ENTITIES if args.raw else ()
    frames = run_legs(
        *(
            lambda n=n, s=s: read_declared_table(spark, args.erp, n, s)
            for n, s in ERP_SCHEMAS.items()
        ),
        *(
            lambda e=e: read_declared_table(
                spark, args.raw, e, ENTITY_CSV_SCHEMAS[e], missing_ok=True
            )
            for e in raw_entities
        ),
    )
    erp = dict(zip(ERP_SCHEMAS, frames))
    raw = {
        e: df
        for e, df in zip(raw_entities, frames[len(ERP_SCHEMAS):])
        if df is not None
    }
    engine = SyncEngine(spark, erp, args.mirror, term=args.term)
    report = engine.run(csv_sink(args.out), raw)
    report.show(100, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="lms_erp_data_integration_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--explain", action="store_true")
    q.add_argument("--json", action="store_true",
                   help="one JSON object per row instead of a table")

    s = sub.add_parser("sync", help="run the LMS/ERP sync pipeline")
    s.add_argument("--erp", required=True, help="ERP tables directory")
    s.add_argument("--mirror", required=True, help="mirror tables directory")
    s.add_argument("--out", required=True, help="update sink directory")
    s.add_argument("--raw", help="raw provisioning reports directory (E2)")
    s.add_argument("--term", default="current")

    args = parser.parse_args(argv)
    if args.cmd == "list":
        return _cmd_list()
    if args.cmd == "query":
        return _cmd_query(args)
    return _cmd_sync(args)


if __name__ == "__main__":
    raise SystemExit(main())
