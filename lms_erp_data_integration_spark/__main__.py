"""Command-line entry point — the Spark-native equivalent of the
reference's ``python main.py`` run (``main.py:1-14``: build connectors,
refresh mirrors, compute updates, apply in FK order, print counts).

    python -m lms_erp_data_integration_spark list
    python -m lms_erp_data_integration_spark query rel_q1_pricing_summary \\
        --sf-dir /root/testdata/sf0.01 --limit 10 [--explain]
    python -m lms_erp_data_integration_spark sync \\
        --erp ERP_DIR --mirror MIRROR_DIR --out OUT_DIR \\
        [--raw RAW_DIR] [--term current] [--sink csv|parquet] \\
        [--no-dq-gate]

``sync`` reads the six ERP tables (``reg_config faculty students
courses sections enrollments``) from ``ERP_DIR/<name>.parquet`` (or
``.csv`` with a header), optionally refreshes the mirror tables from a
raw provisioning-report directory (``RAW_DIR/<entity>.parquet|csv`` —
the reference's E2 step), computes the seven diff updates, applies
them in FK order through a CSV or Parquet sink under ``OUT_DIR``, and
prints the per-entity run report.
"""

from __future__ import annotations

import argparse
import os
import sys


def _load_table(spark, directory: str, name: str):
    pq = os.path.join(directory, f"{name}.parquet")
    csv = os.path.join(directory, f"{name}.csv")
    if os.path.exists(pq):
        return spark.read.parquet(pq)
    if os.path.exists(csv):
        return spark.read.option("header", True).option(
            "inferSchema", True
        ).csv(csv)
    raise FileNotFoundError(f"no {name}.parquet or {name}.csv in {directory}")


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


def _load_optional(spark, directory: str, name: str):
    try:
        return _load_table(spark, directory, name)
    except FileNotFoundError:
        return None


_ERP_TABLES = (
    "reg_config", "faculty", "students", "courses", "sections", "enrollments",
)


def _cmd_sync(args) -> int:
    from .concurrency import run_legs
    from .pipeline.engine import SyncEngine
    from .pipeline.mirror import MIRROR_ENTITIES
    from .pipeline.runner import csv_sink
    from .session import get_spark

    spark = get_spark(app_name="sync")
    # Each load runs its own schema-inference job; the loads are
    # independent, so they overlap as legs of one run_legs call. A
    # missing ERP table still raises; a missing raw report is skipped.
    raw_entities = MIRROR_ENTITIES if args.raw else ()
    frames = run_legs(
        *(lambda n=n: _load_table(spark, args.erp, n) for n in _ERP_TABLES),
        *(lambda e=e: _load_optional(spark, args.raw, e) for e in raw_entities),
    )
    erp = dict(zip(_ERP_TABLES, frames))
    raw = {
        e: df
        for e, df in zip(raw_entities, frames[len(_ERP_TABLES):])
        if df is not None
    }
    engine = SyncEngine(
        spark, erp, args.mirror, term=args.term, dq_gate=not args.no_dq_gate
    )
    if raw:
        engine.update_mirror_tables(raw)

    if args.sink == "csv":
        sink = csv_sink(args.out)
    else:

        def sink(name, df):
            df.write.mode("overwrite").parquet(
                os.path.join(args.out, name)
            )

    report = engine.run(sink)
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
    s.add_argument("--sink", choices=("csv", "parquet"), default="csv")
    s.add_argument("--no-dq-gate", action="store_true")

    args = parser.parse_args(argv)
    if args.cmd == "list":
        return _cmd_list()
    if args.cmd == "query":
        return _cmd_query(args)
    return _cmd_sync(args)


if __name__ == "__main__":
    raise SystemExit(main())
