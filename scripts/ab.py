"""Interleaved, row-checked A/B of registered queries in one session.

    python scripts/ab.py [--rounds N] [--sf-dir DIR] --arm NAME[:SPEC] ... QUERY ...

Each arm is a NAME and an optional SPEC: a comma list of Spark SQL
conf ``key=value`` overrides and/or the word ``serial``, which runs
every ``concurrency.run_legs`` leg inline (``concurrency.serial_legs``).
The session is warmed up like ``bench.py``'s. Every arm first runs each
query once untimed, and its rows are compared with the first arm's by
``scripts/parity.py``'s ``frame_key``; a mismatch exits 1 and names the
arm and query. Then N rounds run every arm over every query, arms in
reverse order on odd rounds, each run timed by ``bench.timed_run``. The
conf keys are restored, and legs run on the pool again, after every run. One JSON
document is printed: per arm its sweep times, min, median and per-query
times, and per later arm its min and median ratio to the first arm.
``--sf-dir`` defaults to ``SPARK_GRAFT_SF_DIR``, as in ``bench.py``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from lms_erp_data_integration_spark.caching import release_cached  # noqa: E402
from lms_erp_data_integration_spark.concurrency import serial_legs  # noqa: E402
from lms_erp_data_integration_spark.session import get_spark  # noqa: E402
from parity import frame_key  # noqa: E402


def parse_arm(arm: str) -> tuple[str, dict[str, str], bool]:
    """``NAME[:SPEC]`` -> (name, conf overrides, serial)."""
    name, _, spec = arm.partition(":")
    conf, serial = {}, False
    for item in filter(None, spec.split(",")):
        if item == "serial":
            serial = True
        elif "=" in item:
            key, _, value = item.partition("=")
            conf[key] = value
        else:
            raise ValueError(f"arm {name}: {item!r} is neither key=value nor serial")
    return name, conf, serial


@contextlib.contextmanager
def applied(spark, conf: dict[str, str], serial: bool):
    """Run the block under an arm's conf overrides and leg mode, and put
    both back afterwards."""
    before = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        with serial_legs() if serial else contextlib.nullcontext():
            yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_ab(spark, queries: dict, arms: list[str], rounds: int, sf_dir: str) -> dict:
    """A/B the ``{name: fn(spark, sf_dir)}`` queries over the arms; see
    the module docstring for the procedure and the returned document."""
    parsed = [parse_arm(a) for a in arms]
    if len({name for name, _, _ in parsed}) < len(parsed):
        raise ValueError(f"arm names must be unique: {arms}")
    mismatch = []
    ref = {}
    for name, conf, serial in parsed:
        for q, fn in queries.items():
            with applied(spark, conf, serial):
                df = fn(spark, sf_dir)
                key = frame_key(df.columns, [tuple(r) for r in df.collect()])
                release_cached()
            if ref.setdefault(q, key) != key:
                mismatch.append(f"{name}: {q}")
    if mismatch:
        return {"rows_equal": False, "mismatch": mismatch}

    errors: dict[str, str] = {}
    times = {name: {q: [] for q in queries} for name, _, _ in parsed}
    for r in range(rounds):
        for name, conf, serial in parsed[::-1] if r % 2 else parsed:
            for q, fn in queries.items():
                with applied(spark, conf, serial):
                    t = bench.timed_run(spark, sf_dir, errors, fn, q)
                times[name][q].append(t)
    doc = {"rounds": rounds, "queries": list(queries), "rows_equal": True,
           "errors": errors, "arms": {}}
    first = None
    for name, per_q in times.items():
        sweeps = [round(sum(ts), 4) for ts in zip(*per_q.values())]
        arm = {"sweeps": sweeps, "min": min(sweeps),
               "median": statistics.median(sweeps), "per_query": per_q}
        if first is None:
            first = arm
        else:
            arm["min_ratio"] = round(arm["min"] / first["min"], 3)
            arm["median_ratio"] = round(arm["median"] / first["median"], 3)
        doc["arms"][name] = arm
    return doc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--arm", action="append", required=True)
    ap.add_argument("query", nargs="+")
    args = ap.parse_args(argv)
    if not args.sf_dir:
        ap.error("--sf-dir is required when SPARK_GRAFT_SF_DIR is unset")
    qs = bench.entry_mod.queries()
    unknown = sorted(set(args.query) - set(qs))
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    spark = get_spark(app_name="ab")
    bench.warm_up(spark, args.sf_dir, qs)
    doc = run_ab(spark, {q: qs[q] for q in args.query}, args.arm,
                 args.rounds, args.sf_dir)
    print(json.dumps({"sf_dir": args.sf_dir, **doc}, indent=1), flush=True)
    spark.stop()
    return 0 if doc["rows_equal"] and not doc["errors"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
