"""Per-layer timing for the traced run, taken from outside the package.

:class:`Tracer` wraps public functions of the package's modules where
their callers look them up: a function imported by name (``from
..caching import tracked_persist``) is replaced in every loaded module
that holds it, and a function imported inside a function body is
replaced on its defining module, which that import reads at call
time. Nothing in the package changes; :meth:`Tracer.restore` puts the
originals back.

Each wrapper appends a ``(name, t0, t1)`` span; :func:`layer_metrics`
folds one pass's spans, the event-log jobs attributed to its
operations and the streaming listener's batches into the per-layer
metrics the benchmark reports.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from collections import defaultdict

from eventlog import Job, StageTotals, union_seconds

PKG = "lms_erp_data_integration_spark"

SINK_ENTITIES = (
    "faculty_users", "student_users", "courses", "sections", "enrollments",
    "ctl_library_courses", "ctl_library_sections",
)


def _tree_bytes(path: str, since: float = 0.0) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path`` modified at or
    after ``since`` (epoch seconds); hidden and ``_`` files excluded."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(root, n))
            if st.st_mtime >= since:
                size += st.st_size
                files += 1
    return size, files


class Tracer:
    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------ patching
    def _record(self, name: str, t0: float, t1: float) -> None:
        with self._lock:
            self.spans.append((name, t0, t1))

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def wrap_function(self, module_name: str, attr: str, span: str, after=None):
        """Replace ``module.attr`` and every by-name import of it in the
        package's loaded modules with a timed wrapper. ``after(args,
        t0, t1)`` runs outside the span, for byte counts and the like."""
        mod = sys.modules[module_name]
        orig = getattr(mod, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            t0 = time.time()
            try:
                return orig(*args, **kwargs)
            finally:
                t1 = time.time()
                tracer._record(span, t0, t1)
                if after is not None:
                    after(args, t0, t1)

        wrapper.__wrapped__ = orig
        for name, m in list(sys.modules.items()):
            if (name == PKG or name.startswith(PKG + ".")) and m is not None:
                if m.__dict__.get(attr) is orig:
                    self._set(m, attr, wrapper)
        return wrapper

    def wrap_method(self, cls, attr: str, span: str):
        orig = cls.__dict__[attr]
        tracer = self

        def wrapper(*args, **kwargs):
            t0 = time.time()
            try:
                return orig(*args, **kwargs)
            finally:
                tracer._record(span, t0, time.time())

        self._set(cls, attr, wrapper)

    def restore(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)

    def install(self) -> None:
        """Wrap every layer the benchmark reports."""
        import importlib

        for m in ("catalog", "caching", "concurrency", "operators.cleaning",
                  "operators.dq", "functions.terms", "pipeline.engine",
                  "pipeline.mirror", "pipeline.runner", "plans"):
            importlib.import_module(f"{PKG}.{m}")
        catalog = sys.modules[f"{PKG}.catalog"]
        self.wrap_method(catalog.Catalog, "table", "catalog.table")
        self.wrap_function(f"{PKG}.catalog", "parquet_schema", "catalog.parquet_schema")
        self.wrap_function(f"{PKG}.caching", "tracked_persist", "caching.persist")
        self.wrap_function(f"{PKG}.caching", "release_cached", "caching.release")
        self._wrap_run_legs()
        self.wrap_function(f"{PKG}.operators.cleaning", "clean", "operators.clean")
        self.wrap_function(f"{PKG}.operators.dq", "enforce", "operators.dq")
        self.wrap_function(f"{PKG}.functions.terms", "resolve_term", "pipeline.term_resolve")

        def mirror_bytes(args, t0, _t1):
            df, entity, base = args[:3]
            from lms_erp_data_integration_spark.pipeline.mirror import (
                mirror_table_name,
            )

            size, files = _tree_bytes(
                os.path.join(base, mirror_table_name(entity)), since=t0 - 1.0
            )
            with self._lock:
                self.counts["pipeline.mirror_bytes"] += size
                self.counts["pipeline.mirror_files"] += files

        self.wrap_function(
            f"{PKG}.pipeline.mirror", "write_mirror", "pipeline.mirror_write",
            after=mirror_bytes,
        )
        engine = sys.modules[f"{PKG}.pipeline.engine"]
        self.wrap_method(engine.SyncEngine, "build_updates", "pipeline.build_updates")
        runner = sys.modules[f"{PKG}.pipeline.runner"]
        self.wrap_method(runner.SyncPipeline, "apply", "pipeline.apply")
        self._wrap_csv_sink(runner)

    def _wrap_run_legs(self) -> None:
        conc = sys.modules[f"{PKG}.concurrency"]
        orig = conc.run_legs
        tracer = self

        def timed_leg(fn):
            def leg():
                t0 = time.time()
                try:
                    return fn()
                finally:
                    tracer._record("concurrency.leg", t0, time.time())
            return leg

        def run_legs(*fns):
            t0 = time.time()
            try:
                return orig(*(timed_leg(f) for f in fns))
            finally:
                tracer._record("concurrency.run_legs", t0, time.time())

        for name, m in list(sys.modules.items()):
            if name.startswith(PKG) and m is not None and m.__dict__.get("run_legs") is orig:
                self._set(m, "run_legs", run_legs)

    def _wrap_csv_sink(self, runner) -> None:
        orig = runner.csv_sink
        tracer = self

        def csv_sink(base_path):
            sink = orig(base_path)

            def timed(name, df):
                t0 = time.time()
                try:
                    return sink(name, df)
                finally:
                    tracer._record(f"pipeline.sink.{name}", t0, time.time())
                    size, _ = _tree_bytes(os.path.join(base_path, name))
                    with tracer._lock:
                        tracer.counts["pipeline.sink_bytes"] += size

            return timed

        self._set(runner, "csv_sink", csv_sink)

    # ----------------------------------------------------- reporting
    def take(self):
        """Spans and counts recorded since the last call, then reset."""
        with self._lock:
            spans, counts = self.spans, dict(self.counts)
            self.spans, self.counts = [], defaultdict(float)
        return spans, counts


def _sum(spans, name):
    return sum(t1 - t0 for n, t0, t1 in spans if n == name)


def _count(spans, name):
    return sum(1 for n, _, _ in spans if n == name)


def layer_metrics(
    spans: list[tuple[str, float, float]],
    counts: dict[str, float],
    ops: list[dict],
    op_jobs: dict[int, list[Job]],
    stages: dict[int, StageTotals],
    batches: list[tuple[float, float]],
) -> dict[str, float]:
    """Per-layer metrics of one pass. ``ops`` are the pass's
    operations (``t0``/``tb``/``t1`` wall times; ``tb`` ends the plan
    build, ``None`` for sync nights), ``op_jobs`` their attributed
    jobs, ``batches`` the streaming listener's (time, duration)."""
    m: dict[str, float] = {}
    m["catalog.table_calls"] = _count(spans, "catalog.table")
    m["catalog.busy_s"] = _sum(spans, "catalog.table")
    jobs = [j for js in op_jobs.values() for j in js]
    starts = sorted(j.start_ms / 1000.0 for j in jobs)
    schema = [(t0, t1) for n, t0, t1 in spans if n == "catalog.parquet_schema"]
    hits = sum(
        1 for t0, t1 in schema if not any(t0 <= s <= t1 for s in starts)
    )
    m["catalog.schema_hit_ratio"] = hits / len(schema) if schema else 0.0

    build_s = action_s = 0.0
    build_jobs = 0
    for i, op in enumerate(ops):
        if op.get("tb") is None:
            continue
        build_s += op["tb"] - op["t0"]
        action_s += op["ta"] - op["tb"]
        build_jobs += sum(
            1 for j in op_jobs.get(i, [])
            if (j.description or "").endswith("/build")
            or (not j.description and j.start_ms / 1000.0 < op["tb"])
        )
    m["plans.build_s"] = build_s
    m["plans.build_jobs"] = build_jobs
    m["plans.action_s"] = action_s

    m["caching.persist_calls"] = _count(spans, "caching.persist")
    m["caching.release_s"] = _sum(spans, "caching.release")
    legs_wall = _sum(spans, "concurrency.run_legs")
    m["concurrency.legs_wall_s"] = legs_wall
    m["concurrency.legs_overlap"] = (
        _sum(spans, "concurrency.leg") / legs_wall if legs_wall else 0.0
    )
    m["streaming.batches"] = len(batches)
    m["streaming.batch_s"] = sum(d for _, d in batches)

    m["operators.clean_s"] = _sum(spans, "operators.clean")
    m["operators.dq_s"] = _sum(spans, "operators.dq")
    m["pipeline.term_resolve_s"] = _sum(spans, "pipeline.term_resolve")
    m["pipeline.mirror_write_s"] = _sum(spans, "pipeline.mirror_write")
    m["pipeline.mirror_bytes"] = counts.get("pipeline.mirror_bytes", 0)
    m["pipeline.mirror_files"] = counts.get("pipeline.mirror_files", 0)
    m["pipeline.build_updates_s"] = _sum(spans, "pipeline.build_updates")
    m["pipeline.apply_s"] = _sum(spans, "pipeline.apply")
    for e in SINK_ENTITIES:
        m[f"pipeline.sink.{e}_s"] = _sum(spans, f"pipeline.sink.{e}")
    sink_bytes = counts.get("pipeline.sink_bytes", 0)
    m["pipeline.sink_bytes"] = sink_bytes
    applies = [t1 for n, _, t1 in spans if n == "pipeline.apply"]
    report_s = 0.0
    for op in ops:
        ends = [a for a in applies if op["t0"] <= a <= op["t1"]]
        if ends:
            report_s += op["t1"] - max(ends)
    m["pipeline.report_s"] = report_s
    m["pipeline.write_amp"] = (
        m["pipeline.mirror_bytes"] / sink_bytes if sink_bytes else 0.0
    )

    stage_ids = {s for j in jobs for s in j.stage_ids if s in stages}
    tot = StageTotals()
    for s in stage_ids:
        st = stages[s]
        for f in tot.__dataclass_fields__:
            setattr(tot, f, getattr(tot, f) + getattr(st, f))
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(stage_ids)
    m["spark.tasks"] = tot.tasks
    m["spark.failed_tasks"] = tot.failed_tasks
    m["spark.executor_run_ms"] = tot.executor_run_ms
    m["spark.executor_cpu_ms"] = tot.executor_cpu_ms
    m["spark.gc_ms"] = tot.gc_ms
    m["spark.shuffle_read_bytes"] = tot.shuffle_read_bytes
    m["spark.shuffle_write_bytes"] = tot.shuffle_write_bytes
    m["spark.spill_bytes"] = tot.spill_bytes
    busy = gap = 0.0
    for i, op in enumerate(ops):
        b = union_seconds(
            [(j.start_ms / 1000.0, j.end_ms / 1000.0) for j in op_jobs.get(i, [])]
        )
        busy += b
        gap += (op["t1"] - op["t0"]) - b
    m["spark.job_busy_s"] = busy
    m["driver.gap_s"] = gap
    return m


def batch_listener():
    """A ``spark.streams`` listener recording each micro-batch's
    (arrival time, duration in seconds)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple[float, float]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.batches.append(
                (time.time(), event.progress.batchDuration / 1000.0)
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return BatchListener()


def trace_layers(result, event_dir: str, batches) -> dict[str, float]:
    """Median over the traced passes of each per-layer metric. Run
    after the session stopped, so the event log is complete."""
    import statistics

    import eventlog

    jobs, stages = eventlog.parse(event_dir)
    all_ops = [op for ops in result.ops for op in ops]
    op_jobs = eventlog.attribute(jobs, all_ops)
    per_pass, offset = [], 0
    starts = [ops[0]["t0"] for ops in result.ops] + [float("inf")]
    for k, (ops, (spans, counts)) in enumerate(zip(result.ops, result.pass_spans)):
        mine = {i: op_jobs[offset + i] for i in range(len(ops))}
        offset += len(ops)
        in_pass = [b for b in batches if starts[k] <= b[0] < starts[k + 1]]
        per_pass.append(layer_metrics(spans, counts, ops, mine, stages, in_pass))
    return {m: statistics.median(p[m] for p in per_pass) for m in per_pass[0]}
