"""The benchmark's workloads.

A workload makes its inputs from the seed, warms up, then runs a fixed
number of passes. One pass is one sweep of the workload's query
list, or one nightly ``sync`` run. Every operation's output is checked
right after the operation, outside its timed span; a failure keeps its
reason (exception class and message, or the mismatch).
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import time
from dataclasses import dataclass, field

# Composed rows: most of their time is driver work while the plan is
# built. One row per mechanism, the cheapest that has it (README.md):
COMPOSED_ROWS = (
    # streaming micro-batches, concurrency.run_legs, tracked_persist
    "stream_sim_ivf_search",
    # iterative rounds with a localCheckpoint each
    "rel_pagerank_parts",
    # calibrate -> search reuse of a persisted relation
    "llm_sim_ivf_calibrated_search",
    # one argmax collect per merge
    "llm_bpe_train_vocab",
)


@dataclass
class Result:
    pass_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    # traced runs only: per-pass operations and layer spans
    ops: list[list[dict]] = field(default_factory=list)
    pass_spans: list[tuple] = field(default_factory=list)


def _reason(e: BaseException) -> str:
    msg = str(e).strip().splitlines()
    return f"{type(e).__name__}: {msg[0] if msg else ''}"[:300]


class Workload:
    warm_up_passes = 1
    nominal_pass_s = 10.0  # one pass's wall time on a 4-core machine

    def make_inputs(self, seed: int, data_dir: str):
        raise NotImplementedError

    def run_pass(self, spark, inputs, result: Result, label: str) -> list[dict]:
        """Run one pass; returns its operations' records."""
        raise NotImplementedError

    def warm_up(self, spark, inputs, passes: int | None = None) -> Result:
        """Untimed passes: first-use class loading, codegen, JIT and
        Python-worker start-up. Their outputs are checked too."""
        result = Result()
        for i in range(self.warm_up_passes if passes is None else passes):
            self.run_pass(spark, inputs, result, f"warmup{i}")
        return result

    def measure(self, spark, inputs, seconds: float, tracer=None) -> Result:
        """``round(seconds / nominal_pass_s)`` passes, at least one.

        The pass count is fixed by ``seconds``, not by the clock: the
        engine keeps getting faster over the first passes of a process
        (JIT), so a clock-bound loop would measure more passes, further
        down that curve, whenever the machine or the code is faster,
        and a commit that speeds up one pass would read faster still."""
        result = Result()
        for n in range(max(1, round(seconds / self.nominal_pass_s))):
            ops = self.run_pass(spark, inputs, result, f"p{n}")
            result.pass_s.append(sum(op["t1"] - op["t0"] for op in ops))
            result.op_s.extend(op["t1"] - op["t0"] for op in ops)
            if tracer is not None:
                spans, counts = tracer.take()
                result.ops.append(ops)
                result.pass_spans.append((spans, counts))
        return result


# ------------------------------------------------------------- queries
class QueryWorkload(Workload):
    def __init__(self, rows: tuple[str, ...], sf: float):
        self.rows = rows
        self.sf = sf

    def make_inputs(self, seed: int, data_dir: str):
        import querygen

        querygen.write(seed, self.sf, data_dir)
        return {"data_dir": data_dir, "oracles": None}

    def _oracles(self, inputs):
        if inputs["oracles"] is None:
            import bpe_ref
            from oracle import Oracles

            from lms_erp_data_integration_spark.plans import ORACLES

            inputs["oracles"] = Oracles(
                inputs["data_dir"], ORACLES,
                custom={"llm_bpe_train_vocab": bpe_ref.expected},
            )
        return inputs["oracles"]

    def run_pass(self, spark, inputs, result, label):
        from lms_erp_data_integration_spark import caching
        from lms_erp_data_integration_spark.plans import QUERIES

        sc = spark.sparkContext
        data_dir = inputs["data_dir"]
        ops = []
        for i, name in enumerate(self.rows):
            op_label = f"{label}.{i}"
            rows = err = tb = ta = None
            sc.setJobDescription(op_label + "/build")
            t0 = time.time()
            try:
                df = QUERIES[name](spark, data_dir)
                tb = time.time()
                sc.setJobDescription(op_label + "/action")
                rows = df.collect()
                ta = time.time()
            except Exception as e:  # noqa: BLE001
                err = _reason(e)
            finally:
                sc.setJobDescription(None)
                caching.release_cached()
                t1 = time.time()
            result.attempted += 1
            if err is None:
                try:
                    err = self._oracles(inputs).check(name, df.columns, rows)
                except Exception as e:  # noqa: BLE001
                    err = "check failed: " + _reason(e)
            if err is not None:
                result.failures.append(f"{name}: {err}")
            ops.append({"label": op_label, "name": name, "t0": t0,
                        "tb": tb if tb is not None else t1,
                        "ta": ta if ta is not None else t1, "t1": t1})
        return ops


# ---------------------------------------------------------------- sync
class SyncWorkload(Workload):
    """One pass is one nightly ``sync`` run through the CLI entry point,
    in process, on that night's generated ERP tables and raw report.
    A night is mostly fixed per-job overhead that keeps shrinking over
    the first nights of a process as the JVM compiles its hot paths,
    so two nights warm up."""

    warm_up_passes = 2
    nominal_pass_s = 5.0

    def __init__(self, n_students: int):
        self.n_students = n_students

    def make_inputs(self, seed: int, data_dir: str):
        import syncgen

        return {
            "world": syncgen.SyncWorld(seed, self.n_students),
            "dir": data_dir,
            "mirror": os.path.join(data_dir, "mirror"),
            "out": os.path.join(data_dir, "out"),
        }

    def run_pass(self, spark, inputs, result, label):
        import syncgen

        from lms_erp_data_integration_spark.__main__ import main as cli

        world = inputs["world"]
        expected = world.next_night()
        night = os.path.join(inputs["dir"], f"night{world.night}")
        erp, raw = os.path.join(night, "erp"), os.path.join(night, "raw")
        world.write_inputs(erp, raw)
        argv = ["sync", "--erp", erp, "--mirror", inputs["mirror"],
                "--out", inputs["out"], "--raw", raw]
        sc = spark.sparkContext
        err = None
        sc.setJobDescription(label)
        t0 = time.time()
        try:
            with contextlib.redirect_stdout(io.StringIO()):
                rc = cli(argv)
            if rc != 0:
                err = f"sync exited with {rc}"
        except Exception as e:  # noqa: BLE001
            err = _reason(e)
        finally:
            sc.setJobDescription(None)
            t1 = time.time()
        result.attempted += 1
        if err is None:
            problems = syncgen.check_updates(inputs["out"], expected)
            err = "; ".join(problems) if problems else None
        if err is not None:
            result.failures.append(f"night {world.night}: {err}")
        world.finish_night()
        shutil.rmtree(night, ignore_errors=True)
        return [{"label": label, "name": "sync", "t0": t0, "tb": None,
                 "ta": None, "t1": t1}]


WORKLOADS = {
    "sync_nightly": SyncWorkload(n_students=5_000),
    "query_composed": QueryWorkload(COMPOSED_ROWS, sf=0.01),
}
