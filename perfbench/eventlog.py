"""Reader for the Spark event log of a traced run.

The traced run builds its session with ``spark.eventLog.enabled`` (see
``run.py``); Spark 4.1 writes the log as
``<dir>/eventlog_v2_<app>/events_<n>_<app>`` (rolled files, read in
order). This module turns it into per-job and per-stage records and
attributes each job to the operation that launched it:

- by the job description (``spark.job.description``) the runner sets
  around each operation's plan build and final action, and
- for jobs that carry no description — streaming micro-batches run on
  the stream thread, which does not inherit it — by the operation
  whose ``[t0, t1]`` wall interval contains the job's submission.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int = 0
    description: str | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ms: float = 0.0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def event_files(log_dir: str) -> list[str]:
    """Event files of the single application logged under ``log_dir``,
    in roll order."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not files:
        raise FileNotFoundError(f"no eventlog_v2_*/events_* under {log_dir}")

    def roll_index(path: str) -> int:
        parts = os.path.basename(path).split("_")
        return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0

    return sorted(files, key=roll_index)


def parse(log_dir: str) -> tuple[dict[int, Job], dict[int, StageTotals]]:
    """(jobs by id, per-stage task totals) of the logged application."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                kind = line[10:60]
                if "JobStart" in kind:
                    e = json.loads(line)
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = Job(
                        job_id=e["Job ID"],
                        start_ms=e["Submission Time"],
                        description=props.get("spark.job.description"),
                        stage_ids=list(e.get("Stage IDs", [])),
                    )
                elif "JobEnd" in kind:
                    e = json.loads(line)
                    job = jobs.get(e["Job ID"])
                    if job is not None:
                        job.end_ms = e["Completion Time"]
                elif "TaskEnd" in kind:
                    _add_task(stages, json.loads(line))
    for job in jobs.values():
        if not job.end_ms:  # still running when the log was read
            job.end_ms = job.start_ms
    return jobs, stages


def _add_task(stages: dict[int, StageTotals], e: dict) -> None:
    st = stages.setdefault(e["Stage ID"], StageTotals())
    st.tasks += 1
    info = e.get("Task Info") or {}
    if info.get("Failed") or info.get("Killed"):
        st.failed_tasks += 1
    m = e.get("Task Metrics")
    if not m:
        return
    st.executor_run_ms += m.get("Executor Run Time", 0)
    st.executor_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
    st.gc_ms += m.get("JVM GC Time", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
        "Local Bytes Read", 0
    )
    wr = m.get("Shuffle Write Metrics") or {}
    st.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0
    )


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(
    jobs: dict[int, Job], ops: list[dict]
) -> dict[int, list[Job]]:
    """Map each operation (index into ``ops``) to its jobs.

    ``ops`` items carry ``label`` (the description prefix the runner
    set, e.g. ``p0.3``) and wall ``t0``/``t1`` in epoch seconds.
    A job whose description starts with an op's label belongs to it;
    an unlabelled job belongs to the op whose interval contains its
    submission time. Jobs outside every op (set-up, checks) are
    dropped."""
    by_label = {op["label"]: i for i, op in enumerate(ops)}
    spans = sorted(
        (op["t0"] * 1000.0, op["t1"] * 1000.0, i) for i, op in enumerate(ops)
    )
    out: dict[int, list[Job]] = {i: [] for i in range(len(ops))}
    for job in jobs.values():
        idx = None
        if job.description:
            idx = by_label.get(job.description.split("/", 1)[0])
        if idx is None:
            for s, e, i in spans:
                if s <= job.start_ms <= e:
                    idx = i
                    break
        if idx is not None:
            out[idx].append(job)
    return out
