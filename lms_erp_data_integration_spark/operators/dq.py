"""Declarative data-quality expectations (Deequ-style) — the
admission gate a pipeline runs before trusting a snapshot.

Reference analog: the mirror-table allowlist and the sdemo/id-number
cleaning invariants (``src/canvas.py:66-88``, ``src/jenzabar.py:35-36``)
are the reference's implicit data-quality layer; this module makes the
contract explicit, reusable, and reportable. Three check kinds:

- :class:`RowCheck` — a row-local violation predicate (not-null,
  value bounds, domain membership). All row checks over a frame fold
  into ONE aggregate (conditional sums) over one column-pruned scan —
  adding a check adds a column, not a scan.
- :class:`UniqueCheck` — key uniqueness, counted as
  ``n - count_distinct(keys)`` inside the same single aggregate.
- :class:`FkCheck` — referential integrity, the one necessarily
  relational check: an anti-join against the dimension's keys, its
  strategy left to AQE (the dimension broadcasts while it fits; at
  100 TB both sides shuffle on the key).

:func:`dq_report` returns (check_name, violations, passed) — the
registered ``rel_dq_expectations`` query is its oracle-paired
exercise. :func:`enforce` is the fail-closed gate form used by
``pipeline.engine.SyncEngine`` before mirror writes.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class RowCheck:
    """``violation`` is a boolean Column: True marks a violating row."""

    name: str
    violation: Column


@dataclass(frozen=True)
class UniqueCheck:
    name: str
    keys: tuple[str, ...]


@dataclass(frozen=True)
class FkCheck:
    """Every (keys) value in the checked frame must exist as
    (dim_keys) in ``dim``."""

    name: str
    keys: tuple[str, ...]
    dim: DataFrame
    dim_keys: tuple[str, ...]


Check = Union[RowCheck, UniqueCheck, FkCheck]


class DQGateError(ValueError):
    """Raised by :func:`enforce` when any expectation fails; carries
    the failing (check_name, violations) pairs."""

    def __init__(self, label: str, failed: list[tuple[str, int]]):
        self.label = label
        self.failed = failed
        detail = ", ".join(f"{n} ({v} violations)" for n, v in failed)
        super().__init__(f"DQ gate failed for {label!r}: {detail}")


def dq_report(df: DataFrame, checks: Sequence[Check]) -> DataFrame:
    """(check_name, violations, passed) — one row per check.

    Cost: one aggregate over one scan for ALL row/unique checks
    combined, plus one anti-join per FK check. Independent of the
    number of row checks."""
    aggs, stack_parts = [], []
    fk_checks = []
    need_n = any(isinstance(c, UniqueCheck) for c in checks)
    if need_n:
        aggs.append(F.count(F.lit(1)).alias("_n"))
    for i, c in enumerate(checks):
        if isinstance(c, RowCheck):
            aggs.append(F.sum(c.violation.cast("long")).alias(f"_v{i}"))
            stack_parts.append((c.name, f"_v{i}"))
        elif isinstance(c, UniqueCheck):
            aggs.append(F.countDistinct(*c.keys).alias(f"_nd{i}"))
            stack_parts.append((c.name, f"_n - _nd{i}"))
        else:
            fk_checks.append(c)
    out = None
    if stack_parts:
        obs = df.agg(*aggs)
        k = len(stack_parts)
        cells = ",\n  ".join(
            f"'{name}', CAST({expr} AS BIGINT), ({expr}) = 0"
            for name, expr in stack_parts
        )
        out = obs.select(
            F.expr(
                f"stack({k},\n  {cells}\n)"
                " AS (check_name, violations, passed)"
            )
        )
    for c in fk_checks:
        cond = None
        for a, b in zip(c.keys, c.dim_keys):
            t = df[a] == c.dim[b]
            cond = t if cond is None else (cond & t)
        orphans = (
            df.join(c.dim.select(*c.dim_keys), cond, "left_anti")
            .agg(F.count(F.lit(1)).alias("violations"))
            .select(
                F.lit(c.name).alias("check_name"),
                F.col("violations").cast("long").alias("violations"),
                (F.col("violations") == 0).alias("passed"),
            )
        )
        out = orphans if out is None else out.unionByName(orphans)
    if out is None:
        raise ValueError("dq_report: no checks given")
    return out


def enforce(df: DataFrame, checks: Sequence[Check], label: str) -> None:
    """Fail-closed admission gate: raise :class:`DQGateError` when any
    expectation fails, else return silently. The collected report is
    check-count-sized (never data-sized)."""
    if not checks:
        return
    failed = [
        (r["check_name"], int(r["violations"]))
        for r in dq_report(df, checks).collect()
        # a row check's sum over an empty frame is NULL: no violation
        if r["violations"]
    ]
    if failed:
        raise DQGateError(label, failed)
