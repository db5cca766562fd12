"""Output checks for the query workloads.

Each registered row is compared with its DuckDB oracle over the same
parquet tables, using the normalisation of ``scripts/parity.py``:
floats at full ``repr`` precision, Decimals as exact text, bytes as
hex, lists as tuples, columns sorted by name and rows sorted. A row
whose registered oracle cannot serve generated data gets a custom
expectation instead (``custom``: name -> ``f(data_dir) -> (columns,
rows)``).
"""

from __future__ import annotations

import decimal
import math


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # a nested Row
        return tuple(norm(x) for x in v)
    return v


def frame_key(cols, rows):
    """(sorted column names, sorted normalised rows) — the comparison
    form of one result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)
    return [cols[i] for i in order], out


class Oracles:
    """Expected results for the query rows over one table directory."""

    def __init__(self, data_dir: str, oracle_sql: dict[str, str],
                 custom: dict | None = None):
        import duckdb

        from lms_erp_data_integration_spark.catalog import TABLES

        self._con = duckdb.connect()
        for t in TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{data_dir}/{t}.parquet'"
            )
        self._dir = data_dir
        self._sql = oracle_sql
        self._custom = custom or {}
        self._expected: dict[str, object] = {}

    def expected(self, name: str):
        """Comparison key of the expected result."""
        if name not in self._expected:
            if name in self._custom:
                self._expected[name] = frame_key(*self._custom[name](self._dir))
            else:
                arrow = self._con.execute(self._sql[name]).fetch_arrow_table()
                rows = list(zip(*[c.to_pylist() for c in arrow.columns]))
                self._expected[name] = frame_key(arrow.column_names, rows)
        return self._expected[name]

    def check(self, name: str, cols, rows) -> str | None:
        """None when the Spark result matches, else a one-line reason."""
        got = frame_key(cols, rows)
        want = self.expected(name)
        if got[0] != want[0]:
            return f"columns {got[0]} != {want[0]}"
        if len(got[1]) != len(want[1]):
            return f"rows {len(got[1])} != {len(want[1])}"
        for i, (a, b) in enumerate(zip(got[1], want[1])):
            if a != b:
                return f"first differing sorted row {i}: {a!r} != {b!r}"[:300]
        return None