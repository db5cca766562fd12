"""Broadcast-join hints, allowed only on build sides bounded by construction.

An explicit broadcast hint bypasses ``autoBroadcastJoinThreshold``:
Spark collects the hinted side to the driver whatever its size. AQE
converts a shuffle join to a broadcast from the observed COMPRESSED
shuffle size, so it already picks broadcast wherever a side is small;
a hint only adds a guarantee, and on a side that grows with the corpus
that guarantee is a driver OOM or a ``spark.driver.maxResultSize``
failure at scale (the sf10 decade probe showed one while every smaller
scale passed). The seven sync diffs of the reference
(``src/jenzabar.py:50-80``) are anti-joins against a mirror that grows
with the institution, so their sides are never hinted.

Every hint in the package therefore goes through
:func:`bounded_broadcast`, which names why its side is bounded. The
plan audit (``tests/test_plan_audit.py``) fails on any other broadcast
hint in the package: ``F.broadcast``, a ``broadcast`` imported from
``pyspark.sql.functions``, ``.hint("broadcast")`` or a SQL hint
comment. The bounded kinds:

- ``scalar-agg``: a 1-row (or few-row constant) aggregate.
- ``fixed-dim``: a fixed-cardinality dimension (nation 25 rows,
  region 5).
- ``enum-bounded``: group cardinality bounded by an enum or value
  domain (event_type, year, lang, decile, embedding dimension).
- ``k-row``: bounded by an operator parameter (k centroids, nprobe
  list, sketch width, bucket count, top-k).
- ``sketch-sized``: a sketch or sample frame (bottom-k rows, CMS
  cells).
- ``eval-bounded``: a benchmark or eval probe set, small by
  construction.

A corpus-proportional side (supplier, part or customer slices, rank
vectors, hot-shingle sets, sync mirrors) fits none of them: leave it
unhinted and let AQE decide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BOUNDED_KINDS = frozenset(
    {
        "scalar-agg",
        "fixed-dim",
        "enum-bounded",
        "k-row",
        "sketch-sized",
        "eval-bounded",
    }
)


def bounded_broadcast(df: DataFrame, kind: str, why: str) -> DataFrame:
    """Broadcast-hint ``df``, a side whose size is bounded by ``kind``
    (one of :data:`BOUNDED_KINDS`); ``why`` says what bounds it."""
    if kind not in BOUNDED_KINDS:
        raise ValueError(
            f"unknown broadcast kind {kind!r}; expected one of "
            f"{sorted(BOUNDED_KINDS)}"
        )
    if not why or not why.strip():
        raise ValueError("bounded_broadcast needs a non-empty reason")
    return F.broadcast(df)
