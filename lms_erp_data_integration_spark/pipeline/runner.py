"""Ordered sink runner + run report.

The reference applies the seven update files to Canvas in a fixed
FK-dependency order (``src/canvas.py:107-133``: faculty_users ->
student_users -> courses -> sections -> enrollments ->
ctl_library_courses -> ctl_library_sections) and then aggregates
per-entity change statistics into a text report
(``src/canvas.py:136-162``).

Here each sink call consumes a DataFrame, made in FK order. The
two-phase CSV sink (:class:`FileSink`) splits each call: all updates are
staged concurrently, then published in FK order, so FK order is the
order in which they become visible. As in the reference, the counts
come from the apply itself: each update carries an ``Observation`` of
:func:`change_counts` that rides the write staging it, and the run
report is built from those counts without a further Spark job. Per
entity it holds the row count and, where a status column exists, the
add/delete split.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from typing import Protocol

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources.csv import write_sis_csv

# FK-dependency order (src/canvas.py:108-116)
UPDATE_ORDER: tuple[str, ...] = (
    "faculty_users",
    "student_users",
    "courses",
    "sections",
    "enrollments",
    "ctl_library_courses",
    "ctl_library_sections",
)

# update file -> Canvas object kind (src/canvas.py:137-145)
ENTITY_KIND: dict[str, str] = {
    "faculty_users": "Account",
    "student_users": "Account",
    "courses": "Course",
    "sections": "CourseSection",
    "enrollments": "Enrollment",
    "ctl_library_courses": "Course",
    "ctl_library_sections": "CourseSection",
}

Sink = Callable[[str, DataFrame], None]

_COUNT_COLUMNS = ("n_rows", "n_active", "n_deleted")


def change_counts(df: DataFrame) -> list[Column]:
    """The change-count aggregates of one update: ``n_rows`` and, by
    ``status`` (``active`` when the frame has no status column),
    ``n_active`` and ``n_deleted``. Usable in ``agg`` and ``observe``
    alike; the sums are NULL over an empty update, as in SQL."""
    status = F.col("status") if "status" in df.columns else F.lit("active")
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(status == "active", 1).otherwise(0)).alias("n_active"),
        F.sum(F.when(status == "deleted", 1).otherwise(0)).alias("n_deleted"),
    ]


def run_report(updates: Mapping[str, DataFrame]) -> DataFrame:
    """Per-entity change statistics as a small DataFrame
    (``src/canvas.py:136-162`` semantics, computed engine-side).

    Columns: entity, kind, n_rows, n_active, n_deleted.
    """
    parts = [
        updates[name].agg(
            F.lit(name).alias("entity"),
            F.lit(ENTITY_KIND[name]).alias("kind"),
            *change_counts(updates[name]),
        )
        for name in UPDATE_ORDER
        if name in updates
    ]
    if not parts:
        raise ValueError("no updates supplied")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def observed_report(
    spark: SparkSession, counts: Mapping[str, Mapping[str, int | None]]
) -> DataFrame:
    """The :func:`run_report` rows, columns and types built from
    already observed :func:`change_counts` values, as a local
    ``VALUES`` relation: showing or collecting it runs no Spark job."""

    def bigint(v: int | None) -> str:
        return "CAST(NULL AS BIGINT)" if v is None else f"CAST({int(v)} AS BIGINT)"

    rows = [
        f"('{name}', '{ENTITY_KIND[name]}', "
        + ", ".join(bigint(counts[name][c]) for c in _COUNT_COLUMNS)
        + ")"
        for name in UPDATE_ORDER
        if name in counts
    ]
    if not rows:
        raise ValueError("no updates supplied")
    return spark.sql(
        "SELECT * FROM VALUES " + ", ".join(rows)
        + " AS report(entity, kind, " + ", ".join(_COUNT_COLUMNS) + ")"
    )


class SyncPipeline:
    """Drives update application in FK order through a sink callable,
    and reports the change counts each update's write observed.

    The sink abstracts the reference's SIS-import REST POST
    (``src/canvas.py:118-133``); the engine core stays self-contained
    (tests use a recording sink; a CSV sink gives file parity).

    ``apply`` instruments every update with a Spark ``Observation`` of
    :func:`change_counts`, so the counts ride the sink's own write
    instead of the extra aggregation pass per entity that
    :func:`run_report` costs. The contract for the sink: each call
    (or, for a :class:`StagedSink`, each ``stage``) runs exactly one
    action over the frame it is given, as a write does. ``report()``
    waits for those observations, and an ``Observation`` whose frame
    never ran an action blocks forever.

    Measured on the ``sync_nightly`` benchmark (4 cores) against
    checkpointing the five diffs before the apply, with the counts
    observed on the checkpoint jobs: a traced seed-7 night runs 29
    Spark jobs instead of 32, for no gain in time: ``pass_s`` median
    pair ratio 1.05 in two sets of 10 interleaved pairs (seeds
    1001-1010: 2.50 -> 2.69 s, 5/10 wins, parent IQR 2.33-2.99 s;
    seeds 2001-2010: 2.18 -> 2.27 s, 2/10 wins, parent IQR
    2.04-2.58 s)."""

    def __init__(self, sink: Sink):
        self.sink = sink
        self._observations: dict[str, Observation] = {}
        self._spark: SparkSession | None = None

    def apply(self, updates: Mapping[str, DataFrame]) -> list[str]:
        """Apply updates in dependency order; returns the order used.

        A sink with a ``stage`` method (:class:`StagedSink`) first
        stages every update, as legs of one ``run_legs`` call, and is
        then called in FK order to publish them. If any staging fails,
        the sink discards what was staged once every leg has finished,
        nothing is published, and the first failure is raised.

        Unknown update names are rejected (mirrors the strictness of
        the reference's mirror-table allowlist)."""
        unknown = set(updates) - set(UPDATE_ORDER)
        if unknown:
            raise NameError(f"unknown update entities: {sorted(unknown)}")
        self._observations = {}
        frames: dict[str, DataFrame] = {}
        for name in UPDATE_ORDER:
            if name in updates:
                df = updates[name]
                obs = self._observations[name] = Observation(f"sync_{name}")
                frames[name] = df.observe(obs, *change_counts(df))
                self._spark = df.sparkSession
        if hasattr(self.sink, "stage"):
            self._stage(frames)
        for name, df in frames.items():
            self.sink(name, df)
        return list(frames)

    def report(self) -> DataFrame:
        """:func:`observed_report` over the counts the last ``apply``
        observed; waits for each of them."""
        return observed_report(
            self._spark,
            {name: obs.get for name, obs in self._observations.items()},
        )

    def _stage(self, frames: Mapping[str, DataFrame]) -> None:
        from ..concurrency import run_legs

        def leg(name: str, df: DataFrame) -> Exception | None:
            try:
                self.sink.stage(name, df)
            except Exception as e:  # noqa: BLE001 - raised after every leg
                return e
            return None

        failures = [
            e
            for e in run_legs(*(
                lambda name=name, df=df: leg(name, df)
                for name, df in frames.items()
            ))
            if e is not None
        ]
        if failures:
            self.sink.discard()
            raise failures[0]


class StagedSink(Protocol):
    """A two-phase sink. ``stage(name, df)`` writes an update where no
    reader looks; calling the sink publishes it, staging it first if
    it was never staged; ``discard()`` drops everything staged and not
    yet published. ``stage`` may run concurrently for different
    names."""

    def stage(self, name: str, df: DataFrame) -> None: ...

    def __call__(self, name: str, df: DataFrame) -> None: ...

    def discard(self) -> None: ...


class FileSink:
    """Writes each update to ``<base>/<name>`` as Canvas-SIS-import
    CSV (``src/jenzabar.py:64-66`` file layout), the one format a SIS
    import takes, in two phases (:class:`StagedSink`): ``stage`` writes
    ``<base>/_staging/<name>``; the call deletes ``<base>/<name>`` and
    renames the staged directory into its place through the Hadoop
    ``FileSystem`` of the path. ``_staging`` is removed once nothing
    staged is left."""

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self._staged: set[str] = set()

    def _path(self, *parts: str):
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path
        return jpath("/".join((self.base_path, *parts)))

    def _fs(self):
        return self._path().getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )

    def stage(self, name: str, df: DataFrame) -> None:
        write_sis_csv(df, f"{self.base_path}/_staging/{name}")
        self._staged.add(name)

    def __call__(self, name: str, df: DataFrame) -> None:
        if name not in self._staged:
            self.stage(name, df)
        fs, target = self._fs(), self._path(name)
        fs.delete(target, True)
        if not fs.rename(self._path("_staging", name), target):
            raise OSError(f"could not publish {name} to {target.toString()}")
        self._staged.discard(name)
        if not self._staged:
            fs.delete(self._path("_staging"), True)

    def discard(self) -> None:
        self._fs().delete(self._path("_staging"), True)
        self._staged.clear()


def csv_sink(base_path: str) -> FileSink:
    """The :class:`FileSink` under ``base_path``, on the active
    session."""
    return FileSink(SparkSession.active(), base_path)
