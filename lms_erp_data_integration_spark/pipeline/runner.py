"""Ordered sink runner + run report.

The reference applies the seven update files to Canvas in a fixed
FK-dependency order (``src/canvas.py:107-133``: faculty_users ->
student_users -> courses -> sections -> enrollments ->
ctl_library_courses -> ctl_library_sections) and then aggregates
per-entity change statistics into a text report
(``src/canvas.py:136-162``).

Here the order is encoded as DAG edges over sink calls; each sink
consumes a DataFrame. A two-phase sink (:class:`FileSink`) splits each
call: all updates are staged concurrently, then published in FK order,
so FK order is the order in which they become visible. The run report
is computed *before* applying
(an improvement the reference cannot do — it only learns counts from
Canvas's import response): per-entity row counts and, where a status
column exists, add/delete splits.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from typing import Protocol

from pyspark.sql import Column, DataFrame, SparkSession
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
            F.lit(ENTITY_KIND.get(name, "Unknown")).alias("kind"),
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
        f"('{name}', '{ENTITY_KIND.get(name, 'Unknown')}', "
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
    """Drives update application in FK order through a sink callable.

    The sink abstracts the reference's SIS-import REST POST
    (``src/canvas.py:118-133``); the engine core stays self-contained
    (tests use a recording sink; a CSV sink gives file parity).

    With ``observe=True``, each update is instrumented with a Spark
    ``Observation`` of :func:`change_counts`, so the counts piggyback
    on the sink's own action instead of the extra aggregation pass per
    entity that :func:`run_report` costs. Metrics land in
    ``self.observed`` after ``apply`` (requires each sink call to run
    exactly the kind of action a write is).

    ``SyncEngine.run`` does not use it: the same observation rides the
    job that materializes each diff before the apply, and the sink
    path here is unchanged. Alternatives measured on the
    ``sync_nightly`` benchmark (4 cores) and rejected:

    - ``observe=True`` over the lazy diffs plus a ``createDataFrame``
      report: no faster than ``run_report`` over 12 alternating
      nights, seed 31 (apply 1.41 -> 1.63 s, report 0.52 vs 0.67 s,
      night 4.76 vs 4.78 s).
    - ``tracked_persist`` plus a noop write instead of
      ``localCheckpoint``: median night 3.09, 3.08 and 4.24 s against
      2.80, 2.63 and 2.75 s (3 interleaved runs of 8 measured nights,
      seeds 61-63). Its cached blocks also stay until
      ``release_cached()``, which the CLI never calls.
    - Checkpointing alone, with the report still ``run_report`` over
      the checkpoints: median night 3.14 -> 2.92 s against the lazy
      diffs, winning only 2 of 5 interleaved pairs (seeds 41-45). The
      report from the observed counts is part of the gain."""

    def __init__(self, sink: Sink, observe: bool = False):
        self.sink = sink
        self.observe = observe
        self.observed: dict[str, dict] = {}

    def apply(self, updates: Mapping[str, DataFrame]) -> list[str]:
        """Apply updates in dependency order; returns the order used.

        A sink with a ``stage`` method (:class:`StagedSink`) first
        stages every update, as legs of one ``run_legs`` call, and is
        then called in FK order to publish them. If any staging fails,
        the sink discards what was staged once every leg has finished,
        nothing is published, and the first failure is raised.

        Unknown update names are rejected (mirrors the strictness of
        the reference's mirror-table allowlist)."""
        from pyspark.sql import Observation

        unknown = set(updates) - set(UPDATE_ORDER)
        if unknown:
            raise NameError(f"unknown update entities: {sorted(unknown)}")
        self.observed = {}
        observations: dict[str, Observation] = {}
        frames: dict[str, DataFrame] = {}
        for name in UPDATE_ORDER:
            if name in updates:
                df = updates[name]
                if self.observe:
                    obs = Observation(f"sync_{name}")
                    df = df.observe(obs, *change_counts(df))
                    observations[name] = obs
                frames[name] = df
        if hasattr(self.sink, "stage"):
            self._stage(frames)
        for name, df in frames.items():
            self.sink(name, df)
        for name, obs in observations.items():
            self.observed[name] = dict(obs.get)
        return list(frames)

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
    CSV (``src/jenzabar.py:64-66`` file layout) or as Parquet, in two
    phases (:class:`StagedSink`): ``stage`` writes
    ``<base>/_staging/<name>``; the call deletes ``<base>/<name>`` and
    renames the staged directory into its place through the Hadoop
    ``FileSystem`` of the path. ``_staging`` is removed once nothing
    staged is left."""

    def __init__(self, spark: SparkSession, base_path: str, fmt: str = "csv"):
        if fmt not in ("csv", "parquet"):
            raise ValueError(f"unknown sink format {fmt!r}")
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.fmt = fmt
        self._staged: set[str] = set()

    def _path(self, *parts: str):
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path
        return jpath("/".join((self.base_path, *parts)))

    def _fs(self):
        return self._path().getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )

    def stage(self, name: str, df: DataFrame) -> None:
        path = f"{self.base_path}/_staging/{name}"
        if self.fmt == "csv":
            write_sis_csv(df, path)
        else:
            df.write.mode("overwrite").parquet(path)
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
    """The CSV :class:`FileSink` under ``base_path``, on the active
    session."""
    return FileSink(SparkSession.active(), base_path, "csv")
