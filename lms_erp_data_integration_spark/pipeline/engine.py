"""End-to-end sync engine — the reference's whole pipeline
(``main.py:3-5``: construct -> update_mirror_tables -> update_canvas)
as one Spark-native component.

Lifecycle parity (SURVEY.md section 3):

- E1 construction/term resolution: REG_CONFIG scalar + successor
  arithmetic (``src/integrator.py:20-38``) and the Canvas term-id
  lookup (F4, ``src/canvas.py:19-27``).
- E2 mirror refresh: raw report frames -> CleanSpec pipelines ->
  partitioned overwrite mirrors (``src/canvas.py:55-104`` +
  ``src/jenzabar.py:31-47``). Admission (:meth:`SyncEngine.admit`) is
  all-or-nothing across entities: all DQ gates pass before any mirror
  is written. The gates always run, since the reports come from
  outside the program, and they overlap with each other.
- E3 diff & apply: the seven update queries as broadcast anti-joins
  over ERP truth vs mirrors (``src/jenzabar.py:50-80``), applied in FK
  order with an engine-side run report (``src/canvas.py:107-162``).
  The reference reads its mirrors back because its diff runs in
  another process. Here a night with raw reports diffs against the
  frames it just admitted, and builds the seven plans while their
  gates run. Only a mirror with no report that night is read back,
  through ``sources.declared`` with ``sources.schemas.MIRROR_SCHEMAS``,
  so no read runs a schema-inference job. Then one wave runs the
  mirror writes and a two-phase CSV sink's (``runner.FileSink``)
  staging writes of all seven updates concurrently. The updates are
  published in FK order, so FK order is the order in which the files
  become visible, and only if every write of the wave succeeded. Each
  staging write also observes its update's change counts, and the
  report is built from them without running a Spark job.

Overlapped legs run on the shared ``concurrency.run_legs`` pool. A
night's Spark jobs are small, so their cost is mostly fixed driver
and scheduler latency; independent legs pay it once instead of once
each.

Differences by design: no CSV dataflow between stages (DataFrames
end-to-end), and every per-term read hits a ``yr_cde/trm_cde``
partition (pruning at 100 TB). Like the reference, the run learns its
counts from the apply; the reference reads them from Canvas's import
responses.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.terms import resolve_term
from ..operators import dq
from ..operators.cleaning import ENTITY_SPECS, clean
from ..operators.diff import missing_rows, snapshot_diff
from ..runparams import RunParams
from ..sources.declared import read_declared_parquet
from ..sources.schemas import MIRROR_SCHEMAS
from .mirror import MIRROR_ENTITIES, mirror_table_path, write_mirror
from .runner import Sink, SyncPipeline

# Mirror admission expectations (r4 verdict #8): the invariants the
# cleaning specs are SUPPOSED to guarantee, re-checked fail-closed at
# the mirror boundary so a spec regression (or a raw feed the spec
# doesn't cover) can never silently poison the diff queries downstream.
# Reference analog: the allowlist + sdemo/id-number invariants were the
# reference's implicit admission contract. A function, not a module
# constant: Column construction needs an active SparkContext.
def mirror_checks() -> dict[str, list[dq.Check]]:
    return {
        "users": [
            dq.RowCheck("id_num_not_null", F.col("id_num").isNull()),
            dq.RowCheck(
                "id_num_numeric", ~F.col("id_num").rlike("^[0-9]+$")
            ),
            dq.UniqueCheck("id_num_unique", ("id_num",)),
        ],
        "courses": [
            dq.RowCheck("crs_cde_not_null", F.col("crs_cde").isNull()),
            dq.RowCheck("term_stamped", F.col("yr_cde").isNull()),
        ],
        "sections": [
            dq.RowCheck(
                "section_id_not_null", F.col("section_id").isNull()
            ),
            dq.RowCheck(
                "created_by_sis_bit", ~F.col("created_by_sis").isin(-1, 0)
            ),
        ],
        "enrollments": [
            dq.RowCheck("user_id_not_null", F.col("user_id").isNull()),
            dq.RowCheck(
                "created_by_sis_bit", ~F.col("created_by_sis").isin(-1, 0)
            ),
        ],
    }


def convert_term_id(canvas_terms: DataFrame, sis_term_id: str) -> int | None:
    """F4: Canvas numeric term id for a SIS term id; None when absent
    (``src/canvas.py:19-27`` loop semantics)."""
    row = (
        canvas_terms.where(F.col("sis_term_id") == F.lit(sis_term_id))
        .select("id")
        .first()
    )
    return None if row is None else row["id"]


class SyncEngine:
    """One sync run over a local catalog.

    erp: FIXTURES.md section C shaped DataFrames — ``reg_config``,
    ``faculty``, ``students``, ``courses``, ``sections``,
    ``enrollments`` (all with yr_cde/trm_cde except reg_config).
    run_date: the mirrors' ``load_date`` stamp; today when not given,
    as in the reference (``src/canvas.py:101``).
    """

    def __init__(
        self,
        spark: SparkSession,
        erp: dict[str, DataFrame],
        mirror_path: str,
        term: str = "current",
        run_date=None,
    ):
        self.spark = spark
        self.erp = erp
        self.mirror_path = mirror_path
        term_id = resolve_term(erp["reg_config"], term)
        self.params = RunParams(term_id, run_date or dt.date.today())
        self._admitted: dict[str, DataFrame] = {}
        # built once: a night slices eight frames to its term
        self._in_term = (F.col("yr_cde") == self.params.yr_cde) & (
            F.col("trm_cde") == self.params.trm_cde
        )

    # ------------------------------------------------------------- E2
    def admit(
        self,
        raw_reports: Mapping[str, DataFrame],
        *beside: Callable[[], object],
    ) -> dict[str, DataFrame]:
        """Clean each raw provisioning-report frame and admission-gate
        all of them against :func:`mirror_checks`; returns the cleaned
        frames, which :meth:`mirror` answers with from then on.

        Admission is all-or-nothing across entities: the gates run as
        legs of one ``run_legs`` call, and a
        :class:`~..operators.dq.DQGateError` on any entity admits none
        of them. Each ``beside`` leg runs in that call too, for its
        effect, with :meth:`mirror` already answering from the frames
        under admission; it must start no ``run_legs`` call."""
        from ..concurrency import run_legs

        cleaned = {
            entity: clean(raw, ENTITY_SPECS[entity], self.params)
            for entity, raw in raw_reports.items()
        }
        checks = mirror_checks()
        before, self._admitted = self._admitted, {**self._admitted, **cleaned}
        try:
            run_legs(
                *(
                    lambda e=e, df=df: dq.enforce(df, checks.get(e, []), label=e)
                    for e, df in cleaned.items()
                ),
                *beside,
            )
        except BaseException:
            self._admitted = before
            raise
        return cleaned

    def update_mirror_tables(self, raw_reports: Mapping[str, DataFrame]) -> None:
        """:meth:`admit` the raw reports, then overwrite their mirrors
        (``integrator.py:40-50``), the writes as legs of one
        ``run_legs`` call. A failed gate writes no mirror."""
        from ..concurrency import run_legs

        run_legs(*self._mirror_writes(self.admit(raw_reports)))

    def _mirror_writes(
        self, admitted: Mapping[str, DataFrame]
    ) -> list[Callable[[], str]]:
        """One :func:`write_mirror` leg per admitted entity, each
        replacing the run's term even when it has no row for it."""
        term = (self.params.yr_cde, self.params.trm_cde)
        return [
            lambda e=e, df=df: write_mirror(df, e, self.mirror_path, term=term)
            for e, df in admitted.items()
        ]

    def mirror(self, entity: str) -> DataFrame:
        """The ``entity`` mirror the diffs compare against, sliced to
        the run's term: the frame this engine admitted for it, else the
        mirror table read back."""
        df = self._admitted.get(entity)
        if df is None:
            df = read_declared_parquet(
                self.spark,
                mirror_table_path(self.mirror_path, entity),
                MIRROR_SCHEMAS[entity],
            )
        if "yr_cde" in df.columns:
            df = self._term_slice(df)
        return df

    def _term_slice(self, df: DataFrame) -> DataFrame:
        return df.where(self._in_term)

    # ------------------------------------------------------------- E3
    def build_updates(self) -> dict[str, DataFrame]:
        """The seven update DataFrames (SURVEY.md section 2.4),
        projected to Canvas SIS-import shapes (FIXTURES.md section D):
        five diffs of ERP truth against the mirrors, and the two CTL
        library updates projected 1:1 from the courses and sections
        diffs."""
        p = self.params
        # Runs no Spark job. On a --raw night it is a leg beside the
        # gates, so the mirrors it still reads are read one by one, and
        # projections are SQL text: one call into the JVM each, where
        # a Column costs one per function, literal and alias.
        users_m, courses_m, sections_m, enrollments_m = map(
            self.mirror, MIRROR_ENTITIES
        )
        users_mirror = users_m.select(
            F.col("id_num").cast("long").alias("id_num")
        )

        def missing_users(roster: DataFrame) -> DataFrame:
            return missing_rows(
                self._term_slice(roster), users_mirror, ["id_num"]
            ).selectExpr(
                "id_num AS user_id",
                "login_id",
                "first_name",
                "last_name",
                "'active' AS status",
            )

        courses = missing_rows(
            self._term_slice(self.erp["courses"]),
            courses_m.select("crs_cde"),
            ["crs_cde"],
        ).select(
            F.col("crs_cde").alias("course_id"),
            F.col("crs_cde").alias("short_name"),
            F.col("title").alias("long_name"),
            F.lit(p.term_id).alias("term_id"),
            F.lit("active").alias("status"),
        )

        sections = missing_rows(
            self._term_slice(self.erp["sections"]),
            # only SIS-managed mirror rows count as present (canvas.py:79-80)
            sections_m
            .where("created_by_sis = -1")
            .select("crs_cde", "section_id"),
            ["crs_cde", "section_id"],
        ).selectExpr(
            "section_id",
            "crs_cde AS course_id",
            "name",
            "'active' AS status",
        )

        enr_keys = ["course_id", "user_id", "role", "section_id"]
        erp_enr = self._term_slice(self.erp["enrollments"]).select(*enr_keys)
        mirror_enr = (
            enrollments_m
            .where("created_by_sis = -1")
            .select(*enr_keys)
        )
        enrollments = snapshot_diff(erp_enr, mirror_enr, enr_keys)

        return {
            "faculty_users": missing_users(self.erp["faculty"]),
            "student_users": missing_users(self.erp["students"]),
            "courses": courses,
            "sections": sections,
            "enrollments": enrollments,
            "ctl_library_courses": courses.selectExpr(
                "concat('CTL-', course_id) AS course_id",
                "short_name",
                "concat('CTL Library ', long_name) AS long_name",
                "term_id",
                "status",
            ),
            "ctl_library_sections": sections.selectExpr(
                "concat('CTL-', section_id) AS section_id",
                "concat('CTL-', course_id) AS course_id",
                "name",
                "status",
            ),
        }

    def run(
        self, sink: Sink, raw_reports: Mapping[str, DataFrame] | None = None
    ) -> DataFrame:
        """One night: :meth:`admit` the raw reports, if any, building
        the seven update plans while their gates run; then write the
        admitted mirrors and stage the updates in one wave, and publish
        the updates in FK order (:meth:`~.runner.SyncPipeline.apply`).
        Returns the report of the change counts their writes observed
        (:meth:`~.runner.SyncPipeline.report`): the rows and types of
        :func:`~.runner.run_report`, shown without a Spark job."""
        pipe = SyncPipeline(sink)

        def plan() -> None:
            pipe.observe(self.build_updates())

        admitted = {}
        if raw_reports:
            admitted = self.admit(raw_reports, plan)
        else:
            plan()
        pipe.apply(beside=self._mirror_writes(admitted))
        return pipe.report()
