"""End-to-end sync engine — the reference's whole pipeline
(``main.py:3-5``: construct -> update_mirror_tables -> update_canvas)
as one Spark-native component.

Lifecycle parity (SURVEY.md section 3):

- E1 construction/term resolution: REG_CONFIG scalar + successor
  arithmetic (``src/integrator.py:20-38``) and the Canvas term-id
  lookup (F4, ``src/canvas.py:19-27``).
- E2 mirror refresh: raw report frames -> CleanSpec pipelines ->
  partitioned overwrite mirrors (``src/canvas.py:55-104`` +
  ``src/jenzabar.py:31-47``). Admission is all-or-nothing across
  entities: all DQ gates pass before any mirror is written. The gates
  overlap with each other, and then the writes do.
- E3 diff & apply: the seven update queries as broadcast anti-joins
  over ERP truth vs mirrors (``src/jenzabar.py:50-80``), applied in FK
  order with an engine-side run report (``src/canvas.py:107-162``).
  The four mirror reads overlap; the apply stays strictly sequential
  in FK order.

Overlapped legs run on the shared ``concurrency.run_legs`` pool. A
night's Spark jobs are small, so their cost is mostly fixed driver
and scheduler latency; independent legs pay it once instead of once
each.

Differences by design: no CSV dataflow between stages (lazy DataFrames
end-to-end), statistics computed *before* apply, and every per-term
read hits a ``yr_cde/trm_cde`` partition (pruning at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.terms import resolve_term
from ..operators import dq
from ..operators.cleaning import ENTITY_SPECS, clean
from ..operators.diff import missing_rows, snapshot_diff
from ..runparams import RunParams
from .mirror import MIRROR_ENTITIES, read_mirror, write_mirror
from .runner import Sink, SyncPipeline, run_report

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
    """

    def __init__(
        self,
        spark: SparkSession,
        erp: dict[str, DataFrame],
        mirror_path: str,
        term: str = "current",
        run_date=None,
        dq_gate: bool = True,
    ):
        self.spark = spark
        self.erp = erp
        self.mirror_path = mirror_path
        self.dq_gate = dq_gate
        term_id = resolve_term(erp["reg_config"], term)
        self.params = RunParams(term_id=term_id, run_date=run_date) if run_date else RunParams(term_id=term_id)

    # ------------------------------------------------------------- E2
    def update_mirror_tables(self, raw_reports: dict[str, DataFrame]) -> None:
        """Clean each raw provisioning-report frame, admission-gate all
        of them against :func:`mirror_checks`, then overwrite their
        mirrors (``integrator.py:40-50``).

        Admission is all-or-nothing across entities: every gate runs
        before any mirror is written, so a
        :class:`~..operators.dq.DQGateError` on one entity leaves every
        mirror on its previous snapshot. The gates overlap as legs of
        one ``run_legs`` call, and so do the writes."""
        from ..concurrency import run_legs

        cleaned = {
            entity: clean(raw, ENTITY_SPECS[entity], self.params)
            for entity, raw in raw_reports.items()
        }
        if self.dq_gate:
            checks = mirror_checks()
            run_legs(*(
                lambda e=e, df=df: dq.enforce(df, checks.get(e, []), label=e)
                for e, df in cleaned.items()
            ))
        run_legs(*(
            lambda e=e, df=df: write_mirror(df, e, self.mirror_path)
            for e, df in cleaned.items()
        ))

    def mirror(self, entity: str) -> DataFrame:
        df = read_mirror(self.spark, entity, self.mirror_path)
        if "yr_cde" in df.columns:
            df = self._term_slice(df)
        return df

    def _term_slice(self, df: DataFrame) -> DataFrame:
        return df.where(
            (F.col("yr_cde") == self.params.yr_cde)
            & (F.col("trm_cde") == self.params.trm_cde)
        )

    # ------------------------------------------------------------- E3
    def build_updates(self) -> dict[str, DataFrame]:
        """The seven update DataFrames (SURVEY.md section 2.4),
        projected to Canvas SIS-import shapes (FIXTURES.md section D)."""
        from ..concurrency import run_legs

        p = self.params
        # Each mirror read runs its own schema-inference job; the four
        # reads are independent, so they overlap as run_legs legs.
        users_m, courses_m, sections_m, enrollments_m = run_legs(
            *(lambda e=e: self.mirror(e) for e in MIRROR_ENTITIES)
        )
        users_mirror = users_m.select(
            F.col("id_num").cast("long").alias("id_num")
        )

        def missing_users(roster: DataFrame) -> DataFrame:
            return missing_rows(
                self._term_slice(roster), users_mirror, ["id_num"]
            ).select(
                F.col("id_num").alias("user_id"),
                "login_id",
                "first_name",
                "last_name",
                F.lit("active").alias("status"),
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
            .where(F.col("created_by_sis") == -1)
            .select("crs_cde", "section_id"),
            ["crs_cde", "section_id"],
        ).select(
            "section_id",
            F.col("crs_cde").alias("course_id"),
            "name",
            F.lit("active").alias("status"),
        )

        enr_keys = ["course_id", "user_id", "role", "section_id"]
        erp_enr = self._term_slice(self.erp["enrollments"]).select(*enr_keys)
        mirror_enr = (
            enrollments_m
            .where(F.col("created_by_sis") == -1)
            .select(*enr_keys)
        )
        enrollments = snapshot_diff(erp_enr, mirror_enr, enr_keys)

        ctl_courses = courses.select(
            F.concat(F.lit("CTL-"), F.col("course_id")).alias("course_id"),
            F.col("short_name"),
            F.concat(F.lit("CTL Library "), F.col("long_name")).alias("long_name"),
            "term_id",
            "status",
        )
        ctl_sections = sections.select(
            F.concat(F.lit("CTL-"), F.col("section_id")).alias("section_id"),
            F.concat(F.lit("CTL-"), F.col("course_id")).alias("course_id"),
            "name",
            "status",
        )

        return {
            "faculty_users": missing_users(self.erp["faculty"]),
            "student_users": missing_users(self.erp["students"]),
            "courses": courses,
            "sections": sections,
            "enrollments": enrollments,
            "ctl_library_courses": ctl_courses,
            "ctl_library_sections": ctl_sections,
        }

    def run(self, sink: Sink) -> DataFrame:
        """Build updates, apply them in FK order, return the report."""
        updates = self.build_updates()
        SyncPipeline(sink).apply(updates)
        return run_report(updates)
