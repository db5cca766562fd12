"""The declared read formats of a sync night, in one place.

The reference loads every input with inferred dtypes
(``src/canvas.py:63``, ``src/jenzabar.py:39``). Inference costs a
Spark job per read and drifts silently with the data, so a night reads
each of its inputs with one of these schemas instead:

- ``ENTITY_CSV_SCHEMAS``: the raw provisioning reports (FIXTURES.md
  section A), as CSV or parquet.
- ``ERP_SCHEMAS``: the six ERP tables (FIXTURES.md section C).
- ``MIRROR_SCHEMAS``: the mirrors, as ``clean`` writes them
  (FIXTURES.md section B); ``tests/test_pipeline.py`` pins them to
  the cleaning specs.

Every column is nullable: Spark reads file columns back as nullable.
"""

from __future__ import annotations

from pyspark.sql import types as T


def declared_schema(**columns: T.DataType) -> T.StructType:
    """A schema of nullable columns, in keyword order."""
    return T.StructType([T.StructField(c, t) for c, t in columns.items()])


_STR, _LONG, _INT = T.StringType(), T.LongType(), T.IntegerType()
_BOOL, _DATE = T.BooleanType(), T.DateType()

ENTITY_CSV_SCHEMAS: dict[str, T.StructType] = {
    "users": declared_schema(
        user_id=_STR, canvas_user_id=_LONG, login_id=_STR
    ),
    "courses": declared_schema(
        canvas_course_id=_LONG, course_id=_STR, status=_STR
    ),
    "sections": declared_schema(
        course_id=_STR, section_id=_STR, name=_STR, status=_STR,
        account_id=_LONG, canvas_section_id=_LONG, created_by_sis=_BOOL,
    ),
    "enrollments": declared_schema(
        course_id=_STR, user_id=_STR, role=_STR, section_id=_STR,
        status=_STR, canvas_enrollment_id=_LONG, canvas_section_id=_LONG,
        created_by_sis=_BOOL,
    ),
}

_ROSTER = declared_schema(
    id_num=_LONG, login_id=_STR, first_name=_STR, last_name=_STR,
    yr_cde=_STR, trm_cde=_STR,
)
# in the order the CLI loads them
ERP_SCHEMAS: dict[str, T.StructType] = {
    "reg_config": declared_schema(CUR_YR_DFLT=_STR, CUR_TRM_DFLT=_STR),
    "faculty": _ROSTER,
    "students": _ROSTER,
    "courses": declared_schema(
        crs_cde=_STR, title=_STR, yr_cde=_STR, trm_cde=_STR
    ),
    "sections": declared_schema(
        crs_cde=_STR, section_id=_STR, name=_STR, yr_cde=_STR, trm_cde=_STR
    ),
    "enrollments": declared_schema(
        course_id=_STR, user_id=_LONG, role=_STR, section_id=_STR,
        yr_cde=_STR, trm_cde=_STR,
    ),
}

# in the column order of what ``clean`` writes
MIRROR_SCHEMAS: dict[str, T.StructType] = {
    "users": declared_schema(
        id_num=_STR, canvas_user=_LONG, login_id=_STR, load_date=_DATE
    ),
    "courses": declared_schema(
        canvas_course_id=_LONG, crs_cde=_STR, status=_STR,
        yr_cde=_STR, trm_cde=_STR, load_date=_DATE,
    ),
    "sections": declared_schema(
        crs_cde=_STR, section_id=_STR, name=_STR, status=_STR,
        account_id=_LONG, canvas_section_id=_LONG, created_by_sis=_INT,
        yr_cde=_STR, trm_cde=_STR, load_date=_DATE,
    ),
    "enrollments": declared_schema(
        course_id=_STR, user_id=_LONG, role=_STR, section_id=_STR,
        status=_STR, canvas_enrollment_id=_LONG, canvas_section_id=_LONG,
        created_by_sis=_INT, yr_cde=_STR, trm_cde=_STR, load_date=_DATE,
    ),
}
