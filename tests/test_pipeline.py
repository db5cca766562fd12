"""Mirror writes, ordered sink application, run report (SURVEY.md M5)."""

from __future__ import annotations

import pytest

from lms_erp_data_integration_spark.pipeline import (
    SyncPipeline,
    UPDATE_ORDER,
    mirror_table_name,
    run_report,
    write_mirror,
)
from lms_erp_data_integration_spark.pipeline.mirror import read_mirror
from pyspark.sql import functions as F


def test_mirror_allowlist():
    assert mirror_table_name("users") == "rpc_re_canvas_users"
    # exact reference behavior: NameError (src/jenzabar.py:42-43)
    with pytest.raises(NameError):
        mirror_table_name("grades")


def test_mirror_roundtrip_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [("C1", "21", "1S"), ("C2", "21", "2S")],
        "crs_cde string, yr_cde string, trm_cde string",
    )
    path = write_mirror(df, "courses", str(tmp_path))
    assert path.endswith("rpc_re_canvas_courses")
    back = read_mirror(spark, "courses", str(tmp_path))
    assert back.count() == 2
    # partition pruning: a term-sliced read scans one partition only
    pruned = back.where((F.col("yr_cde") == "21") & (F.col("trm_cde") == "1S"))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(yr_cde" in plan


def test_mirror_overwrite_is_per_partition(spark, tmp_path):
    """Refreshing one term must not wipe the other terms' mirror data
    (dynamic partition overwrite, not static)."""
    both = spark.createDataFrame(
        [("C1", "21", "1S"), ("C2", "21", "2S")],
        "crs_cde string, yr_cde string, trm_cde string",
    )
    write_mirror(both, "courses", str(tmp_path))
    refresh_1s = spark.createDataFrame(
        [("C9", "21", "1S")], "crs_cde string, yr_cde string, trm_cde string"
    )
    write_mirror(refresh_1s, "courses", str(tmp_path))
    back = read_mirror(spark, "courses", str(tmp_path))
    rows = {(r.crs_cde, r.trm_cde) for r in back.collect()}
    # 1S replaced, 2S untouched
    assert rows == {("C9", "1S"), ("C2", "2S")}


def test_mirror_refresh_with_no_row_for_its_term_empties_it(spark, tmp_path):
    """A refresh of term 21/1S with no row for it empties that
    partition, as the reference's truncate does; 21/2S is untouched."""
    schema = "crs_cde string, yr_cde string, trm_cde string"
    write_mirror(
        spark.createDataFrame([("C1", "21", "1S"), ("C2", "21", "2S")], schema),
        "courses",
        str(tmp_path),
    )
    write_mirror(
        spark.createDataFrame([], schema), "courses", str(tmp_path),
        term=("21", "1S"),
    )
    back = read_mirror(spark, "courses", str(tmp_path))
    assert {(r.crs_cde, r.trm_cde) for r in back.collect()} == {("C2", "2S")}


def test_pipeline_fk_order_and_report(spark):
    users = spark.createDataFrame(
        [(1, "a", "active")], "user_id long, login_id string, status string"
    )
    enr = spark.createDataFrame(
        [(1, "C1", "active"), (2, "C1", "deleted")],
        "user_id long, course_id string, status string",
    )
    updates = {"enrollments": enr, "student_users": users}
    seen: list[str] = []
    pipe = SyncPipeline(lambda name, df: seen.append(name))
    applied = pipe.apply(updates)
    # FK order preserved regardless of dict order (canvas.py:108-116)
    assert applied == ["student_users", "enrollments"] == seen

    report = {r["entity"]: r for r in run_report(updates).collect()}
    assert report["enrollments"]["n_active"] == 1
    assert report["enrollments"]["n_deleted"] == 1
    assert report["student_users"]["n_rows"] == 1
    assert report["student_users"]["kind"] == "Account"

    with pytest.raises(NameError):
        pipe.apply({"grades": users})


def test_update_order_matches_reference():
    assert UPDATE_ORDER == (
        "faculty_users",
        "student_users",
        "courses",
        "sections",
        "enrollments",
        "ctl_library_courses",
        "ctl_library_sections",
    )


def test_pipeline_observed_metrics(spark):
    """The change counts ride the sink's own action (no extra
    aggregation pass), matching run_report's numbers."""
    enr = spark.createDataFrame(
        [(1, "C1", "active"), (2, "C1", "deleted"), (3, "C2", "active")],
        "user_id long, course_id string, status string",
    )
    users = spark.createDataFrame(
        [(1, "a")], "user_id long, login_id string"
    )
    counted: list[int] = []
    pipe = SyncPipeline(lambda name, df: counted.append(df.count()))
    pipe.apply({"enrollments": enr, "student_users": users})
    assert counted == [1, 3]
    got = {r["entity"]: tuple(r)[2:] for r in pipe.report().collect()}
    assert got["enrollments"] == (3, 2, 1)
    # no status column -> everything counts as active
    assert got["student_users"] == (1, 1, 0)


def test_file_sink_report_equals_run_report(spark, tmp_path):
    """Counted on the staging writes of a :class:`FileSink`, the report
    has run_report's rows, names and types, NULL sums of an empty
    update included, and collecting it starts no Spark job."""
    from lms_erp_data_integration_spark.pipeline.runner import FileSink

    updates = {
        "enrollments": spark.createDataFrame(
            [("C1", 1, "active"), ("C1", 2, "deleted")],
            "course_id string, user_id long, status string",
        ),
        "courses": spark.createDataFrame(
            [("C1", "active")], "course_id string, status string"
        ),
        "faculty_users": spark.createDataFrame(
            [], "user_id long, login_id string, status string"
        ),
    }
    pipe = SyncPipeline(FileSink(spark, str(tmp_path / "out")))
    pipe.apply(updates)
    report = pipe.report()
    sc = spark.sparkContext
    sc.setJobGroup("file-sink-report-probe", "collect the observed report")
    try:
        got = report.schema.simpleString(), [tuple(r) for r in report.collect()]
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("file-sink-report-probe") == []
    want = run_report(updates)
    assert got == (want.schema.simpleString(), [tuple(r) for r in want.collect()])
    assert got[1][0] == ("faculty_users", "Account", 0, None, None)


def test_mirror_schemas_match_the_cleaning_specs(spark):
    """The declared mirror read schemas are exactly what ``clean``
    writes from an empty raw report, column for column and type for
    type (nullability aside: Spark reads file columns as nullable)."""
    from lms_erp_data_integration_spark.operators.cleaning import (
        ENTITY_SPECS,
        clean,
    )
    from lms_erp_data_integration_spark.pipeline.mirror import MIRROR_ENTITIES
    from lms_erp_data_integration_spark.runparams import RunParams
    from lms_erp_data_integration_spark.sources.schemas import (
        ENTITY_CSV_SCHEMAS,
        MIRROR_SCHEMAS,
    )

    params = RunParams(term_id="211S")

    def columns(schema):
        return [(f.name, f.dataType) for f in schema]

    assert set(MIRROR_SCHEMAS) == set(MIRROR_ENTITIES)
    for entity in MIRROR_ENTITIES:
        raw = spark.createDataFrame([], ENTITY_CSV_SCHEMAS[entity])
        cleaned = clean(raw, ENTITY_SPECS[entity], params)
        assert columns(MIRROR_SCHEMAS[entity]) == columns(cleaned.schema), entity


def test_declared_parquet_checks_every_file(spark, tmp_path):
    """The footer check reads every file of a directory, not just the
    first: a later file with a column of another type fails the read,
    and the error names that file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from lms_erp_data_integration_spark.sources.declared import (
        read_declared_parquet,
    )

    schema = T.StructType([T.StructField("id_num", T.LongType())])
    pq.write_table(pa.table({"id_num": pa.array([1], pa.int32())}),
                   tmp_path / "a.parquet")
    assert read_declared_parquet(spark, str(tmp_path), schema).collect() == [(1,)]
    pq.write_table(pa.table({"id_num": ["2"]}), tmp_path / "b.parquet")
    with pytest.raises(ValueError, match=r"b\.parquet has .*id_num is string"):
        read_declared_parquet(spark, str(tmp_path), schema)


class _RecordingStagedSink:
    def __init__(self):
        self.events: list[tuple[str, str]] = []

    def stage(self, name, df):
        self.events.append(("stage", name))

    def __call__(self, name, df):
        self.events.append(("publish", name))

    def discard(self):
        self.events.append(("discard", ""))


def test_pipeline_stages_everything_before_publishing_in_fk_order(spark):
    df = spark.createDataFrame([(1,)], "x long")
    sink = _RecordingStagedSink()
    applied = SyncPipeline(sink).apply({name: df for name in UPDATE_ORDER[::-1]})
    assert applied == list(UPDATE_ORDER)
    kinds = [kind for kind, _ in sink.events]
    assert kinds == ["stage"] * 7 + ["publish"] * 7
    assert sorted(name for _, name in sink.events[:7]) == sorted(UPDATE_ORDER)
    assert [name for _, name in sink.events[7:]] == list(UPDATE_ORDER)


def test_file_sink_staging_failure_publishes_nothing(spark, tmp_path):
    """One update fails while it is staged: none of the seven is
    published, and no ``_staging`` is left."""
    from lms_erp_data_integration_spark.pipeline.runner import FileSink

    ok = spark.createDataFrame([("a",)], "course_id string")
    boom = spark.range(1).select(
        F.raise_error(F.lit("boom")).cast("string").alias("x")
    )
    updates = {name: ok for name in UPDATE_ORDER}
    updates["sections"] = boom
    out = tmp_path / "out"
    with pytest.raises(Exception, match="boom"):
        SyncPipeline(FileSink(spark, str(out))).apply(updates)
    assert [p.name for p in out.iterdir()] == []


def test_file_sink_publishes_a_call_it_never_staged(spark, tmp_path):
    """A plain call stages and publishes in one go, replacing what the
    name held, and leaves no ``_staging`` behind."""
    import glob

    from lms_erp_data_integration_spark.pipeline.runner import FileSink

    out = tmp_path / "out"
    sink = FileSink(spark, str(out))
    sink("courses", spark.createDataFrame([("old",)], "course_id string"))
    sink("courses", spark.createDataFrame([("new",)], "course_id string"))
    assert sorted(p.name for p in out.iterdir()) == ["courses"]
    (path,) = glob.glob(str(out / "courses" / "*.csv"))
    with open(path) as f:
        assert f.read().splitlines() == ["course_id", "new"]
