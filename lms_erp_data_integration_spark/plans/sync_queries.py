"""The seven sync-diff queries (SURVEY.md section 2.4, Q1-Q7) expressed
over the driver's test tables.

The reference diffs "ERP truth for the working term" against "Canvas
mirror state" (``src/jenzabar.py:50-80``). The test catalog has no
ERP/Canvas tables, so each query derives the two sides deterministically
from the TPC-H-ish tables (role mapping per FIXTURES.md section E) and
then applies the engine's generic snapshot-diff operators — the same
operators unit-tested on FIXTURES section C shaped frames:

- "term" analog      -> order/ship YEAR (truth=1996, mirror=1995)
- ERP user rosters   -> customer, split by c_mktsegment
  (faculty=AUTOMOBILE, students=BUILDING)
- Canvas users mirror-> customers with a 1995 order
- ERP course catalog -> part (p_size >= 25 = "offered this term")
- Canvas courses mirror -> parts shipped in 1995
- ERP sections       -> distinct (part, supplier) shipped in 1996
- Canvas sections mirror -> same pairs shipped in 1995
- enrollments        -> distinct (customer, order-priority) per year

Every query is a parameterized snapshot anti-join: filter to the term
slice, left-anti on the key. Join strategy is deliberately left to AQE
(no explicit broadcast hints anywhere in this family): in the synthetic
mapping both diff sides are year-slices of *fact* tables, so they grow
linearly with the corpus — a forced ``F.broadcast`` would hard-fail at
Spark's 8 GB / 512M-row broadcast limits around sf50-100. AQE instead
promotes whichever side is actually small at runtime (observed shuffle
size vs ``autoBroadcastJoinThreshold``), which at sf0.1 still yields the
map-side broadcast anti-join (verified by ``scripts/explain_audit.py``)
and at 100 TB degrades gracefully to a sort-merge join with skew
splitting. The term filter prunes partitions when the tables are laid
out ``partitionBy(term)`` — see pipeline/mirror.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..operators.diff import missing_rows, snapshot_diff
from .registry import query

TRUTH_YEAR = 1996  # the "working term"
MIRROR_YEAR = 1995  # state already in the LMS


def _mirror_users(cat: Catalog) -> DataFrame:
    return (
        cat.orders.where(F.year("o_orderdate") == MIRROR_YEAR)
        .select(F.col("o_custkey").alias("user_id"))
        .distinct()
    )


def _missing_users(
    spark: SparkSession,
    sf_dir: str,
    segment: str,
    mirror_users: DataFrame | None = None,
) -> DataFrame:
    """Q1/Q2 shape: roster anti-join mirror -> SIS users file
    (FIXTURES.md section D schema). ``mirror_users`` lets the composed
    pipeline runner pass one persisted mirror frame to both user
    diffs; solo queries build their own (identical plan)."""
    cat = Catalog(spark, sf_dir)
    roster = cat.customer.where(F.col("c_mktsegment") == segment).select(
        F.col("c_custkey").alias("user_id"), F.col("c_name").alias("login_id")
    )
    mirror = mirror_users if mirror_users is not None else _mirror_users(cat)
    return (
        missing_rows(roster, mirror, ["user_id"])
        .withColumn("status", F.lit("active"))
        .select("user_id", "login_id", "status")
    )


_USERS_ORACLE = """
SELECT c_custkey AS user_id, c_name AS login_id, 'active' AS status
FROM customer
WHERE c_mktsegment = '{seg}'
  AND c_custkey NOT IN (
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995)
"""


@query("sync_missing_faculty_users", _USERS_ORACLE.format(seg="AUTOMOBILE"))
def missing_faculty_users(
    spark: SparkSession,
    sf_dir: str,
    mirror_users: DataFrame | None = None,
) -> DataFrame:
    """Q1 MissingFacultyUsers (``src/jenzabar.py:52``)."""
    return _missing_users(spark, sf_dir, "AUTOMOBILE", mirror_users)


@query("sync_missing_student_users", _USERS_ORACLE.format(seg="BUILDING"))
def missing_student_users(
    spark: SparkSession,
    sf_dir: str,
    mirror_users: DataFrame | None = None,
) -> DataFrame:
    """Q2 MissingStudentUsers (``src/jenzabar.py:53``)."""
    return _missing_users(spark, sf_dir, "BUILDING", mirror_users)


@query(
    "sync_missing_courses",
    """
SELECT 'CRS-' || CAST(p_partkey AS VARCHAR) AS course_id,
       p_brand AS short_name, p_name AS long_name,
       '961S' AS term_id, 'active' AS status
FROM part
WHERE p_size >= 25
  AND p_partkey NOT IN (
    SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1995)
""",
)
def missing_courses(
    spark: SparkSession,
    sf_dir: str,
    mirror_pairs: DataFrame | None = None,
) -> DataFrame:
    """Q3 MissingCourses (``src/jenzabar.py:54``): catalog rows for the
    term absent from the course mirror -> SIS courses file.
    ``mirror_pairs`` (the persisted 1995 distinct (partkey, suppkey)
    set shared with Q4 by the composed runner) projects to the same
    distinct-partkey mirror this query builds solo."""
    cat = Catalog(spark, sf_dir)
    catalog_ = cat.part.where(F.col("p_size") >= 25)
    if mirror_pairs is not None:
        mirror = mirror_pairs.select(
            F.col("l_partkey").alias("p_partkey")
        ).distinct()
    else:
        mirror = (
            cat.lineitem.where(F.year("l_shipdate") == MIRROR_YEAR)
            .select(F.col("l_partkey").alias("p_partkey"))
            .distinct()
        )
    return missing_rows(catalog_, mirror, ["p_partkey"]).select(
        F.concat(F.lit("CRS-"), F.col("p_partkey").cast("string")).alias("course_id"),
        F.col("p_brand").alias("short_name"),
        F.col("p_name").alias("long_name"),
        F.lit("961S").alias("term_id"),
        F.lit("active").alias("status"),
    )


@query(
    "sync_missing_sections",
    """
WITH truth AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
  WHERE year(l_shipdate) = 1996),
mirror AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
  WHERE year(l_shipdate) = 1995)
SELECT 'CRS-' || CAST(l_partkey AS VARCHAR) AS course_id,
       'SEC-' || CAST(l_partkey AS VARCHAR) || '-'
               || CAST(l_suppkey AS VARCHAR) AS section_id,
       'Section ' || CAST(l_suppkey AS VARCHAR) AS name,
       'active' AS status
FROM truth
WHERE NOT EXISTS (
  SELECT 1 FROM mirror m
  WHERE m.l_partkey = truth.l_partkey AND m.l_suppkey = truth.l_suppkey)
""",
)
def missing_sections(
    spark: SparkSession,
    sf_dir: str,
    mirror_pairs: DataFrame | None = None,
) -> DataFrame:
    """Q4 MissingSections (``src/jenzabar.py:55``): composite-key
    anti-join -> SIS sections file."""
    cat = Catalog(spark, sf_dir)

    def pairs(year: int) -> DataFrame:
        return (
            cat.lineitem.where(F.year("l_shipdate") == year)
            .select("l_partkey", "l_suppkey")
            .distinct()
        )

    mirror = mirror_pairs if mirror_pairs is not None else pairs(MIRROR_YEAR)
    return missing_rows(
        pairs(TRUTH_YEAR), mirror, ["l_partkey", "l_suppkey"]
    ).select(
        F.concat(F.lit("CRS-"), F.col("l_partkey").cast("string")).alias("course_id"),
        F.concat(
            F.lit("SEC-"),
            F.col("l_partkey").cast("string"),
            F.lit("-"),
            F.col("l_suppkey").cast("string"),
        ).alias("section_id"),
        F.concat(F.lit("Section "), F.col("l_suppkey").cast("string")).alias("name"),
        F.lit("active").alias("status"),
    )


@query(
    "sync_daily_enrollment",
    """
WITH truth AS (
  SELECT DISTINCT o_custkey AS user_id, o_orderpriority AS course_id
  FROM orders WHERE year(o_orderdate) = 1996),
mirror AS (
  SELECT DISTINCT o_custkey AS user_id, o_orderpriority AS course_id
  FROM orders WHERE year(o_orderdate) = 1995)
SELECT user_id, course_id, 'active' AS status FROM truth
WHERE NOT EXISTS (SELECT 1 FROM mirror m
  WHERE m.user_id = truth.user_id AND m.course_id = truth.course_id)
UNION ALL
SELECT user_id, course_id, 'deleted' AS status FROM mirror
WHERE NOT EXISTS (SELECT 1 FROM truth t
  WHERE t.user_id = mirror.user_id AND t.course_id = mirror.course_id)
""",
)
def daily_enrollment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 DailyEnrollment (``src/jenzabar.py:56``) — the bidirectional
    add/drop diff (README.md:4 "create and remove")."""
    cat = Catalog(spark, sf_dir)

    def enrollments(year: int) -> DataFrame:
        return (
            cat.orders.where(F.year("o_orderdate") == year)
            .select(
                F.col("o_custkey").alias("user_id"),
                F.col("o_orderpriority").alias("course_id"),
            )
            .distinct()
        )

    return snapshot_diff(
        enrollments(TRUTH_YEAR), enrollments(MIRROR_YEAR), ["user_id", "course_id"]
    )


@query(
    "sync_ctl_library_courses",
    """
WITH shells AS (
  SELECT DISTINCT p_brand, p_size FROM part WHERE p_size >= 25),
mirror AS (
  SELECT DISTINCT p.p_brand, p.p_size
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE year(l.l_shipdate) = 1995)
SELECT 'CTL-' || shells.p_brand || '-' || CAST(shells.p_size AS VARCHAR)
         AS course_id,
       shells.p_brand AS short_name,
       'CTL Library ' || shells.p_brand AS long_name,
       '961S' AS term_id, 'active' AS status
FROM shells
WHERE NOT EXISTS (SELECT 1 FROM mirror m
  WHERE m.p_brand = shells.p_brand AND m.p_size = shells.p_size)
""",
)
def ctl_library_courses(
    spark: SparkSession,
    sf_dir: str,
    mirror_bts: DataFrame | None = None,
) -> DataFrame:
    """Q6 CtlLibraryCourses (``src/jenzabar.py:57``): synthesized
    auxiliary course shells (per brand x size) minus those already
    mirrored. ``mirror_bts`` (the persisted 1995 distinct
    (brand, type, size) set shared with Q7 by the composed runner)
    projects to the identical (brand, size) mirror set."""
    cat = Catalog(spark, sf_dir)
    shells = cat.part.where(F.col("p_size") >= 25).select("p_brand", "p_size").distinct()
    if mirror_bts is not None:
        mirrored = mirror_bts.select("p_brand", "p_size").distinct()
    else:
        mirrored = (
            cat.lineitem.where(F.year("l_shipdate") == MIRROR_YEAR)
            .join(
                cat.part.select("p_partkey", "p_brand", "p_size"),
                F.col("l_partkey") == F.col("p_partkey"),
            )
            .select("p_brand", "p_size")
            .distinct()
        )
    return missing_rows(shells, mirrored, ["p_brand", "p_size"]).select(
        F.concat(
            F.lit("CTL-"), F.col("p_brand"), F.lit("-"), F.col("p_size").cast("string")
        ).alias("course_id"),
        F.col("p_brand").alias("short_name"),
        F.concat(F.lit("CTL Library "), F.col("p_brand")).alias("long_name"),
        F.lit("961S").alias("term_id"),
        F.lit("active").alias("status"),
    )


@query(
    "sync_ctl_library_sections",
    """
WITH shells AS (
  SELECT DISTINCT p_brand, p_type, p_size FROM part WHERE p_size >= 25),
mirror AS (
  SELECT DISTINCT p.p_brand, p.p_type, p.p_size
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE year(l.l_shipdate) = 1995)
SELECT 'SEC-CTL-' || shells.p_brand || '-' || shells.p_type || '-'
         || CAST(shells.p_size AS VARCHAR) AS section_id,
       'CTL-' || shells.p_brand || '-' || CAST(shells.p_size AS VARCHAR)
         AS course_id,
       shells.p_type AS name, 'active' AS status
FROM shells
WHERE NOT EXISTS (SELECT 1 FROM mirror m
  WHERE m.p_brand = shells.p_brand AND m.p_type = shells.p_type
    AND m.p_size = shells.p_size)
""",
)
def ctl_library_sections(
    spark: SparkSession,
    sf_dir: str,
    mirror_bts: DataFrame | None = None,
) -> DataFrame:
    """Q7 CtlLibrarySections (``src/jenzabar.py:58``)."""
    cat = Catalog(spark, sf_dir)
    keys = ["p_brand", "p_type", "p_size"]
    shells = cat.part.where(F.col("p_size") >= 25).select(*keys).distinct()
    if mirror_bts is not None:
        mirrored = mirror_bts
    else:
        mirrored = (
            cat.lineitem.where(F.year("l_shipdate") == MIRROR_YEAR)
            .join(
                cat.part.select("p_partkey", *keys),
                F.col("l_partkey") == F.col("p_partkey"),
            )
            .select(*keys)
            .distinct()
        )
    return missing_rows(shells, mirrored, keys).select(
        F.concat(
            F.lit("SEC-CTL-"),
            F.col("p_brand"),
            F.lit("-"),
            F.col("p_type"),
            F.lit("-"),
            F.col("p_size").cast("string"),
        ).alias("section_id"),
        F.concat(
            F.lit("CTL-"), F.col("p_brand"), F.lit("-"), F.col("p_size").cast("string")
        ).alias("course_id"),
        F.col("p_type").alias("name"),
        F.lit("active").alias("status"),
    )


@query(
    "sync_jdbc_mirror_roundtrip",
    """
WITH mirror AS (
  SELECT c_custkey AS user_id, c_custkey AS canvas_user_id,
         c_name AS login_id
  FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(user_id) AS BIGINT) AS sum_user_id,
       CAST(SUM(length(login_id)) AS BIGINT) AS sum_login_len
FROM mirror
""",
)
def jdbc_mirror_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S8 end-to-end under the driver gate: refresh a mirror table
    through a REAL JDBC database (the Derby embedded driver that ships
    in the Spark distribution) and checksum what comes back.

    The reference's mirror refresh is DELETE + batched INSERT over
    pyODBC (``src/jenzabar.py:46-47``); the Spark-native equivalent is
    ``write.jdbc(mode="overwrite")`` — snapshot-replace, not append.
    To make the oracle sensitive to exactly that semantic, the table is
    first seeded with a stale superset (the mirror plus offset junk
    rows); the refresh overwrite must REPLACE it. If overwrite ever
    regressed to append, ``sum_user_id`` would include the stale rows
    and the hash would flip.

    The read-back is partition-parallel (``partitionColumn`` bounds,
    4 slices) — the same range-pushdown shape a production JDBC scan
    uses so executors read disjoint key ranges concurrently. Scale
    posture: at 100 TB the mirror refresh writes through
    ``numPartitions`` concurrent connections with ``batchsize``-row
    round trips, and reads slice on an indexed key column; Derby here
    is a stand-in for any JDBC-reachable RDBMS."""
    import tempfile

    cat = Catalog(spark, sf_dir)
    mirror = cat.customer.where(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_custkey").alias("canvas_user_id"),
        F.col("c_name").alias("login_id"),
    )
    url = f"jdbc:derby:{tempfile.mkdtemp(prefix='erpdb_')}/erpdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    table = "rpc_re_canvas_users"
    # seed with a stale superset: the mirror plus clearly-junk rows
    stale = mirror.unionByName(
        mirror.limit(50).select(
            (F.col("user_id") + F.lit(10**9)).alias("user_id"),
            F.col("canvas_user_id"),
            F.lit("stale-row").alias("login_id"),
        )
    )
    stale.write.jdbc(url, table, mode="overwrite", properties=props)
    # the refresh under test: snapshot overwrite must replace, not append
    mirror.write.jdbc(url, table, mode="overwrite", properties=props)
    bounds = mirror.agg(
        F.min("user_id").alias("lo"), F.max("user_id").alias("hi")
    ).first()
    back = spark.read.jdbc(
        url,
        table,
        column="user_id",
        lowerBound=int(bounds["lo"]),
        upperBound=int(bounds["hi"]) + 1,
        numPartitions=4,
        properties=props,
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("user_id").alias("sum_user_id"),
        F.sum(F.length("login_id")).alias("sum_login_len"),
    )


@query(
    "sync_clean_users",
    """
WITH raw AS (
  SELECT CASE WHEN c_custkey % 53 = 0
              THEN 'sdemo' || CAST(c_custkey AS VARCHAR)
              WHEN c_custkey % 97 = 0 THEN NULL
              ELSE CAST(c_custkey AS VARCHAR) END AS user_id,
         c_custkey AS canvas_user_id, c_name AS login_id
  FROM customer)
SELECT user_id AS id_num, canvas_user_id AS canvas_user, login_id,
       DATE '2021-09-01' AS load_date
FROM raw
WHERE user_id IS NOT NULL AND regexp_full_match(user_id, '[0-9]+')
""",
)
def clean_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused user-cleaning pipeline (``src/canvas.py:62-104``:
    P1+P2+F1+F2+T3) over a raw-report-shaped projection of customer,
    with deterministic junk ids injected to exercise the filters."""
    import datetime as dt

    from ..operators.cleaning import ENTITY_SPECS, clean
    from ..runparams import RunParams

    cat = Catalog(spark, sf_dir)
    raw = cat.customer.select(
        F.when(
            F.col("c_custkey") % 53 == 0,
            F.concat(F.lit("sdemo"), F.col("c_custkey").cast("string")),
        )
        .when(F.col("c_custkey") % 97 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_custkey").cast("string"))
        .alias("user_id"),
        F.col("c_custkey").alias("canvas_user_id"),
        F.col("c_name").alias("login_id"),
    )
    params = RunParams(term_id="961S", run_date=dt.date(2021, 9, 1))
    return clean(raw, ENTITY_SPECS["users"], params)


def _pipeline_report_oracle() -> str:
    """Per-entity change-stats oracle composed from the seven
    registered sync-query oracles (the ``llm_sim_ivf_recall``
    composition precedent): DuckDB re-runs each diff's own SQL and
    aggregates the same n_rows / n_active / n_deleted columns, with
    ``apply_seq`` pinning the FK-dependency position each entity must
    occupy (``src/canvas.py:108-116``). A regression in any diff, in
    the stats aggregation, or in the apply order flips the hash."""
    from ..pipeline.runner import ENTITY_KIND, UPDATE_ORDER
    from .registry import ORACLES

    entity_query = {
        "faculty_users": "sync_missing_faculty_users",
        "student_users": "sync_missing_student_users",
        "courses": "sync_missing_courses",
        "sections": "sync_missing_sections",
        "enrollments": "sync_daily_enrollment",
        "ctl_library_courses": "sync_ctl_library_courses",
        "ctl_library_sections": "sync_ctl_library_sections",
    }
    ctes = ",\n".join(
        f"u{i} AS ({ORACLES[entity_query[name]]})"
        for i, name in enumerate(UPDATE_ORDER)
    )
    selects = "\nUNION ALL\n".join(
        f"""SELECT CAST({i + 1} AS BIGINT) AS apply_seq,
       CAST('{name}' AS VARCHAR) AS entity,
       CAST('{ENTITY_KIND[name]}' AS VARCHAR) AS kind,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN status = 'active' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_active,
       CAST(SUM(CASE WHEN status = 'deleted' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_deleted
FROM u{i}"""
        for i, name in enumerate(UPDATE_ORDER)
    )
    return f"WITH {ctes}\n{selects}\n"


@query("sync_pipeline_run_report", _pipeline_report_oracle())
def pipeline_run_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end composed pipeline under the driver gate (r7 verdict
    #7): the seven sync diffs feed ``SyncPipeline.apply`` — the
    FK-ordered sink runner mirroring ``src/canvas.py:107-133`` — which
    lets each entity's change counts ride the sink's own action as a
    zero-cost Spark ``Observation`` (S9/S10/O1 in one row). The sink is
    the no-op datasource write: a full distributed action per entity
    with nothing persisted. The returned frame is ``SyncPipeline.report``
    (a local relation: collecting it runs no Spark job) with the
    APPLIED order as ``apply_seq``, so the driver row goes red if the
    FK ordering, the observation instrumentation, or any upstream diff
    regresses. An empty update reports NULL sums, as SQL does.

    Scale posture: identical to the seven diffs it composes (AQE-
    selected anti-joins); the observation adds no extra pass — the
    counts that ``run_report`` would re-scan for are collected during
    the writes themselves, which at 100 TB saves one full re-scan of
    every update file. The composed run additionally PERSISTS the
    three mirror-side frames shared across entities (the 1995 user
    set for Q1+Q2, the 1995 (partkey, suppkey) pairs for Q3+Q4, and
    the 1995 (brand, type, size) set for Q6+Q7 — all bounded by the
    dimension domains, never raw fact slices), so each shared mirror
    scan+distinct runs once instead of twice across the seven sink
    actions (r8 A/B at the bench, min-of-3 warm: 7.65 -> 4.51 s);
    solo queries build their own frames and keep their committed
    plans."""
    from ..pipeline.runner import SyncPipeline

    cat = Catalog(spark, sf_dir)
    mirror_users = _mirror_users(cat).persist()
    mirror_pairs = (
        cat.lineitem.where(F.year("l_shipdate") == MIRROR_YEAR)
        .select("l_partkey", "l_suppkey")
        .distinct()
        .persist()
    )
    mirror_bts = (
        cat.lineitem.where(F.year("l_shipdate") == MIRROR_YEAR)
        .join(
            cat.part.select("p_partkey", "p_brand", "p_type", "p_size"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("p_brand", "p_type", "p_size")
        .distinct()
        .persist()
    )
    # Materialize the three INDEPENDENT persisted mirror frames
    # concurrently before the FK-ordered apply (optimization guide
    # §2.6, the curate-capstone pattern): sequentially each would be
    # computed inside the first sink action that reads it (users by
    # faculty_users, pairs by courses, bts by ctl_library_courses),
    # serializing three unrelated scan+distinct jobs onto the apply's
    # critical path. Forcing them concurrently costs max(frame)
    # instead of sum(frames); the apply itself — the FK-ordering
    # contract O1 — stays strictly sequential and unchanged, and each
    # sink action now reads a warm cache. run_legs (r14 ADVICE) wraps
    # the legs in inheritable_thread_target on a shared pool.
    from ..concurrency import run_legs

    def _materialize(df: DataFrame):
        return lambda: df.write.format("noop").mode("overwrite").save()

    run_legs(
        _materialize(mirror_users),
        _materialize(mirror_pairs),
        _materialize(mirror_bts),
    )
    updates = {
        "faculty_users": missing_faculty_users(spark, sf_dir, mirror_users),
        "student_users": missing_student_users(spark, sf_dir, mirror_users),
        "courses": missing_courses(spark, sf_dir, mirror_pairs),
        "sections": missing_sections(spark, sf_dir, mirror_pairs),
        "enrollments": daily_enrollment(spark, sf_dir),
        "ctl_library_courses": ctl_library_courses(spark, sf_dir, mirror_bts),
        "ctl_library_sections": ctl_library_sections(spark, sf_dir, mirror_bts),
    }

    def noop_sink(name: str, df: DataFrame) -> None:
        df.write.format("noop").mode("overwrite").save()

    pipe = SyncPipeline(noop_sink)
    try:
        applied = pipe.apply(updates)
    finally:
        for shared in (mirror_users, mirror_pairs, mirror_bts):
            shared.unpersist(blocking=False)
    return pipe.report().select(
        F.array_position(F.array(*map(F.lit, applied)), F.col("entity"))
        .alias("apply_seq"),
        "*",
    )
