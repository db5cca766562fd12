"""Sketch queries — the driver-visible surface for
``operators/sketches.py``: HyperLogLog distinct counting, Count-Min
frequency estimation, and Bloom-filter join pruning.

Oracle strategy: full DuckDB twins. Every sketch is deterministic by
construction (md5 hash family, exact-BIGINT register/cell state, one
final literal-folded double expression), so the driver's value-hash
gate pins the complete sketch contents — registers, cells, and bit
positions — not just the estimates. The cross-engine float rule: both
sides keep ALL accumulation in BIGINT (DuckDB SUM(BIGINT) is HUGEINT,
hence the CASTs) and perform the identical one-expression double
arithmetic last, where IEEE-754 guarantees bit-equal results for
bit-equal operands.

Reference analog: none (the 440-line reference never needs estimates —
its corpus fits pandas); this family is part of the at-scale surface
the engine adds, like dedup/similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..hints import bounded_broadcast
from ..operators import sketches as sk
from ..operators.text import ws_tokens
from .registry import query

# shared oracle prelude: whitespace tokens of the lowercased corpus,
# with the 60-bit md5 hash both engines reproduce bit-for-bit
_TOKS_SQL = r"""
toks AS (
  SELECT source,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents)
"""

_CMS_PROBES = ["the", "of", "and", "data", "course", "zz_never_a_token"]


@query(
    "llm_sketch_hll_distinct",
    rf"""
WITH {_TOKS_SQL},
hv AS (
  SELECT source,
         ('0x' || substr(md5(token), 1, 15))::BIGINT % 256 AS reg_idx,
         ('0x' || substr(md5(token), 1, 15))::BIGINT // 256 AS v
  FROM toks),
r AS (
  SELECT source, reg_idx,
         MAX(CASE WHEN v = 0 THEN 53
                  ELSE 53 - length(format('{{:b}}', v)) END) AS max_rank
  FROM hv GROUP BY source, reg_idx),
r2 AS (
  SELECT source, reg_idx, max_rank FROM r
  UNION ALL
  SELECT '__all__' AS source, reg_idx, MAX(max_rank) AS max_rank
  FROM r GROUP BY reg_idx),
agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_nonzero,
         CAST(SUM((1::BIGINT) << (53 - max_rank)) AS BIGINT) AS s_present,
         CAST(SUM((reg_idx + 1) * max_rank) AS BIGINT) AS register_checksum
  FROM r2 GROUP BY source)
SELECT source, n_nonzero,
       CAST(256 - n_nonzero AS BIGINT) AS n_zero,
       register_checksum,
       CAST(s_present + (256 - n_nonzero) * ((1::BIGINT) << 53)
            AS BIGINT) AS inv_power_sum,
       0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)
         * 65536.0::DOUBLE * 9007199254740992.0::DOUBLE
         / CAST(s_present + (256 - n_nonzero) * ((1::BIGINT) << 53)
                AS DOUBLE) AS hll_estimate
FROM agg
""",
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source HyperLogLog(p=8) distinct-token estimate, plus the
    '__all__' row built by MERGING the per-source registers (max per
    register) — the mergeability that lets 1000 executors sketch
    independently and combine without a re-scan, which is why HLL and
    not COUNT(DISTINCT) is the 100 TB tool. The result pins the full
    register state (checksum + exact integer inverse-power sum), the
    zero-register count a consumer needs for small-range correction,
    and the raw bias-corrected estimate.

    Versus ``rel_approx_distinct`` (Spark's built-in HLL++): the
    built-in's sketch is opaque — its oracle can only bound the
    estimate. This from-scratch sketch is driver-hash-pinned at the
    REGISTER level (checksum + exact inverse-power sum), and its
    merge step is visible and tested, which is the part that matters
    for a 1000-executor rollup.

    Scale posture: one projection + a groupBy whose key domain is
    |sources| x 256 (map-side combined — shuffle is sketch-sized, not
    data-sized); the merge row re-aggregates 256-row groups. No
    distinct pass: duplicates cannot move a max."""
    docs = Catalog(spark, sf_dir).documents
    toks = docs.select(
        "source",
        F.explode(ws_tokens(F.trim(F.lower("text")))).alias("token"),
    )
    regs = sk.hll_registers(toks, F.col("token"), "source")
    merged = (
        regs.groupBy("reg_idx")
        .agg(F.max("max_rank").alias("max_rank"))
        .select(F.lit("__all__").alias("source"), "reg_idx", "max_rank")
    )
    return sk.hll_estimate_row(regs.unionByName(merged), "source")


@query(
    "llm_sketch_cms_heavy_hitters",
    rf"""
WITH {_TOKS_SQL},
cells AS (
  SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || token), 1, 15))
            ::BIGINT % 1024 AS cell,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks CROSS JOIN (VALUES (0), (1), (2), (3)) t(r)
  GROUP BY 1, 2),
probes AS (
  SELECT * FROM (VALUES {", ".join(f"('{p}')" for p in _CMS_PROBES)})
  p(token)),
probe_cells AS (
  SELECT p.token, t.r,
         ('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || p.token), 1, 15))
           ::BIGINT % 1024 AS cell
  FROM probes p CROSS JOIN (VALUES (0), (1), (2), (3)) t(r)),
est AS (
  SELECT pc.token,
         CAST(MIN(coalesce(c.cnt, 0)) AS BIGINT) AS cms_estimate
  FROM probe_cells pc LEFT JOIN cells c ON c.r = pc.r AND c.cell = pc.cell
  GROUP BY pc.token),
exact AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM toks WHERE token IN ({", ".join(f"'{p}'" for p in _CMS_PROBES)})
  GROUP BY token)
SELECT e.token, e.cms_estimate,
       CAST(coalesce(x.exact_count, 0) AS BIGINT) AS exact_count,
       CAST(e.cms_estimate - coalesce(x.exact_count, 0) AS BIGINT)
         AS overestimate
FROM est e LEFT JOIN exact x ON x.token = e.token
""",
)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min(d=4, w=1024) token-frequency sketch, point-queried for
    a fixed probe set (including one never-present token, whose
    nonzero estimate exhibits the pure collision overestimate). The
    exact counts ride along so the gate pins Count-Min's one-sided
    guarantee: overestimate >= 0 for every probe, always.

    Versus ``llm_heavy_hitters_cms`` (xxhash64 sketch, oracle pins a
    within-bound BOOLEAN): this md5-family build is cross-engine
    exact, so the oracle pins the estimates themselves — a collision
    regression changes the hashed values, not just a threshold.

    Scale posture: the build is one exploded projection into a
    groupBy over d x w = 4096 keys (map-side combined — sketch-sized
    shuffle); the probe joins 24 rows against the 4096-cell sketch
    (AQE broadcasts). The exact column is a gate-scale audit; at
    100 TB a consumer keeps only the sketch."""
    docs = Catalog(spark, sf_dir).documents
    toks = docs.select(
        F.explode(ws_tokens(F.trim(F.lower("text")))).alias("token")
    )
    cells = sk.cms_cells(toks, F.col("token"))
    probes = spark.createDataFrame(
        [(p,) for p in _CMS_PROBES], "token string"
    )
    est = sk.cms_probe(cells, probes, "token")
    exact = (
        toks.where(F.col("token").isin(_CMS_PROBES))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return est.join(exact, "token", "left").select(
        "token",
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        F.coalesce(F.col("exact_count"), F.lit(0))
        .cast("long")
        .alias("exact_count"),
        (
            F.col("cms_estimate")
            - F.coalesce(F.col("exact_count"), F.lit(0))
        )
        .cast("long")
        .alias("overestimate"),
    )


@query(
    "rel_bloom_semi_join",
    """
WITH dim AS (
  SELECT DISTINCT c_custkey FROM customer
  WHERE c_mktsegment = 'BUILDING'),
bits AS (
  SELECT DISTINCT
         ('0x' || substr(md5(CAST(j AS VARCHAR) || '#'
                             || CAST(c_custkey AS VARCHAR)), 1, 15))
           ::BIGINT % 16384 AS pos
  FROM dim CROSS JOIN (VALUES (0), (1), (2)) t(j)),
keys AS (SELECT DISTINCT o_custkey FROM orders),
probe AS (
  SELECT k.o_custkey, t.j,
         ('0x' || substr(md5(CAST(t.j AS VARCHAR) || '#'
                             || CAST(k.o_custkey AS VARCHAR)), 1, 15))
           ::BIGINT % 16384 AS pos
  FROM keys k CROSS JOIN (VALUES (0), (1), (2)) t(j)),
pass AS (
  SELECT o_custkey FROM probe
  WHERE pos IN (SELECT pos FROM bits)
  GROUP BY o_custkey HAVING COUNT(*) = 3),
flagged AS (
  SELECT o.o_orderkey,
         CASE WHEN p.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS bloom_pass,
         CASE WHEN d.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS exact_match
  FROM orders o
  LEFT JOIN pass p ON p.o_custkey = o.o_custkey
  LEFT JOIN dim d ON d.c_custkey = o.o_custkey)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(exact_match) AS BIGINT) AS n_exact,
       CAST(SUM(bloom_pass) AS BIGINT) AS n_bloom_pass,
       CAST(SUM(bloom_pass) - SUM(exact_match) AS BIGINT) AS n_false_positive,
       CAST(CASE WHEN COUNT(*) = SUM(exact_match) THEN 0
                 ELSE (SUM(bloom_pass) - SUM(exact_match)) * 1000000
                      // (COUNT(*) - SUM(exact_match)) END AS BIGINT)
         AS fp_ppm
FROM flagged
""",
)
def bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime pruning of a fact->dim semi join (k=3
    salted md5 bits, m=16384): orders probed against the bit set of
    the BUILDING customer segment, side-by-side with the exact semi
    join. The single result row pins the filter's behavior — pass
    count, false-positive count (never negative: a Bloom filter has
    no false negatives, which this gate would catch), and the FP rate
    in integer ppm.

    Scale posture: this is the runtime-filter pattern Spark itself
    applies as `InSubqueryExec`/bloom pruning — the bit set is
    bounded (<= 16384 distinct positions regardless of dim size),
    broadcast by AQE, and the fact side is probed via its DISTINCT
    key domain (bounded by customers, not orders). At 100 TB the
    exact join runs only on bloom survivors; here both run so the
    gate can pin the FP accounting."""
    cat = Catalog(spark, sf_dir)
    dim = (
        cat.customer.where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .distinct()
    )
    bits = (
        sk.bloom_positions(dim, F.col("c_custkey"), "k")
        .select("pos")
        .distinct()
    )
    keys = cat.orders.select("o_custkey").distinct()
    probe = sk.bloom_positions(keys, F.col("o_custkey"), "k")
    passed = (
        probe.join(bits, "pos", "left_semi")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .where(F.col("n_hit") == sk.BLOOM_K)
        .select(F.col("k"))
    )
    flagged = (
        cat.orders.select("o_orderkey", "o_custkey")
        .join(
            passed.select(
                F.col("k").cast("long").alias("o_custkey"),
                F.lit(1).alias("bloom_pass"),
            ),
            "o_custkey",
            "left",
        )
        .join(
            dim.select(
                F.col("c_custkey").alias("o_custkey"),
                F.lit(1).alias("exact_match"),
            ),
            "o_custkey",
            "left",
        )
        .select(
            F.coalesce(F.col("bloom_pass"), F.lit(0)).alias("bloom_pass"),
            F.coalesce(F.col("exact_match"), F.lit(0)).alias(
                "exact_match"
            ),
        )
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("exact_match").alias("n_exact"),
        F.sum("bloom_pass").alias("n_bloom_pass"),
    )
    return agg.select(
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("n_bloom_pass").cast("long").alias("n_bloom_pass"),
        (F.col("n_bloom_pass") - F.col("n_exact"))
        .cast("long")
        .alias("n_false_positive"),
        F.when(F.col("n_orders") == F.col("n_exact"), F.lit(0))
        .otherwise(
            F.expr(
                "(n_bloom_pass - n_exact) * 1000000"
                " div (n_orders - n_exact)"
            )
        )
        .cast("long")
        .alias("fp_ppm"),
    )


@query(
    "llm_sketch_hll_rollup",
    rf"""
WITH {_TOKS_SQL.replace("SELECT source,", "SELECT source, lang,")},
hv AS (
  SELECT source, lang,
         ('0x' || substr(md5(token), 1, 15))::BIGINT % 256 AS reg_idx,
         ('0x' || substr(md5(token), 1, 15))::BIGINT // 256 AS v
  FROM toks),
leaf AS (
  SELECT source, lang, reg_idx,
         MAX(CASE WHEN v = 0 THEN 53
                  ELSE 53 - length(format('{{:b}}', v)) END) AS max_rank
  FROM hv GROUP BY source, lang, reg_idx),
rolled AS (
  SELECT source, lang, reg_idx, max_rank FROM leaf
  UNION ALL
  SELECT source, '*' AS lang, reg_idx, MAX(max_rank) AS max_rank
  FROM leaf GROUP BY source, reg_idx
  UNION ALL
  SELECT '*' AS source, lang, reg_idx, MAX(max_rank) AS max_rank
  FROM leaf GROUP BY lang, reg_idx
  UNION ALL
  SELECT '*' AS source, '*' AS lang, reg_idx, MAX(max_rank) AS max_rank
  FROM leaf GROUP BY reg_idx),
agg AS (
  SELECT source, lang,
         CAST(COUNT(*) AS BIGINT) AS n_nonzero,
         CAST(SUM((1::BIGINT) << (53 - max_rank)) AS BIGINT) AS s_present,
         CAST(SUM((reg_idx + 1) * max_rank) AS BIGINT) AS register_checksum
  FROM rolled GROUP BY source, lang)
SELECT source, lang, n_nonzero,
       CAST(256 - n_nonzero AS BIGINT) AS n_zero,
       register_checksum,
       CAST(s_present + (256 - n_nonzero) * ((1::BIGINT) << 53)
            AS BIGINT) AS inv_power_sum,
       0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 256.0::DOUBLE)
         * 65536.0::DOUBLE * 9007199254740992.0::DOUBLE
         / CAST(s_present + (256 - n_nonzero) * ((1::BIGINT) << 53)
                AS DOUBLE) AS hll_estimate
FROM agg
""",
)
def sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch ALGEBRA over a rollup lattice: distinct-token
    registers are computed ONCE at the (source, lang) leaf level, then
    every coarser grain — per-source, per-lang, grand total — is a
    register-wise max-merge of the leaves ('*' marks the rolled-up
    dimension). This is the pattern that replaces COUNT(DISTINCT)
    GROUPING SETS at 100 TB: the corpus is scanned and hashed exactly
    once, and each additional grain costs one aggregation over
    leaf-count x 256 register rows, never another scan. Exact distinct
    cannot do this (distinct sets do not merge by max); HLL registers
    can, and the driver hash pins every grain's full register state.

    Scale posture: one collapse-first register build (md5 per distinct
    (source, lang, token)), then three sketch-sized re-aggregations;
    every shuffle after the leaf build is bounded by
    |sources| x |langs| x 256 rows."""
    docs = Catalog(spark, sf_dir).documents
    toks = docs.select(
        "source",
        "lang",
        F.explode(ws_tokens(F.trim(F.lower("text")))).alias("token"),
    )
    from ..caching import tracked_persist

    # persisted: the leaf registers feed four consumers (leaf grain +
    # three rollup grains); tracked so bench/test loops can release
    leaf = tracked_persist(
        sk.hll_registers(toks, F.col("token"), "source", "lang")
    )
    by_source = (
        leaf.groupBy("source", "reg_idx")
        .agg(F.max("max_rank").alias("max_rank"))
        .select("source", F.lit("*").alias("lang"), "reg_idx", "max_rank")
    )
    by_lang = (
        leaf.groupBy("lang", "reg_idx")
        .agg(F.max("max_rank").alias("max_rank"))
        .select(F.lit("*").alias("source"), "lang", "reg_idx", "max_rank")
    )
    total = (
        leaf.groupBy("reg_idx")
        .agg(F.max("max_rank").alias("max_rank"))
        .select(
            F.lit("*").alias("source"),
            F.lit("*").alias("lang"),
            "reg_idx",
            "max_rank",
        )
    )
    rolled = (
        leaf.select("source", "lang", "reg_idx", "max_rank")
        .unionByName(by_source)
        .unionByName(by_lang)
        .unionByName(total)
    )
    return sk.hll_estimate_row(rolled, "source", "lang")


_THETA_U_SQL = "1152921504606846976.0::DOUBLE"  # 2^60, exact double


@query(
    "rel_theta_setops",
    f"""
WITH sl AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_custkey AS v
  FROM orders
  WHERE year(o_orderdate) BETWEEN 1995 AND 1997),
dh AS (
  SELECT DISTINCT yr,
         ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM sl),
skt AS (
  SELECT yr, h, row_number() OVER (PARTITION BY yr ORDER BY h) AS r
  FROM dh QUALIFY r <= 256),
th AS (
  SELECT yr, CAST(COUNT(*) AS BIGINT) AS cnt,
         CASE WHEN COUNT(*) < 256 THEN ((1::BIGINT) << 60)
              ELSE MAX(h) END AS theta
  FROM skt GROUP BY yr),
est AS (
  SELECT yr, theta,
         CASE WHEN theta = ((1::BIGINT) << 60) THEN CAST(cnt AS DOUBLE)
              ELSE (255.0::DOUBLE * {_THETA_U_SQL})
                   / CAST(theta AS DOUBLE) END AS est
  FROM th),
pair AS (
  SELECT a.yr AS yr_a, b.yr AS yr_b, a.est AS est_a, b.est AS est_b,
         LEAST(a.theta, b.theta) AS theta_min
  FROM est a JOIN est b ON a.yr < b.yr),
com AS (
  SELECT sa.yr AS yr_a, sb.yr AS yr_b, sa.h AS h
  FROM skt sa JOIN skt sb ON sa.h = sb.h AND sa.yr < sb.yr),
comc AS (
  SELECT p.yr_a, p.yr_b, CAST(COUNT(c.h) AS BIGINT) AS common_below
  FROM pair p LEFT JOIN com c
    ON c.yr_a = p.yr_a AND c.yr_b = p.yr_b AND c.h < p.theta_min
  GROUP BY p.yr_a, p.yr_b),
sel AS (
  SELECT p.yr_a, p.yr_b, p.est_a, p.est_b, cc.common_below,
         CASE WHEN p.theta_min = ((1::BIGINT) << 60)
              THEN CAST(cc.common_below AS DOUBLE)
              ELSE (CAST(cc.common_below AS DOUBLE) * {_THETA_U_SQL})
                   / CAST(p.theta_min AS DOUBLE) END AS est_intersect
  FROM pair p
  JOIN comc cc ON cc.yr_a = p.yr_a AND cc.yr_b = p.yr_b),
dv AS (SELECT DISTINCT yr, v FROM sl),
exact_n AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS n FROM dv GROUP BY yr),
exact_i AS (
  SELECT a.yr AS yr_a, b.yr AS yr_b,
         CAST(COUNT(*) AS BIGINT) AS exact_intersect
  FROM dv a JOIN dv b ON a.v = b.v AND a.yr < b.yr
  GROUP BY a.yr, b.yr)
SELECT s.yr_a, s.yr_b, s.est_a, s.est_b, s.common_below, s.est_intersect,
       (s.est_a + s.est_b) - s.est_intersect AS est_union,
       na.n AS exact_a, nb.n AS exact_b, ei.exact_intersect,
       CAST(na.n + nb.n - ei.exact_intersect AS BIGINT) AS exact_union
FROM sel s
JOIN exact_n na ON na.yr = s.yr_a
JOIN exact_n nb ON nb.yr = s.yr_b
JOIN exact_i ei ON ei.yr_a = s.yr_a AND ei.yr_b = s.yr_b
ORDER BY s.yr_a, s.yr_b
""",
)
def theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / Theta-sketch SET OPERATIONS (Dasgupta et al., the
    framework behind DataSketches' theta sketches): per-year
    bottom-256 hash sketches of the distinct ordering customers, then
    union / intersection estimates for every year pair from comparing
    retained hashes below the pair's common theta — with the exact
    answers alongside as the accuracy audit (the
    ``llm_sketch_cms_heavy_hitters`` pattern).

    This is the sketch HLL cannot provide: HLL merges only to a
    UNION; a theta sketch is a coordinated bottom-k sample, so
    ``|A∩B|`` (and Jaccard, A-not-B, ...) come from the same k rows
    per group. Both branches of the estimator are driver-pinned:
    sf0.001 years hold < 256 distinct customers (sketch = exact set,
    theta = 2^60), sf0.01+ years overflow into the (k-1)·2^60/theta
    estimate.

    Determinism: the sketch is a deterministic function of the data
    (md5 bottom-k, integer state), and the only float arithmetic is
    the mirrored final expressions over exact BIGINTs.

    Scale posture: ``kmv_sketch`` collapses to distinct hashes
    (map-side combine), prunes with a 32x-margin threshold from
    ``approx_count_distinct`` so the rank window sorts O(k) rows per
    group, and everything after the sketch is O(k · groups) — the
    exact_* audit columns are the only data-sized aggregates, and at
    corpus scale a consumer drops them."""
    sl = (
        Catalog(spark, sf_dir)
        .table("orders")
        .where(F.year("o_orderdate").between(1995, 1997))
        .select(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.col("o_custkey").alias("v"),
        )
    )
    U = float(1 << 60)
    skt = sk.kmv_sketch(sl, F.col("v"), "yr")
    th = sk.kmv_theta(skt, "yr")
    full = F.lit(1 << 60)
    est = th.select(
        "yr",
        "theta",
        F.when(F.col("theta") == full, F.col("cnt").cast("double"))
        .otherwise(F.lit(255.0 * U) / F.col("theta").cast("double"))
        .alias("est"),
    )
    a, b = est.alias("a"), est.alias("b")
    pair = a.join(b, F.col("a.yr") < F.col("b.yr")).select(
        F.col("a.yr").alias("yr_a"),
        F.col("b.yr").alias("yr_b"),
        F.col("a.est").alias("est_a"),
        F.col("b.est").alias("est_b"),
        F.least("a.theta", "b.theta").alias("theta_min"),
    )
    sa, sb = skt.alias("sa"), skt.alias("sb")
    com = sa.join(
        sb,
        (F.col("sa.h") == F.col("sb.h")) & (F.col("sa.yr") < F.col("sb.yr")),
    ).select(
        F.col("sa.yr").alias("yr_a"),
        F.col("sb.yr").alias("yr_b"),
        F.col("sa.h").alias("h"),
    )
    comc = (
        com.join(
            bounded_broadcast(
                pair.select("yr_a", "yr_b", "theta_min"), "enum-bounded", "year pairs"
            ),
            ["yr_a", "yr_b"],
        )
        .where(F.col("h") < F.col("theta_min"))
        .groupBy("yr_a", "yr_b")
        .agg(F.count(F.lit(1)).alias("common_below"))
    )
    sel = (
        pair.join(comc, ["yr_a", "yr_b"], "left")
        .withColumn("common_below", F.coalesce("common_below", F.lit(0)))
        .select(
            "yr_a", "yr_b", "est_a", "est_b", "common_below",
            F.when(
                F.col("theta_min") == full,
                F.col("common_below").cast("double"),
            )
            .otherwise(
                (F.col("common_below").cast("double") * F.lit(U))
                / F.col("theta_min").cast("double")
            )
            .alias("est_intersect"),
        )
    )
    dv = sl.distinct()
    exact_n = dv.groupBy("yr").agg(F.count(F.lit(1)).alias("n"))
    da, db = dv.alias("da"), dv.alias("db")
    exact_i = (
        da.join(
            db,
            (F.col("da.v") == F.col("db.v"))
            & (F.col("da.yr") < F.col("db.yr")),
        )
        .groupBy(
            F.col("da.yr").alias("yr_a"), F.col("db.yr").alias("yr_b")
        )
        .agg(F.count(F.lit(1)).alias("exact_intersect"))
    )
    na = exact_n.alias("na")
    nb = exact_n.alias("nb")
    return (
        sel.join(
            bounded_broadcast(na, "enum-bounded", "per-year sketch sizes"),
            F.col("na.yr") == F.col("yr_a"),
        )
        .join(
            bounded_broadcast(nb, "enum-bounded", "per-year sketch sizes"),
            F.col("nb.yr") == F.col("yr_b"),
        )
        .join(
            bounded_broadcast(exact_i, "enum-bounded", "per year pair"),
            ["yr_a", "yr_b"],
        )
        .select(
            "yr_a", "yr_b", "est_a", "est_b", "common_below",
            "est_intersect",
            ((F.col("est_a") + F.col("est_b")) - F.col("est_intersect"))
            .alias("est_union"),
            F.col("na.n").alias("exact_a"),
            F.col("nb.n").alias("exact_b"),
            "exact_intersect",
            (F.col("na.n") + F.col("nb.n") - F.col("exact_intersect"))
            .cast("long")
            .alias("exact_union"),
        )
        .orderBy("yr_a", "yr_b")
    )


_QSK_SKETCH_CTES = """
WITH base AS (
  SELECT o_orderpriority AS grp, o_orderkey AS k, o_totalprice AS v,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM orders),
samp AS (
  SELECT grp, k, v, h,
         row_number() OVER (PARTITION BY grp ORDER BY h, k) AS r
  FROM base QUALIFY r <= 256),
merged AS (
  SELECT '*' AS grp, k, v, h,
         row_number() OVER (ORDER BY h, k) AS rg
  FROM samp QUALIFY rg <= 256),
s AS (
  SELECT grp, k, v FROM samp UNION ALL SELECT grp, k, v FROM merged),
sr AS (
  SELECT grp, v,
         row_number() OVER (PARTITION BY grp ORDER BY v, k) AS rn,
         COUNT(*) OVER (PARTITION BY grp) AS n
  FROM s),
est AS (
  SELECT grp, CAST(MAX(n) AS BIGINT) AS sample_k,
         MAX(CASE WHEN rn = (25 * (n - 1)) // 100 + 1 THEN v END) AS est_p25,
         MAX(CASE WHEN rn = (50 * (n - 1)) // 100 + 1 THEN v END) AS est_p50,
         MAX(CASE WHEN rn = (75 * (n - 1)) // 100 + 1 THEN v END) AS est_p75,
         MAX(CASE WHEN rn = (95 * (n - 1)) // 100 + 1 THEN v END) AS est_p95
  FROM sr GROUP BY grp)"""


def _quantile_sketch_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared sketch path of the quantile rows: per order-priority
    coordinated bottom-256-by-hash row sample of orders + the merged
    '*' grain, reduced to order-statistic estimates at p25/50/75/95."""
    from pyspark.sql import Window

    base = (
        Catalog(spark, sf_dir)
        .table("orders")
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("v"),
        )
    )
    samp = sk.bottomk_sample(base, F.col("k"), "grp")
    # sketch-sized global merge: <= |groups| * k rows on one partition
    wg = Window.orderBy("h", "k")
    merged = (
        samp.select(F.lit("*").alias("grp"), "k", "v", "h")
        .withColumn("r", F.row_number().over(wg))
        .where(F.col("r") <= sk.SAMPLE_K)
    )
    s = samp.select("grp", "k", "v").unionByName(
        merged.select("grp", "k", "v")
    )
    est = sk.sample_quantiles(
        s, "v", F.col("k"), [25, 50, 75, 95], "grp", prefix="est"
    )
    return base, est


@query(
    "rel_quantile_sketch",
    _QSK_SKETCH_CTES
    + """
SELECT grp, sample_k, est_p25, est_p50, est_p75, est_p95
FROM est ORDER BY grp
""",
)
def quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketch — the fifth and last canonical
    mergeable summary, completing the family (HLL: distinct, Count-Min:
    frequency, Bloom: membership, KMV/theta: set ops, this: order
    statistics). Per order-priority, a coordinated bottom-256-by-hash
    row sample of orders estimates p25/p50/p75/p95 of o_totalprice,
    and the '*' row is built by MERGING the per-group samples (union,
    re-trim to global bottom-k — exactly the global sample, because
    any globally-retained row is retained in its own group) — the
    1000-executor property: sample once per shard, merge without
    re-scanning.

    This is the PRODUCTION row (r8 verdict #3): sketch columns only.
    The exact order-statistic audit — whose full per-group sorts
    (incl. a one-partition '*' grain) were the 0.87 measured exponent
    of the combined r8 row — lives in ``rel_quantile_sketch_audit``,
    mirroring how a 100 TB consumer runs the sketch and samples the
    audit.

    Determinism: sample membership is a pure md5 function of the
    unique order key (ties by key), quantiles are order statistics at
    all-integer ranks ``(p*(n-1)) div 100 + 1``, and every output
    value is copied verbatim from the input — zero float arithmetic
    anywhere, so the driver hash pins the full sample behavior.

    Scale posture: ``bottomk_sample`` pre-prunes with a 32x-margin
    hash threshold from exact per-group counts, so the rank window
    sorts O(k) rows per group; the global merge re-ranks <= 5*256
    sample rows on one partition (sketch-sized by construction)."""
    _, est = _quantile_sketch_est(spark, sf_dir)
    return est.select(
        "grp", F.col("est_n").alias("sample_k"),
        "est_p25", "est_p50", "est_p75", "est_p95",
    ).orderBy("grp")


@query(
    "rel_quantile_sketch_audit",
    _QSK_SKETCH_CTES
    + """,
ab AS (
  SELECT grp, k, v FROM base
  UNION ALL SELECT '*' AS grp, k, v FROM base),
ar AS (
  SELECT grp, v,
         row_number() OVER (PARTITION BY grp ORDER BY v, k) AS rn,
         COUNT(*) OVER (PARTITION BY grp) AS n
  FROM ab),
ex AS (
  SELECT grp, CAST(MAX(n) AS BIGINT) AS n_rows,
         MAX(CASE WHEN rn = (25 * (n - 1)) // 100 + 1 THEN v END)
           AS exact_p25,
         MAX(CASE WHEN rn = (50 * (n - 1)) // 100 + 1 THEN v END)
           AS exact_p50,
         MAX(CASE WHEN rn = (75 * (n - 1)) // 100 + 1 THEN v END)
           AS exact_p75,
         MAX(CASE WHEN rn = (95 * (n - 1)) // 100 + 1 THEN v END)
           AS exact_p95
  FROM ar GROUP BY grp)
SELECT e.grp, x.n_rows, e.sample_k,
       e.est_p25, e.est_p50, e.est_p75, e.est_p95,
       x.exact_p25, x.exact_p50, x.exact_p75, x.exact_p95
FROM est e JOIN ex x ON x.grp = e.grp
ORDER BY e.grp
""",
)
def quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy audit of ``rel_quantile_sketch`` (the CMS/theta
    pattern, split into its own row per r8 verdict #3): the same
    sketch estimates joined against EXACT order statistics computed
    by full per-group sorts — including the one-partition '*' grain,
    which is why this row is gate-scale only. The audit quantifies
    the bottom-k sample's error; production consumers at 100 TB run
    the sketch row and audit on a sampled slice."""
    base, est = _quantile_sketch_est(spark, sf_dir)
    ab = base.unionByName(base.withColumn("grp", F.lit("*")))
    ex = sk.sample_quantiles(
        ab, "v", F.col("k"), [25, 50, 75, 95], "grp", prefix="exact"
    )
    return (
        est.join(ex, "grp")
        .select(
            "grp",
            F.col("exact_n").alias("n_rows"),
            F.col("est_n").alias("sample_k"),
            "est_p25", "est_p50", "est_p75", "est_p95",
            "exact_p25", "exact_p50", "exact_p75", "exact_p95",
        )
        .orderBy("grp")
    )


# Sampled-slice audit parameters (module constants interpolated into
# the oracle SQL — one definition per engine pair). The slice is a
# deterministic 1-in-QSK_SLICE_MOD hash slice of orders (same 60-bit
# key hash the sample uses, different predicate: residue, not
# bottom-k — membership in the two is uncorrelated beyond the shared
# key). The acceptance bound is the two-sided 2-sigma binomial rank
# error of BOTH estimators: 2/sqrt(SAMPLE_K) for the sketch plus
# 2/sqrt(n_slice) for the slice, in ppm.
QSK_SLICE_MOD = 8
QSK_SKETCH_BOUND_PPM = 2_000_000 // int(sk.SAMPLE_K ** 0.5)  # 125000


@query(
    "rel_quantile_sketch_audit_sampled",
    _QSK_SKETCH_CTES
    + f""",
sl AS (
  SELECT grp, k, v FROM base WHERE h % {QSK_SLICE_MOD} = 0
  UNION ALL
  SELECT '*' AS grp, k, v FROM base WHERE h % {QSK_SLICE_MOD} = 0),
sn AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_slice FROM sl GROUP BY grp),
el AS (
  SELECT grp, 25 AS pct, sample_k, est_p25 AS est_v FROM est
  UNION ALL SELECT grp, 50, sample_k, est_p50 FROM est
  UNION ALL SELECT grp, 75, sample_k, est_p75 FROM est
  UNION ALL SELECT grp, 95, sample_k, est_p95 FROM est),
rk AS (
  SELECT e.grp, e.pct, e.sample_k, e.est_v, sn.n_slice,
         CAST(1000000 * SUM(CASE WHEN s.v <= e.est_v THEN 1 ELSE 0 END)
              // sn.n_slice AS BIGINT) AS slice_rank_ppm
  FROM el e JOIN sn ON sn.grp = e.grp JOIN sl s ON s.grp = e.grp
  GROUP BY e.grp, e.pct, e.sample_k, e.est_v, sn.n_slice),
vb AS (
  SELECT *,
         CAST(ABS(slice_rank_ppm - pct * 10000) AS BIGINT) AS err_ppm,
         CAST({QSK_SKETCH_BOUND_PPM}
              + floor(2000000 / sqrt(CAST(n_slice AS DOUBLE)))
              AS BIGINT) AS bound_ppm
  FROM rk)
SELECT grp, CAST(pct AS BIGINT) AS pct, n_slice, sample_k, est_v,
       slice_rank_ppm, err_ppm, bound_ppm,
       CAST(CASE WHEN err_ppm <= bound_ppm THEN 1 ELSE 0 END AS BIGINT)
         AS within_bound
FROM vb ORDER BY grp, pct
""",
)
def quantile_sketch_audit_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SAMPLED-SLICE audit cadence, made executable (r10 verdict #5):
    several sketch rows' 100 TB story is "run the audit on a sampled
    slice" — this row IS that audit. Instead of the full-sort exact
    quantiles of ``rel_quantile_sketch_audit`` (O(n log n), incl. a
    one-partition '*' grain), it takes a deterministic
    1-in-{QSK_SLICE_MOD} hash slice of orders (same 60-bit key hash
    the sample uses, residue predicate — membership uncorrelated with
    bottom-k membership), locates each production-sketch estimate's
    RANK within the slice, and verifies the rank error against the
    STATED bound: 2-sigma binomial rank error of the sketch
    (2/sqrt(256) = 125000 ppm) plus 2-sigma slice error
    (2e6/sqrt(n_slice) ppm). One long-format row per (grain,
    percentile) with the estimate, its slice rank, the error, the
    bound, and the within_bound verdict the cadence job alerts on.

    Exactness: ranks are integer counts over the slice; the only
    float is the bound's sqrt term (IEEE sqrt + divide + floor —
    bit-identical across engines, the family's documented exposure).

    Scale posture: the slice is corpus/{QSK_SLICE_MOD} rows read once
    (filter pushed to the scan's hash projection), joined against the
    SKETCH-SIZED estimate list (broadcast, 4 rows per grain) and
    map-side-combined to grain x percentile counts — no full sort,
    no one-partition grain, cost linear in the slice at any corpus
    size; the slice fraction is the cadence knob."""
    base, est = _quantile_sketch_est(spark, sf_dir)
    sl0 = (
        base.withColumn("h", sk.hash60(F.col("k").cast("string")))
        .where(F.col("h") % QSK_SLICE_MOD == 0)
        .select("grp", "v")
    )
    sl = sl0.unionByName(sl0.withColumn("grp", F.lit("*")))
    sn = sl.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_slice")
    )
    el = est.selectExpr(
        "grp",
        "est_n AS sample_k",
        "stack(4, 25L, est_p25, 50L, est_p50, 75L, est_p75, "
        "95L, est_p95) AS (pct, est_v)",
    )
    rk = (
        sl.join(bounded_broadcast(el, "sketch-sized", "4 rows per group"), "grp")
        .groupBy("grp", "pct", "sample_k", "est_v")
        .agg(
            F.sum(
                F.when(F.col("v") <= F.col("est_v"), 1).otherwise(0)
            ).alias("_le")
        )
        .join(bounded_broadcast(sn, "enum-bounded", "per group"), "grp")
        .select(
            "grp",
            "pct",
            "n_slice",
            "sample_k",
            "est_v",
            F.expr("(1000000 * _le) div n_slice")
            .cast("long")
            .alias("slice_rank_ppm"),
        )
    )
    bound = (
        F.lit(QSK_SKETCH_BOUND_PPM)
        + F.floor(
            F.lit(2_000_000) / F.sqrt(F.col("n_slice").cast("double"))
        )
    ).cast("long")
    return (
        rk.select(
            "grp",
            "pct",
            "n_slice",
            "sample_k",
            "est_v",
            "slice_rank_ppm",
            F.abs(
                F.col("slice_rank_ppm") - F.col("pct") * 10_000
            )
            .cast("long")
            .alias("err_ppm"),
            bound.alias("bound_ppm"),
        )
        .withColumn(
            "within_bound",
            (F.col("err_ppm") <= F.col("bound_ppm"))
            .cast("long"),
        )
        .orderBy("grp", "pct")
    )
