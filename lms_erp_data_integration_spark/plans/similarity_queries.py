"""Similarity-search / embedding-family queries, split out of
``llm_queries.py`` (r7 verdict #6 size target): exact + approximate
nearest-neighbor search (brute-force, IVF, multi-probe, hyperplane
LSH, PQ/ADC with recall audits), corpus-scaled k-means and the
SemDeDup semantic-dedup family, and embedding diagnostics
(norm stats, int8 quantization, label drift).

Same oracle strategy as ``llm_queries``: md5-derived hash families and
exact float->double arithmetic make every DuckDB oracle bit-identical,
including each index's own recall loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..hints import bounded_broadcast
from ..operators import similarity as sim
from .registry import query

_VI_CTE = """WITH v AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> floor(x * 1000000 + 0.5)) AS vi
  FROM embeddings),"""


_NORM_VEC_SELECT = """  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))) AS v
  FROM embeddings)"""


_RANK10_TAIL = """ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 10
"""


# ----------------------------------------------------------- similarity

_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)

# llm_sim_ivf_topk / llm_sim_ivf_multiprobe open identically: one
# centroid per label (min-vec_id representative), every vector
# assigned to its nearest centroid by cosine.
_IVF_ASSIGNED = f"""WITH cent AS (
  SELECT label AS centroid_id, arg_min(embedding, vec_id)::DOUBLE[] AS cv
  FROM embeddings GROUP BY label),
assigned AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             {_COS.format(a="e.embedding::DOUBLE[]", b="c.cv")} DESC,
             c.centroid_id) AS rn
    FROM embeddings e, cent c) t WHERE rn = 1),"""


@query(
    "llm_sim_topk_bruteforce",
    f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_COS.format(a="e.embedding::DOUBLE[]", b="q.qv")} AS score
  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
{_RANK10_TAIL}""",
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors — the ANN baseline."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.brute_force_topk(emb, queries, k=10)


@query(
    "llm_sim_ivf_topk",
    f"""
{_IVF_ASSIGNED}
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, centroid_id
  FROM assigned WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         {_COS.format(a="a.embedding::DOUBLE[]", b="q.qv")} AS score
  FROM assigned a JOIN q ON a.centroid_id = q.centroid_id
  WHERE a.vec_id <> q.query_id),
{_RANK10_TAIL}""",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10: centroid per label (min-vec_id representative),
    1-probe search within the assigned cluster — the scale path; the
    oracle replicates the same algorithm including its recall loss."""
    emb = Catalog(spark, sf_dir).embeddings
    centroids = emb.groupBy(F.col("label").alias("centroid_id")).agg(
        F.min_by("embedding", "vec_id").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ivf_topk(emb, queries, centroids, k=10)


from .registry import ORACLES as _ORACLES  # noqa: E402  (composes the two registered search oracles above)


@query(
    "llm_sim_ivf_recall",
    f"""
WITH bf AS ({{bf}}),
ivf AS ({{ivf}})
SELECT bf.query_id,
       CAST(COUNT(ivf.neighbor_id) AS BIGINT) AS hits,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(COUNT(ivf.neighbor_id) * 100 // COUNT(*) AS BIGINT)
         AS recall_pct
FROM bf LEFT JOIN ivf
  ON ivf.query_id = bf.query_id AND ivf.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
""".format(
        bf=_ORACLES["llm_sim_topk_bruteforce"],
        ivf=_ORACLES["llm_sim_ivf_topk"],
    ),
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality audit: recall@10 of the IVF(1-probe) search
    against the exact brute-force baseline, per query — the number a
    team actually watches when tuning nprobe/k before shipping an
    index. Composes the two registered searches; the oracle re-runs
    both SQL forms and the same left-join overlap count.

    Scale: the audit runs on a SAMPLE of queries (here the 5 fixed
    probes) — recall estimation never needs the full corpus of
    queries, so the brute-force side stays bounded while the corpus
    grows."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = emb.groupBy(F.col("label").alias("centroid_id")).agg(
        F.min_by("embedding", "vec_id").alias("embedding")
    )
    bf = sim.brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    ivf = sim.ivf_topk(emb, queries, centroids, k=10).select(
        F.col("query_id").alias("qi"), F.col("neighbor_id").alias("ni")
    )
    j = bf.join(
        ivf,
        (F.col("query_id") == F.col("qi"))
        & (F.col("neighbor_id") == F.col("ni")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("ni").alias("hits"),
        F.count(F.lit(1)).alias("k"),
        F.expr("count(ni) * 100 div count(*)").alias("recall_pct"),
    )


_TRUNC_DIM = 16
# The oracle SQL interpolates _TRUNC_DIM (f-string below) so changing
# the Python constant can never desync the Spark plan from the oracle
# (r9 ADVICE).
_COS_T = _COS.format(
    a=f"(e.embedding::DOUBLE[])[1:{_TRUNC_DIM}]", b="q.qv"
)


@query(
    "llm_emb_matryoshka_recall",
    f"""
WITH bf AS ({{bf}}),
tq AS (
  SELECT vec_id AS query_id, (embedding::DOUBLE[])[1:{_TRUNC_DIM}] AS qv
  FROM embeddings WHERE vec_id < 5),
tscored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {_COS_T} AS score
  FROM embeddings e, tq q WHERE e.vec_id <> q.query_id),
tranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rank
  FROM tscored),
tr AS (SELECT query_id, neighbor_id FROM tranked WHERE rank <= 10)
SELECT bf.query_id,
       CAST(COUNT(tr.neighbor_id) AS BIGINT) AS hits,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(COUNT(tr.neighbor_id) * 100 // COUNT(*) AS BIGINT)
         AS recall_pct
FROM bf LEFT JOIN tr
  ON tr.query_id = bf.query_id AND tr.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
""".format(bf=_ORACLES["llm_sim_topk_bruteforce"]),
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA-truncation quality audit: search with only the
    FIRST 16 of 64 embedding dimensions (the MRL deployment pattern —
    coarse search on a prefix that is 4x cheaper to store and scan)
    and measure recall@10 against the full-dimension exact top-10,
    per query. Cosine needs no re-normalization under truncation (it
    self-normalizes), so the audit is pure prefix arithmetic — the
    number a team reads before switching its ANN index to truncated
    vectors. Same audit shape as ``llm_sim_ivf_recall``: the recall
    denominator is the registered full-dim brute-force row, so the
    oracle composes both searches and the overlap join.

    Scale posture: like every recall audit here, it runs on a SAMPLE
    of queries (5 fixed probes) — the corpus side is one broadcast-
    join scan per variant, and at 100 TB the truncated scan is the
    cheap one by construction (16/64 of the bytes)."""
    emb = Catalog(spark, sf_dir).embeddings
    trunc = emb.select(
        "vec_id", F.slice("embedding", 1, _TRUNC_DIM).alias("embedding")
    )
    queries_full = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    queries_trunc = trunc.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = sim.brute_force_topk(emb, queries_full, k=10).select(
        "query_id", "neighbor_id"
    )
    tr = sim.brute_force_topk(trunc, queries_trunc, k=10).select(
        F.col("query_id").alias("qi"), F.col("neighbor_id").alias("ni")
    )
    j = bf.join(
        tr,
        (F.col("query_id") == F.col("qi"))
        & (F.col("neighbor_id") == F.col("ni")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("ni").alias("hits"),
        F.count(F.lit(1)).alias("k"),
        F.expr("count(ni) * 100 div count(*)").alias("recall_pct"),
    )


@query(
    "llm_sim_near_dup_embeddings",
    f"""
WITH nv AS (
{_NORM_VEC_SELECT}
SELECT a.vec_id AS i, b.vec_id AS j, list_dot_product(a.v, b.v) AS cosine
FROM nv a JOIN nv b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) >= 0.35
""",
)
def sim_near_dup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs. Threshold 0.35 sits at
    the ~99.9th percentile of this corpus's pair-cosine distribution
    (no planted dups; max pair cosine ~0.5-0.6).

    Registered on the blocked distributed form: corpus blocks compared
    pairwise with one numpy kernel per task — no driver
    materialization, no per-pair interpreted expression. The
    expression-only and driver-broadcast variants are bit-identical
    twins kept for the oracle and for bounded corpora respectively."""
    return sim.near_duplicate_pairs_blocked(
        Catalog(spark, sf_dir).embeddings, 0.35
    )


def _hyperplane_oracle(tables: int = 4, bits: int = 4, dim: int = 64) -> str:
    planes = sim.hyperplanes(tables, bits, dim)
    bucket_cases = []
    for t in range(tables):
        parts = []
        for b in range(bits):
            lit = "[" + ", ".join(repr(x) for x in planes[t][b]) + "]::DOUBLE[]"
            parts.append(
                f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {lit}) >= 0 "
                f"THEN {1 << b} ELSE 0 END)"
            )
        bucket_cases.append("(" + " + ".join(parts) + f") AS b{t}")
    bcols = ",\n         ".join(bucket_cases)
    unions = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM sigs" for t in range(tables)
    )
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding,
         {bcols}
  FROM embeddings),
buckets AS (
  {unions}),
cands AS (
  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
  FROM buckets a JOIN buckets b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
nv AS (
{_NORM_VEC_SELECT}
SELECT c.i, c.j, list_dot_product(a.v, b.v) AS cosine
FROM cands c JOIN nv a ON a.vec_id = c.i JOIN nv b ON b.vec_id = c.j
WHERE list_dot_product(a.v, b.v) >= 0.35
"""


@query("llm_sim_lsh_hyperplane", _hyperplane_oracle())
def sim_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed near-dup pairs (4 tables x 4 bits) with exact
    cosine verification — the bucketed scale path beside the exact
    all-pairs llm_sim_near_dup_embeddings; the oracle replicates the
    pipeline including its recall loss."""
    return sim.lsh_bucketed_near_duplicates(
        Catalog(spark, sf_dir).embeddings, threshold=0.35, tables=4, bits=4
    )


@query(
    "llm_sim_ivf_multiprobe",
    f"""
{_IVF_ASSIGNED}
q AS (
  SELECT vec_id AS query_id, qv, centroid_id FROM (
    SELECT e.vec_id, e.embedding::DOUBLE[] AS qv, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             {_COS.format(a="e.embedding::DOUBLE[]", b="c.cv")} DESC,
             c.centroid_id) AS rn
    FROM embeddings e, cent c WHERE e.vec_id < 5) t WHERE rn <= 2),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         {_COS.format(a="a.embedding::DOUBLE[]", b="q.qv")} AS score
  FROM assigned a JOIN q ON a.centroid_id = q.centroid_id
  WHERE a.vec_id <> q.query_id),
{_RANK10_TAIL}""",
)
def sim_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF top-10 (nprobe=2): searching the two nearest
    clusters per query trades compute for recall — the standard IVF
    recall knob, exercised end-to-end with an identical-algorithm
    oracle."""
    emb = Catalog(spark, sf_dir).embeddings
    centroids = emb.groupBy(F.col("label").alias("centroid_id")).agg(
        F.min_by("embedding", "vec_id").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sim.ivf_topk(emb, queries, centroids, k=10, nprobe=2)


@query(
    "llm_emb_norm_stats",
    """
WITH n AS (
  SELECT label,
         CAST(floor(sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[]))
                    * 1000000 + 0.5) AS BIGINT) AS norm_micros
  FROM embeddings)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       MIN(norm_micros) AS min_norm_micros,
       MAX(norm_micros) AS max_norm_micros,
       CAST(SUM(norm_micros) // COUNT(*) AS BIGINT) AS avg_norm_micros
FROM n GROUP BY label
""",
)
def emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-norm profile per label — the ANN pre-flight that
    catches un-normalized vectors, degenerate all-zero rows, and
    per-class norm drift BEFORE anyone builds an IVF index or trusts a
    dot product as a cosine. Norms are exact integer micros per row
    (floor(x*1e6+0.5) of a deterministic sequential-fold sqrt), so the
    grouped MIN/MAX/AVG are bit-portable — a raw double SUM would
    depend on partial-aggregation order.

    Scale: one narrow per-row map + one grouped aggregate with
    map-side partials; output is label-cardinality-sized."""
    emb = Catalog(spark, sf_dir).embeddings
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_micros = F.floor(F.sqrt(dot) * 1_000_000 + F.lit(0.5)).cast("long")
    return (
        emb.select("label", norm_micros.alias("norm_micros"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("norm_micros").alias("min_norm_micros"),
            F.max("norm_micros").alias("max_norm_micros"),
            F.expr("sum(norm_micros) div count(*)").alias(
                "avg_norm_micros"
            ),
        )
    )


@query(
    "llm_emb_quantize",
    """
WITH d AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM d)
SELECT vec_id, scale,
       array_to_string(
         list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)),
         ',') AS q
FROM s WHERE scale > 0
""",
)
def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (scale =
    max|x| / 127). floor(x/scale + 0.5) instead of round() because the
    two engines disagree on round-half semantics while floor is exact;
    float->double casts and the divisions are bit-identical. Narrow
    per-row map — no shuffle.

    The quantized vector is emitted comma-joined as a STRING, not an
    array: array-typed output columns are unhashable by row-sorting
    pandas consumers (r4 driver err), so arrays stay internal and the
    external surface is scalar-only (enforced by
    ``tests/test_registry.py::test_no_unhashable_output_columns``)."""
    emb = Catalog(spark, sf_dir).embeddings
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs)) / 127.0
    return (
        emb.select(F.col("vec_id"), v.alias("_v"), scale.alias("scale"))
        .where(F.col("scale") > 0)
        .select(
            "vec_id",
            "scale",
            F.array_join(
                F.transform(
                    F.col("_v"),
                    lambda x: F.floor(x / F.col("scale") + 0.5).cast(
                        "string"
                    ),
                ),
                ",",
            ).alias("q"),
        )
    )


_KMEANS_DIST = (
    "list_dot_product("
    "list_transform(range(0, 64), d -> {v}[d+1] - {c}.s[d+1] / {c}.n), "
    "list_transform(range(0, 64), d -> {v}[d+1] - {c}.s[d+1] / {c}.n))"
)

# k scales with the corpus as k = max(8, floor(0.125 * n^(2/3))),
# searched through a two-level coarse codebook of g = max(2,
# floor(sqrt(k))) cells (operators/similarity.py:kmeans_assignments,
# coarse_groups). Why 2/3: SemDeDup's within-cluster verification
# costs ~n²/k pair evaluations; with the r7 FLAT assignment (n*k
# distances) the balance point was k ∝ sqrt(n) and both stages sat at
# O(n^1.5) — the r8 two-decade probe measured the family converging
# on exactly that (llm_sim_kmeans_assign 1.26→1.31,
# llm_dedup_semantic_verified 1.21→1.42 across sf0.1→1→10). The
# two-level scan cuts assignment to O(n*sqrt(k)), which moves the
# balance to k ∝ n^(2/3) and the WHOLE family (assignment n*sqrt(k),
# verify n²/k) to O(n^(4/3)) — designed exponent 1.33 instead of 1.5.
# Cross-engine exactness of k: floor(n^(2/3)) is computed as the
# exact integer cube root of n² (a libm pow seed, then ±2 integer
# correction — pow is within 1 ulp, so the correction is total), and
# 0.125 is a power of two, so the multiply and floor are exact IEEE
# ops in both engines; no correctly-rounded-pow assumption anywhere.
# At the driver's correctness scale (500 vectors at sf0.01) the
# formula clamps to the historical k=8.
_KMEANS_K_MIN = 8
_KMEANS_K_SQL = """nn AS (SELECT COUNT(*) AS n FROM v),
kraw AS (SELECT n, CAST(floor(pow(n * 1.0, 2.0 / 3.0)) AS BIGINT) AS j
         FROM nn),
kcr AS (SELECT n, MAX(j + o) AS r
        FROM kraw, (VALUES (-2), (-1), (0), (1), (2)) u(o)
        WHERE (j + o) * (j + o) * (j + o) <= n * n GROUP BY n),
kk AS (SELECT GREATEST(8, CAST(floor(0.125::DOUBLE * r) AS BIGINT)) AS k
       FROM kcr),
gg AS (SELECT CASE WHEN n < 8192 THEN k
              ELSE GREATEST(2, CAST(floor(sqrt(k * 1.0)) AS BIGINT))
              END AS g
       FROM kk, nn),"""

# Small-corpus crossover (r8 verdict #5): the two-level scan's win is
# asymptotic — per-iteration it adds three bounded stages (coarse
# sums, centroid->seed join, probe-cell join) whose fixed shuffle
# overhead dominates below the measured crossover (local[8], min-of-2:
# flat/two-level sec = 1.17/2.05 @ n=2k, 1.30/1.90 @ 5k, 2.87/2.37
# @ 10k, 7.24/3.45 @ 20k). Below n=8192 the Spark side takes the flat
# scan; the oracle keeps the SINGLE unrolled two-level SQL shape with
# g = k there, which prunes nothing — every centroid seeds its own
# singleton coarse cell, so the pruned argmin IS the flat argmin
# (tests/test_llm_ops.py:test_kmeans_two_level_degenerate_equals_flat
# pins the equivalence) — results stay bit-identical on both paths.
_KMEANS_TWO_LEVEL_MIN_N = 8192


def _kmeans_params(emb) -> tuple[int, int | None]:
    """(k, coarse_groups) for a corpus: exact integer
    k = max(8, floor(0.125 * floor(cbrt(n^2)))), and the coarse
    codebook size g = max(2, floor(sqrt(k))) — or None (flat scan)
    below the two-level crossover."""
    import math

    n = emb.count()
    j = int(round(n ** (2.0 / 3.0)))
    while (j + 1) ** 3 <= n * n:
        j += 1
    while j > 0 and j**3 > n * n:
        j -= 1
    k = max(_KMEANS_K_MIN, int(math.floor(0.125 * j)))
    if n < _KMEANS_TWO_LEVEL_MIN_N:
        return k, None
    return k, max(2, int(math.floor(math.sqrt(k))))


_KMEANS_CDIST = (
    "list_dot_product("
    "list_transform(range(0, 64), "
    "d -> {a}.s[d+1] / {a}.n - {b}.s[d+1] / {b}.n), "
    "list_transform(range(0, 64), "
    "d -> {a}.s[d+1] / {a}.n - {b}.s[d+1] / {b}.n))"
)


def _kmeans_iter_sql(i: int) -> str:
    """One unrolled two-level Lloyd iteration: from centroid state
    c{i} build the coarse codebook (gs/ga/gx/g), the point->coarse
    assignment (pg) and the in-cell fine assignment a{i+1} — the SQL
    twin of the ``coarse_groups`` branch in
    ``operators/similarity.py:kmeans_assignments``."""
    cd = _KMEANS_CDIST.format(a="c", b="gs")
    pd_g = _KMEANS_DIST.format(v="v.vi", c="g")
    pd_c = _KMEANS_DIST.format(v="v.vi", c="c")
    return f"""gs{i} AS (
  SELECT cid AS gid, s, n FROM (
    SELECT cid, s, n, ROW_NUMBER() OVER (ORDER BY cid) AS rn FROM c{i})
  WHERE rn <= (SELECT g FROM gg)),
ga{i} AS (
  SELECT cid, gid FROM (
    SELECT c.cid, gs.gid,
           ROW_NUMBER() OVER (PARTITION BY c.cid
                              ORDER BY {cd}, gs.gid) AS rn
    FROM c{i} c, gs{i} gs) WHERE rn = 1),
gx{i} AS (
  SELECT ga.gid, t.d, SUM(c.s[t.d + 1]) AS sd,
         CAST(SUM(c.n) AS BIGINT) AS cnt
  FROM c{i} c JOIN ga{i} ga USING (cid), range(64) t(d)
  GROUP BY ga.gid, t.d),
g{i} AS (SELECT gid, list(sd ORDER BY d) AS s, MAX(cnt) AS n
         FROM gx{i} GROUP BY gid),
pg{i} AS (
  SELECT vec_id, gid FROM (
    SELECT v.vec_id, g.gid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {pd_g}, g.gid) AS rn
    FROM v, g{i} g) WHERE rn = 1),
a{i + 1} AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY {pd_c}, c.cid) AS rn
    FROM v JOIN pg{i} p USING (vec_id)
         JOIN ga{i} ga ON ga.gid = p.gid
         JOIN c{i} c ON c.cid = ga.cid) WHERE rn = 1)"""


@query(
    "llm_sim_kmeans_assign",
    f"""
{_VI_CTE}
{_KMEANS_K_SQL}
c0 AS (SELECT vec_id AS cid, vi AS s, 1 AS n FROM v
       WHERE vec_id < (SELECT k FROM kk)),
{_kmeans_iter_sql(0)},
s1 AS (
  SELECT a1.cid, t.d, SUM(v.vi[t.d + 1]) AS sd, COUNT(*) AS cnt
  FROM a1 JOIN v USING (vec_id), range(64) t(d)
  GROUP BY a1.cid, t.d),
c1 AS (SELECT cid, list(sd ORDER BY d) AS s, MAX(cnt) AS n
       FROM s1 GROUP BY cid),
{_kmeans_iter_sql(1)}
SELECT vec_id, cid FROM a2
""",
)
def sim_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (corpus-scaled
    k = max(8, floor(0.125 * n^(2/3))), 2 iterations, two-level
    IVF-style assignment through g = floor(sqrt(k)) coarse cells once
    n clears the measured crossover, flat scan below it — see the
    ``_KMEANS_TWO_LEVEL_MIN_N`` comment) — learns the IVF centroids
    instead of taking them as given. The
    oracle unrolls both iterations in SQL with the same exact-integer
    k; integer-scaled sums + exactly-rounded mean division keep every
    iteration's argmin — including the coarse-cell pruning — bit-
    identical (see operators/similarity.py:kmeans_assignments)."""
    emb = Catalog(spark, sf_dir).embeddings
    k, g = _kmeans_params(emb)
    return sim.kmeans_assignments(
        emb, k=k, iterations=2, coarse_groups=g
    )


from .registry import ORACLES as _ORACLES  # noqa: E402  (needs kmeans above)


@query(
    "llm_dedup_semantic_kmeans",
    f"""
SELECT vec_id, cid,
       MIN(vec_id) OVER (PARTITION BY cid) AS keeper_id,
       vec_id <> MIN(vec_id) OVER (PARTITION BY cid) AS is_dup
FROM ({_ORACLES["llm_sim_kmeans_assign"]}) assign
""",
)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    public): cluster embeddings with k-means, then deduplicate WITHIN
    clusters — here the prototype form that keeps one representative
    (min vec_id) per cluster and marks the rest. The oracle reuses the
    unrolled two-iteration k-means SQL verbatim (so the hash covers the
    clustering too) plus a keeper window.

    Scale: the point of clustering first is that the quadratic step
    never runs globally — assignment is linear passes (k centroids
    broadcast), and any within-cluster refinement (e.g. cosine
    near-dup via ``llm_sim_near_dup_embeddings`` semantics per
    cluster) is bounded by cluster size, not corpus size. k scales
    with corpus/target-cluster-size; the keeper window shuffles once
    on ``cid``."""
    from pyspark.sql import Window as W

    emb = Catalog(spark, sf_dir).embeddings
    k, g = _kmeans_params(emb)
    assign = sim.kmeans_assignments(
        emb, k=k, iterations=2, coarse_groups=g
    )
    keeper = F.min("vec_id").over(W.partitionBy("cid"))
    return assign.select(
        "vec_id",
        "cid",
        keeper.alias("keeper_id"),
        (F.col("vec_id") != keeper).alias("is_dup"),
    )


@query(
    "llm_dedup_cluster_histogram",
    f"""
SELECT cid, CAST(COUNT(*) AS BIGINT) AS cluster_size,
       CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS verify_pairs
FROM ({_ORACLES["llm_sim_kmeans_assign"]}) assign
GROUP BY cid
""",
)
def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size pre-flight for semantic dedup (the k-means analog
    of `llm_lsh_bucket_histogram`): per-cluster member count and the
    quadratic pair count the within-cluster verification would pay —
    run BEFORE `llm_dedup_semantic_verified` so a fat cluster (k too
    small, or a degenerate embedding mode) is a one-aggregation
    observation, not a task OOM inside the pair kernel.

    Scale: one aggregation over the assignment (k rows out); the
    decision rule is ``max(verify_pairs)`` vs task memory, the same
    contract `cluster_verified_pairs.max_cluster_rows` enforces.
    Delegates to ``operators/profiling.py`` (the unified pre-flight
    module)."""
    from ..operators import profiling

    emb = Catalog(spark, sf_dir).embeddings
    k, g = _kmeans_params(emb)
    assign = sim.kmeans_assignments(
        emb, k=k, iterations=2, coarse_groups=g
    )
    return profiling.bucket_sizes(assign, ["cid"]).select(
        "cid",
        F.col("bucket_size").alias("cluster_size"),
        F.col("candidate_pairs").alias("verify_pairs"),
    )


@query(
    "llm_dedup_semantic_verified",
    f"""
WITH nv AS (
{_NORM_VEC_SELECT}
SELECT aa.vec_id AS i, bb.vec_id AS j, aa.cid,
       list_dot_product(na.v, nb.v) AS cosine
FROM ({_ORACLES["llm_sim_kmeans_assign"]}) aa
JOIN ({_ORACLES["llm_sim_kmeans_assign"]}) bb
  ON aa.cid = bb.cid AND aa.vec_id < bb.vec_id
JOIN nv na ON na.vec_id = aa.vec_id
JOIN nv nb ON nb.vec_id = bb.vec_id
WHERE list_dot_product(na.v, nb.v) >= 0.35
""",
)
def dedup_semantic_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SemDeDup: k-means clustering, then exact cosine
    verification of pairs WITHIN each cluster — the threshold form of
    `llm_dedup_semantic_kmeans`'s prototype form. Output (i, j, cid,
    cosine) for within-cluster pairs at cosine >= 0.35; the oracle
    re-runs the unrolled k-means and the same normalized dot product.

    Scale: the pair join is keyed on the cluster id, so candidate
    generation is SUM of per-cluster quadratics, bounded by the
    largest cluster — k is chosen (corpus / target cluster size) to
    keep that term executor-sized, and a fat cluster shows up in
    `llm_lsh_bucket_histogram`-style pre-flight counts before any join
    runs. One shuffle on cid, one on the pair's id side for the
    vector fetch."""
    from ..caching import tracked_persist

    # persisted: feeds both the k-means rounds and the pair kernel's
    # two vector fetches — unpersisted it would re-scan the source per
    # consumer
    emb = tracked_persist(Catalog(spark, sf_dir).embeddings)
    k, g = _kmeans_params(emb)
    assign = sim.kmeans_assignments(
        emb, k=k, iterations=2, coarse_groups=g
    )
    return sim.cluster_verified_pairs(assign, emb, threshold=0.35)


_PQ_DIST = (
    "list_dot_product("
    "list_transform(range(0, 16), d -> sub.sv[d+1] - cent.cv[d+1]), "
    "list_transform(range(0, 16), d -> sub.sv[d+1] - cent.cv[d+1]))"
)


@query(
    "llm_sim_pq_codes",
    f"""
{_VI_CTE}
sub AS (
  SELECT vec_id, t.s, vi[t.s*16+1 : t.s*16+16] AS sv
  FROM v, range(4) t(s)),
cent AS (SELECT vec_id AS cid, s, sv AS cv FROM sub WHERE vec_id < 4),
scored AS (
  SELECT sub.vec_id, sub.s, cent.cid, {_PQ_DIST} AS dist
  FROM sub JOIN cent USING (s)),
best AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY dist, cid) AS rn
    FROM scored) WHERE rn = 1)
SELECT vec_id,
  MAX(CASE WHEN s = 0 THEN cid END) AS code_0,
  MAX(CASE WHEN s = 1 THEN cid END) AS code_1,
  MAX(CASE WHEN s = 2 THEN cid END) AS code_2,
  MAX(CASE WHEN s = 3 THEN cid END) AS code_3
FROM best GROUP BY vec_id
""",
)
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook assignment (4 subspaces x 16 dims,
    k=4 per subspace): the ANN memory-compression path — 64 floats
    become 4 codes. Deterministic init + exact integer-scaled
    distances keep the argmin bit-equal to the oracle."""
    return sim.pq_codes(Catalog(spark, sf_dir).embeddings)


@query(
    "llm_sim_pq_adc_topk",
    f"""
{_VI_CTE}
sub AS (
  SELECT vec_id, t.s, vi[t.s*16+1 : t.s*16+16] AS sv
  FROM v, range(4) t(s)),
cent AS (SELECT vec_id AS cid, s, sv AS cv FROM sub WHERE vec_id < 4),
scored AS (
  SELECT sub.vec_id, sub.s, cent.cid, {_PQ_DIST} AS dist
  FROM sub JOIN cent USING (s)),
best AS (
  SELECT vec_id, s, cid FROM (
    SELECT vec_id, s, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s
                              ORDER BY dist, cid) AS rn
    FROM scored) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, s, sv AS qv FROM sub WHERE vec_id < 5),
dt AS (
  SELECT q.query_id, cent.s, cent.cid,
         list_dot_product(
           list_transform(range(0, 16), d -> q.qv[d+1] - cent.cv[d+1]),
           list_transform(range(0, 16), d -> q.qv[d+1] - cent.cv[d+1]))
           AS dd
  FROM q JOIN cent ON q.s = cent.s),
adc AS (
  SELECT dt.query_id, best.vec_id AS neighbor_id, SUM(dt.dd) AS adist
  FROM best JOIN dt ON best.s = dt.s AND best.cid = dt.cid
  WHERE best.vec_id <> dt.query_id
  GROUP BY dt.query_id, best.vec_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adist, neighbor_id) AS rank
  FROM adc)
SELECT query_id, neighbor_id, adist, rank FROM ranked WHERE rank <= 10
""",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-10 for 5 queries: corpus vectors are
    scored via per-subspace distance-table lookups on their codes —
    the compressed-domain search that pairs with llm_sim_pq_codes."""
    return sim.pq_adc_topk(Catalog(spark, sf_dir).embeddings)


@query(
    "llm_sim_pq_recall",
    f"""
{_VI_CTE}
exact AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_dot_product(
           list_transform(range(0, 64), d -> e.vi[d+1] - q.vi[d+1]),
           list_transform(range(0, 64), d -> e.vi[d+1] - q.vi[d+1]))
           AS dist
  FROM v e, v q WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
eranked AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dist, neighbor_id) AS rank
    FROM exact) t WHERE rank <= 10),
adc AS ({_ORACLES["llm_sim_pq_adc_topk"]})
SELECT e.query_id,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS hits,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(COUNT(a.neighbor_id) * 100 // COUNT(*) AS BIGINT)
         AS recall_pct
FROM eranked e LEFT JOIN adc a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
""",
)
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quantization-loss audit: recall@10 of the compressed-domain
    ADC search against the EXACT top-10 under the SAME metric
    (integer-scaled squared L2) — so the residual is pure quantization
    error, not metric mismatch. Completes the audit family: IVF recall
    measures partition pruning loss, this measures code-book loss.

    Scale: the exact side runs only for the bounded query sample (5
    probes x corpus, one narrow fold per pair); the ADC side is the
    production compressed search. Recall estimation never needs
    corpus-sized query sets."""
    emb = Catalog(spark, sf_dir).embeddings
    vi = F.transform(
        _to_double_col("embedding"),
        lambda x: F.floor(x * 1_000_000 + F.lit(0.5)),
    )
    v = emb.select("vec_id", vi.alias("vi"))
    q = v.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("vi").alias("qv")
    )
    diff = F.zip_with(F.col("vi"), F.col("qv"), lambda a, b: a - b)
    dist = F.aggregate(
        F.zip_with(diff, diff, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        "dist", F.col("neighbor_id")
    )
    exact = (
        v.crossJoin(bounded_broadcast(q, "k-row", "fixed query-vector count"))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dist.alias("dist"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "neighbor_id")
    )
    adc = sim.pq_adc_topk(emb).select(
        F.col("query_id").alias("qi"), F.col("neighbor_id").alias("ni")
    )
    j = exact.join(
        adc,
        (F.col("query_id") == F.col("qi"))
        & (F.col("neighbor_id") == F.col("ni")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("ni").alias("hits"),
        F.count(F.lit(1)).alias("k"),
        F.expr("count(ni) * 100 div count(*)").alias("recall_pct"),
    )


def _to_double_col(name: str):
    return F.transform(F.col(name), lambda x: x.cast("double"))


@query(
    "llm_sim_kmeans_purity",
    f"""
WITH a AS ({{assign}}),
cl AS (
  SELECT a.cid, e.label, COUNT(*) AS k
  FROM a JOIN embeddings e ON e.vec_id = a.vec_id
  GROUP BY a.cid, e.label),
r AS (
  SELECT cid, label, k,
         ROW_NUMBER() OVER (PARTITION BY cid
                            ORDER BY k DESC, label) AS rn
  FROM cl),
sz AS (SELECT cid, CAST(SUM(k) AS BIGINT) AS n FROM cl GROUP BY cid)
SELECT r.cid, sz.n AS n_members, r.label AS majority_label,
       CAST(r.k AS BIGINT) AS majority_count,
       CAST((r.k * 1000000) // sz.n AS BIGINT) AS purity_ppm
FROM r JOIN sz ON sz.cid = r.cid WHERE rn = 1
""".format(assign=_ORACLES["llm_sim_kmeans_assign"]),
)
def sim_kmeans_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality audit: per-cluster majority-label purity of
    the k-means assignment against the ground-truth label column —
    the number that says whether the IVF partitioning actually
    respects the data's structure before anyone trusts its recall.
    Ties break to the lower label (deterministic across engines);
    purity in exact integer ppm.

    Scale: one (cluster x label) grouped count (k x labels rows) +
    one window over it — evaluation never rescans the vectors beyond
    the assignment pass itself."""
    from pyspark.sql import Window

    emb = Catalog(spark, sf_dir).embeddings
    k, g = _kmeans_params(emb)
    assign = sim.kmeans_assignments(
        emb, k=k, iterations=2, coarse_groups=g
    )
    cl = (
        assign.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cid", "label")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    w = Window.partitionBy("cid").orderBy(F.desc("k"), F.asc("label"))
    r = cl.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    sz = cl.groupBy("cid").agg(F.sum("k").alias("n"))
    return r.join(sz, "cid").select(
        "cid",
        F.col("n").alias("n_members"),
        F.col("label").alias("majority_label"),
        F.col("k").alias("majority_count"),
        F.expr("(k * 1000000) div n").alias("purity_ppm"),
    )


@query(
    "llm_emb_label_drift",
    """
WITH ex AS (
  SELECT label, i AS dim,
         CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5) AS BIGINT) AS vm
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
per AS (
  SELECT label, dim, SUM(vm) AS s, COUNT(*) AS n
  FROM ex GROUP BY label, dim),
gsum AS (SELECT dim, SUM(s) AS g FROM per GROUP BY dim),
v AS (
  SELECT label,
         list(s::DOUBLE ORDER BY dim) AS sl,
         list(g::DOUBLE ORDER BY dim) AS gl,
         MAX(n) AS n_vecs
  FROM per JOIN gsum USING (dim)
  GROUP BY label)
SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
       CAST(floor(list_dot_product(sl, gl)
                  / (sqrt(list_dot_product(sl, sl))
                     * sqrt(list_dot_product(gl, gl)))
                  * 1000000 + 0.5) AS BIGINT) AS cos_to_global_micros
FROM v
""",
)
def emb_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift per label: cosine between each
    label's centroid and the global centroid — the monitoring query
    that catches a data source (or model version) whose embeddings
    have shifted away from the corpus before anyone retrains an IVF
    index on them. Cosine is scale-invariant, so it is computed on the
    per-(label, dim) SUM vectors directly — no per-dim division, and
    the sums are exact integer micros (floor(v*1e6+0.5) per element),
    making the heavy aggregation bit-portable; only the final
    32-element dot/sqrt/divide runs in doubles (sequential fold, same
    order both engines).

    Scale posture: posexplode is narrow (rows = vectors x dims);
    groupBy(label, dim) partial-aggregates map-side down to
    labels x dims rows; the global centroid is a dim-sized broadcast.
    One shuffle of pre-aggregated integers — this is how centroid
    drift is computed over billions of embeddings without moving a
    single raw vector twice."""
    emb = Catalog(spark, sf_dir).embeddings
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "p", "v"
        ),
    ).select(
        "label",
        (F.col("p") + 1).alias("dim"),
        F.floor(F.col("v") * 1_000_000 + F.lit(0.5)).cast("long").alias("vm"),
    )
    per = ex.groupBy("label", "dim").agg(
        F.sum("vm").alias("s"), F.count(F.lit(1)).alias("n")
    )
    gsum = per.groupBy("dim").agg(F.sum("s").alias("g"))
    j = per.join(bounded_broadcast(gsum, "enum-bounded", "per embedding dim"), "dim")
    v = j.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vecs"),
        F.sort_array(F.collect_list(F.struct("dim", "s"))).alias("_sl"),
        F.sort_array(F.collect_list(F.struct("dim", "g"))).alias("_gl"),
    )
    sl = F.transform(F.col("_sl"), lambda x: x["s"].cast("double"))
    gl = F.transform(F.col("_gl"), lambda x: x["g"].cast("double"))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    cos = dot(sl, gl) / (F.sqrt(dot(sl, sl)) * F.sqrt(dot(gl, gl)))
    return v.select(
        "label",
        "n_vecs",
        F.floor(cos * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("cos_to_global_micros"),
    )


_IVF_APPEND_SIDE = """
  SELECT t.centroid_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(floor(t.sim * 1000000 + 0.5) AS BIGINT))
              AS BIGINT) AS s
  FROM (
    SELECT e.vec_id, c.centroid_id,
           {cos} AS sim,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             {cos} DESC, c.centroid_id) AS rn
    FROM embeddings e, cent c WHERE e.vec_id % 5 {side}) t
  WHERE t.rn = 1 GROUP BY t.centroid_id"""


@query(
    "llm_emb_ivf_append",
    f"""
WITH cent AS (
  SELECT label AS centroid_id, arg_min(embedding, vec_id)::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id % 5 <> 0 GROUP BY label),
gi AS ({_IVF_APPEND_SIDE.format(
        cos=_COS.format(a="e.embedding::DOUBLE[]", b="c.cv"),
        side="<> 0")}),
gb AS ({_IVF_APPEND_SIDE.format(
        cos=_COS.format(a="e.embedding::DOUBLE[]", b="c.cv"),
        side="= 0")})
SELECT gi.centroid_id,
       gi.n AS n_index,
       CAST(COALESCE(gb.n, 0) AS BIGINT) AS n_appended,
       CAST((1000000 * COALESCE(gb.n, 0)) // gi.n AS BIGINT)
         AS growth_ppm,
       CAST(gi.s // gi.n AS BIGINT) AS mean_cos_index_micro,
       CAST(CASE WHEN gb.n IS NULL THEN 0 ELSE gb.s // gb.n END
            AS BIGINT) AS mean_cos_appended_micro
FROM gi LEFT JOIN gb ON gb.centroid_id = gi.centroid_id
ORDER BY gi.centroid_id
""",
)
def emb_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index APPEND audit — the ANN-side maintenance twin of
    ``stream_dedup_lifecycle``: an arriving vector batch (vec_id % 5
    = 0) is assigned to the EXISTING index's centroids (built from
    the % 5 != 0 corpus — appends never retrain), and per inverted
    list the row reports growth (appended/existing in ppm) and list
    quality drift (mean cosine-to-centroid of appended vs existing
    members, micro-quantized per row then integer-averaged — the
    partial-aggregation-exact convention). This is the dashboard an
    IVF deployment reads to decide WHEN to recenter: balanced growth
    and stable list cosine mean appends are safe; a hot list or a
    falling appended-cosine mean both say the centroids no longer
    describe the data.

    Scale posture: centroids broadcast (k rows), both assignments are
    narrow k-way scans + a per-vector top-1 window, aggregates are
    map-side-combined to k rows; nothing shuffles wider than the
    k-row summaries at any corpus size."""
    emb = Catalog(spark, sf_dir).embeddings
    index = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    centroids = ivf_index_centroids(index)
    gi = ivf_append_side_summary(
        sim.ivf_assign(index, centroids, keep_sim=True)
    )
    gb = ivf_append_side_summary(
        sim.ivf_assign(batch, centroids, keep_sim=True)
    )
    return ivf_append_report(gi, gb)


def ivf_index_centroids(index: DataFrame) -> DataFrame:
    """One centroid per label (min-vec_id representative) over the
    INDEX side. Shared by the batch append row and its streaming
    twin so the two cannot drift."""
    return index.groupBy(F.col("label").alias("centroid_id")).agg(
        F.min_by("embedding", "vec_id").alias("embedding")
    )


def ivf_append_side_summary(assigned: DataFrame) -> DataFrame:
    """(centroid_id, n, s) per-list member count + micro-quantized
    cosine sum over an assignment frame carrying ``centroid_sim``."""
    micro = F.floor(
        F.col("centroid_sim") * 1_000_000 + F.lit(0.5)
    ).cast("long")
    return assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(micro).alias("s"),
    )


def ivf_append_report(gi: DataFrame, gb: DataFrame) -> DataFrame:
    """Join the index-side and appended-side (centroid_id, n, s)
    summaries into the audit columns — the single definition of the
    growth/drift arithmetic both twin rows hash against."""
    gb2 = gb.select(
        F.col("centroid_id"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
    )
    return (
        gi.join(gb2, "centroid_id", "left")
        .select(
            "centroid_id",
            F.col("n").alias("n_index"),
            F.coalesce(F.col("nb"), F.lit(0))
            .cast("long")
            .alias("n_appended"),
            F.expr("(1000000 * coalesce(nb, 0)) div n")
            .cast("long")
            .alias("growth_ppm"),
            F.expr("s div n").cast("long").alias("mean_cos_index_micro"),
            F.expr(
                "CASE WHEN nb IS NULL THEN 0 ELSE sb div nb END"
            )
            .cast("long")
            .alias("mean_cos_appended_micro"),
        )
        .orderBy("centroid_id")
    )


_RC_COS_OLD = _COS.format(a="e.embedding::DOUBLE[]", b="c.cv")
_RC_COS_NEW = _COS.format(a="e.embedding::DOUBLE[]", b="c.cv2")

# The IVF-centroid CTE shared by the append / recenter / trigger
# oracles (one definition: the index side is the vec_id % 5 <> 0
# corpus, centroid = min-vec_id representative per label).
_IVF_CENT_CTE = """cent AS (
  SELECT label AS centroid_id, arg_min(embedding, vec_id)::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id % 5 <> 0 GROUP BY label)"""

# The recenter CTE chain (one exact-integer Lloyd step + reassignment
# + churn/shift summaries) shared by llm_emb_ivf_recenter and the
# trigger-policy row — the SQL twin of :func:`ivf_recenter_report`.
_RC_CTES = f"""a_old AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             {_RC_COS_OLD} DESC, c.centroid_id) AS rn
    FROM embeddings e, cent c) t WHERE rn = 1),
ex AS (
  SELECT centroid_id, i AS pos,
         CAST(floor((embedding::DOUBLE[])[i] * 1000000 + 0.5)
              AS BIGINT) AS xm
  FROM a_old, unnest(range(1, len(embedding) + 1)) AS t(i)),
means AS (
  SELECT centroid_id, pos,
         CAST(SUM(xm) // COUNT(*) AS BIGINT) AS mm
  FROM ex GROUP BY centroid_id, pos),
ncent AS (
  SELECT centroid_id,
         list(mm / 1000000.0 ORDER BY pos) AS cv2
  FROM means GROUP BY centroid_id),
a_new AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             {_RC_COS_NEW} DESC, c.centroid_id) AS rn
    FROM embeddings e, ncent c) t WHERE rn = 1),
no AS (SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_old
       FROM a_old GROUP BY centroid_id),
nn AS (SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_new
       FROM a_new GROUP BY centroid_id),
stay AS (
  SELECT o.centroid_id, CAST(COUNT(*) AS BIGINT) AS n_stay
  FROM a_old o JOIN a_new n
    ON n.vec_id = o.vec_id AND n.centroid_id = o.centroid_id
  GROUP BY o.centroid_id),
shift AS (
  SELECT c.centroid_id,
         CAST(floor({_COS.format(a="c.cv", b="n.cv2")} * 1000000 + 0.5)
              AS BIGINT) AS shift_cos_micro
  FROM cent c JOIN ncent n ON n.centroid_id = c.centroid_id)"""


@query(
    "llm_emb_ivf_recenter",
    f"""
WITH {_IVF_CENT_CTE},
{_RC_CTES}
SELECT no.centroid_id, no.n_old,
       CAST(COALESCE(nn.n_new, 0) AS BIGINT) AS n_new,
       CAST(COALESCE(st.n_stay, 0) AS BIGINT) AS n_stay,
       CAST(COALESCE(nn.n_new, 0) - COALESCE(st.n_stay, 0) AS BIGINT)
         AS n_gained,
       CAST(no.n_old - COALESCE(st.n_stay, 0) AS BIGINT) AS n_lost,
       CAST(COALESCE(sh.shift_cos_micro, 0) AS BIGINT)
         AS shift_cos_micro
FROM no
LEFT JOIN nn ON nn.centroid_id = no.centroid_id
LEFT JOIN stay st ON st.centroid_id = no.centroid_id
LEFT JOIN shift sh ON sh.centroid_id = no.centroid_id
ORDER BY no.centroid_id
""",
)
def emb_ivf_recenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF RECENTERING — the maintenance action
    ``llm_emb_ivf_append``'s drift signal triggers: one exact-integer
    Lloyd step over the full corpus (new centroid = per-dimension mean
    of each list's members, elements micro-quantized then
    integer-averaged, so the distributed mean is order-exact), then
    reassignment under the new centroids. Per list the row reports
    membership churn (n_stay / n_gained / n_lost — how much the
    recenter actually moved) and the old→new centroid cosine
    (shift_cos_micro — how far each centroid traveled). Together with
    the append row this closes the ANN maintenance loop: append →
    watch drift → recenter → measure the improvement.

    Exactness: means are BIGINT arithmetic end-to-end; the only
    floats are the cosines (assignment ranking + the quantized shift
    column), the family's documented exposure.

    Scale posture: one posexplode of the corpus (dim x n rows, narrow)
    into a (centroid, dim)-keyed aggregate — map-side-combined to
    k*dim partial rows; both assignment passes are broadcast-centroid
    narrow scans; every output is k rows. The Lloyd step runs at
    recenter cadence, not per ingest."""
    emb = Catalog(spark, sf_dir).embeddings
    index = emb.where(F.col("vec_id") % 5 != 0)
    old_c = ivf_index_centroids(index)
    return ivf_recenter_report(emb, old_c)


def ivf_recenter_report(emb: DataFrame, old_c: DataFrame) -> DataFrame:
    """One exact-integer Lloyd step over ``emb`` under the ``old_c``
    centroids, reporting per-list churn and centroid shift — the
    single definition of the recenter arithmetic shared by
    ``llm_emb_ivf_recenter`` and the trigger-policy row
    ``llm_emb_ivf_recenter_trigger`` (same pattern as
    :func:`ivf_append_report`: a duplicated tail would desync
    silently when only one row is edited)."""
    a_old = sim.ivf_assign(emb, old_c).localCheckpoint(eager=True)
    ex = a_old.select(
        "centroid_id",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(
                    x.cast("double") * 1_000_000 + F.lit(0.5)
                ).cast("long"),
            )
        ).alias("pos", "xm"),
    )
    means = ex.groupBy("centroid_id", "pos").agg(
        F.expr("sum(xm) div count(*)").cast("long").alias("mm")
    )
    ncent = means.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mm"))),
            lambda t: t["mm"].cast("double") / 1_000_000.0,
        ).alias("embedding")
    )
    a_new = sim.ivf_assign(emb, ncent).localCheckpoint(eager=True)
    n_old = a_old.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_old")
    )
    n_new = a_new.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    stay = (
        a_old.select("vec_id", "centroid_id")
        .join(
            a_new.select(
                F.col("vec_id"), F.col("centroid_id").alias("_nc")
            ),
            "vec_id",
        )
        .where(F.col("centroid_id") == F.col("_nc"))
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_stay"))
    )
    shift = (
        old_c.select("centroid_id", F.col("embedding").alias("_ov"))
        .join(
            ncent.select(
                "centroid_id", F.col("embedding").alias("_nv")
            ),
            "centroid_id",
        )
        .select(
            "centroid_id",
            F.floor(
                sim.cosine(F.col("_ov"), F.col("_nv")) * 1_000_000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("shift_cos_micro"),
        )
    )
    return (
        n_old.join(n_new, "centroid_id", "left")
        .join(stay, "centroid_id", "left")
        .join(shift, "centroid_id", "left")
        .select(
            "centroid_id",
            "n_old",
            F.coalesce(F.col("n_new"), F.lit(0))
            .cast("long")
            .alias("n_new"),
            F.coalesce(F.col("n_stay"), F.lit(0))
            .cast("long")
            .alias("n_stay"),
            (
                F.coalesce(F.col("n_new"), F.lit(0))
                - F.coalesce(F.col("n_stay"), F.lit(0))
            )
            .cast("long")
            .alias("n_gained"),
            (F.col("n_old") - F.coalesce(F.col("n_stay"), F.lit(0)))
            .cast("long")
            .alias("n_lost"),
            F.coalesce(F.col("shift_cos_micro"), F.lit(0))
            .cast("long")
            .alias("shift_cos_micro"),
        )
        .orderBy("centroid_id")
    )


# Recenter-trigger policy thresholds (module constants so the Spark
# plan and the oracle SQL interpolate ONE definition — r9 ADVICE
# pattern): a list triggers when its append-audit row shows hot
# growth (appended/existing >= 30% in ppm) OR quality drift (appended
# members' mean cosine-to-centroid at least 0.015 below the existing
# members' — the centroid no longer describes arrivals).
IVF_GROWTH_TRIGGER_PPM = 300_000
IVF_DRIFT_TRIGGER_MICRO = 15_000

_TRIGGER_PRED_SQL = (
    # the drift branch requires n_appended > 0: a list with NO appends
    # encodes mean_cos_appended_micro = 0, and without the guard the
    # drift test degenerates to mean_cos_index_micro >= threshold —
    # true for essentially every populated list, so a QUIET cadence
    # window would spuriously recenter (r11 review finding)
    f"growth_ppm >= {IVF_GROWTH_TRIGGER_PPM} OR "
    f"(n_appended > 0 AND "
    f"mean_cos_index_micro - mean_cos_appended_micro >= "
    f"{IVF_DRIFT_TRIGGER_MICRO})"
)


@query(
    "llm_emb_ivf_recenter_trigger",
    f"""
WITH {_IVF_CENT_CTE},
gi AS ({_IVF_APPEND_SIDE.format(
        cos=_COS.format(a="e.embedding::DOUBLE[]", b="c.cv"),
        side="<> 0")}),
gb AS ({_IVF_APPEND_SIDE.format(
        cos=_COS.format(a="e.embedding::DOUBLE[]", b="c.cv"),
        side="= 0")}),
rep AS (
  SELECT gi.centroid_id,
         gi.n AS n_index,
         CAST(COALESCE(gb.n, 0) AS BIGINT) AS n_appended,
         CAST((1000000 * COALESCE(gb.n, 0)) // gi.n AS BIGINT)
           AS growth_ppm,
         CAST(gi.s // gi.n AS BIGINT) AS mean_cos_index_micro,
         CAST(CASE WHEN gb.n IS NULL THEN 0 ELSE gb.s // gb.n END
              AS BIGINT) AS mean_cos_appended_micro
  FROM gi LEFT JOIN gb ON gb.centroid_id = gi.centroid_id),
trig AS (
  SELECT rep.*,
         CAST(CASE WHEN {_TRIGGER_PRED_SQL} THEN 1 ELSE 0 END
              AS BIGINT) AS triggered
  FROM rep),
dec AS (SELECT MAX(triggered) AS do_recenter FROM trig),
{_RC_CTES}
SELECT t.centroid_id, t.n_index, t.n_appended, t.growth_ppm,
       t.mean_cos_index_micro, t.mean_cos_appended_micro, t.triggered,
       CAST(d.do_recenter AS BIGINT) AS do_recenter,
       CAST(CASE WHEN d.do_recenter = 1
                 THEN COALESCE(st.n_stay, 0) ELSE 0 END
            AS BIGINT) AS n_stay,
       CAST(CASE WHEN d.do_recenter = 1
                 THEN COALESCE(nn.n_new, 0) - COALESCE(st.n_stay, 0)
                 ELSE 0 END AS BIGINT) AS n_gained,
       CAST(CASE WHEN d.do_recenter = 1
                 THEN COALESCE(no.n_old, 0) - COALESCE(st.n_stay, 0)
                 ELSE 0 END AS BIGINT) AS n_lost,
       CAST(CASE WHEN d.do_recenter = 1
                 THEN COALESCE(sh.shift_cos_micro, 0) ELSE 0 END
            AS BIGINT) AS shift_cos_micro
FROM trig t CROSS JOIN dec d
LEFT JOIN no ON no.centroid_id = t.centroid_id
LEFT JOIN nn ON nn.centroid_id = t.centroid_id
LEFT JOIN stay st ON st.centroid_id = t.centroid_id
LEFT JOIN shift sh ON sh.centroid_id = t.centroid_id
ORDER BY t.centroid_id
""",
)
def emb_ivf_recenter_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recenter-TRIGGER policy (r10 verdict #2) — the decision
    edge that closes the ANN maintenance loop end-to-end: the append
    row reports drift, the recenter row measures the fix, and THIS
    row encodes WHEN to act. Per inverted list it evaluates the
    trigger predicate over ``llm_emb_ivf_append``'s audit columns
    (hot growth >= IVF_GROWTH_TRIGGER_PPM, or — only for lists that
    actually received appends — appended-member cosine drifting
    >= IVF_DRIFT_TRIGGER_MICRO below the existing members'),
    emits the per-list ``triggered`` flag and the global
    ``do_recenter`` decision (any hot list recenters the WHOLE index
    — one Lloyd step is global), and, when the decision fires, the
    post-recenter improvement measured by ``llm_emb_ivf_recenter``'s
    churn/shift columns (zeros when the trigger does not fire — the
    Lloyd step is then never planned, which is the point of a
    trigger).

    All three rows ride the SAME shared helpers
    (:func:`ivf_index_centroids`, :func:`ivf_append_side_summary`,
    :func:`ivf_append_report`, :func:`ivf_recenter_report`) and the
    thresholds are module constants interpolated into the oracle SQL
    — one definition each, nothing can desync.

    Scale posture: everything before the decision is k-row arithmetic
    on broadcast-centroid scans (the append row's posture); the
    decision itself is a driver-side ``first()`` over the k-row
    aggregate (bounded, the documented closure-constant pattern); the
    recenter cost is paid only on trigger — at 100 TB this is exactly
    the cadence policy that keeps index maintenance off the per-ingest
    path."""
    emb = Catalog(spark, sf_dir).embeddings
    index = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    return ivf_recenter_trigger_report(emb, index, batch)


def ivf_recenter_trigger_report(
    emb: DataFrame,
    index: DataFrame,
    batch: DataFrame,
    growth_ppm_trigger: int = IVF_GROWTH_TRIGGER_PPM,
    drift_micro_trigger: int = IVF_DRIFT_TRIGGER_MICRO,
) -> DataFrame:
    """Append audit -> per-list trigger -> global decision -> gated
    recenter report. Parameterized thresholds so tests can force both
    decision branches on the same corpus."""
    cents = ivf_index_centroids(index)
    rep = ivf_append_report(
        ivf_append_side_summary(sim.ivf_assign(index, cents, keep_sim=True)),
        ivf_append_side_summary(sim.ivf_assign(batch, cents, keep_sim=True)),
    )
    drift = F.col("mean_cos_index_micro") - F.col("mean_cos_appended_micro")
    trig = rep.withColumn(
        "triggered",
        (
            (F.col("growth_ppm") >= F.lit(growth_ppm_trigger))
            | (
                (F.col("n_appended") > 0)
                & (drift >= F.lit(drift_micro_trigger))
            )
        ).cast("long"),
    ).localCheckpoint(eager=True)  # k rows: decision read + join reuse
    # the global decision is a bounded driver-side read of the k-row
    # trigger frame (the documented closure-constant collect pattern)
    row = trig.agg(F.max("triggered").alias("d")).first()
    do_recenter = int(row["d"] or 0)
    base = trig.withColumn(
        "do_recenter", F.lit(do_recenter).cast("long")
    )
    if do_recenter:
        rc = ivf_recenter_report(emb, cents).select(
            "centroid_id", "n_stay", "n_gained", "n_lost",
            "shift_cos_micro",
        )
        out = base.join(rc, "centroid_id", "left").select(
            base["*"],
            *[
                F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
                for c in (
                    "n_stay", "n_gained", "n_lost", "shift_cos_micro"
                )
            ],
        )
    else:
        out = base
        for c in ("n_stay", "n_gained", "n_lost", "shift_cos_micro"):
            out = out.withColumn(c, F.lit(0).cast("long"))
    return out.orderBy("centroid_id")


# nprobe tuning-sweep parameters (module constants interpolated into
# the oracle): sweep 1..IVF_NPROBE_MAX probes; the chosen operating
# point is the smallest nprobe whose mean recall@10 over the probe
# queries reaches IVF_TARGET_RECALL_PCT.
IVF_NPROBE_MAX = 4
IVF_TARGET_RECALL_PCT = 90


# nprobe-sweep CTE block shared BYTE-IDENTICALLY by the tuning-curve
# oracle and the calibrated-search composition oracle (the
# _INDEX_DROPPED_CTES contract: one definition of the probe lists,
# candidate scoring, per-np ranking, brute-force baseline and the
# recall/cost curve — the curve and the search that consumes its
# chosen point cannot desync).
_NPROBE_CURVE_CTES = f"""{_IVF_ASSIGNED}
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 5),
qc AS (
  SELECT query_id, qv, centroid_id, rn AS rnc FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
             {_COS.format(a="c.cv", b="q.qv")} DESC, c.centroid_id) AS rn
    FROM q, cent c) t WHERE rn <= {IVF_NPROBE_MAX}),
cand AS (
  SELECT qc.query_id, qc.rnc, a.vec_id AS neighbor_id,
         {_COS.format(a="a.embedding::DOUBLE[]", b="qc.qv")} AS score
  FROM assigned a JOIN qc ON a.centroid_id = qc.centroid_id
  WHERE a.vec_id <> qc.query_id),
ex AS (
  SELECT query_id, neighbor_id, score, CAST(t.np AS BIGINT) AS np
  FROM cand, unnest(range(rnc, {IVF_NPROBE_MAX} + 1)) AS t(np)),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY np, query_id
              ORDER BY score DESC, neighbor_id) AS r
  FROM ex),
top AS (SELECT np, query_id, neighbor_id FROM ranked WHERE r <= 10),
bfs AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_COS.format(a="e.embedding::DOUBLE[]", b="q.qv")} AS score
  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
bf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY score DESC, neighbor_id) AS r
    FROM bfs) WHERE r <= 10),
nps AS (
  SELECT CAST(t.np AS BIGINT) AS nprobe
  FROM unnest(range(1, {IVF_NPROBE_MAX} + 1)) AS t(np)),
nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM q),
hits AS (
  SELECT t.np, CAST(COUNT(*) AS BIGINT) AS hits
  FROM top t JOIN bf USING (query_id, neighbor_id) GROUP BY t.np),
scan AS (
  SELECT np, CAST(COUNT(*) AS BIGINT) AS scanned_pairs
  FROM ex GROUP BY np),
curve AS (
  SELECT nps.nprobe, nq.n_queries,
         CAST(COALESCE(s.scanned_pairs, 0) AS BIGINT) AS scanned_pairs,
         CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         CAST(COALESCE(h.hits, 0) * 100 // (nq.n_queries * 10)
              AS BIGINT) AS recall_pct
  FROM nps CROSS JOIN nq
  LEFT JOIN hits h ON h.np = nps.nprobe
  LEFT JOIN scan s ON s.np = nps.nprobe)"""


@query(
    "llm_sim_ivf_nprobe_curve",
    f"""
{_NPROBE_CURVE_CTES}
SELECT nprobe, n_queries, scanned_pairs, hits, recall_pct,
       CAST(CASE WHEN nprobe = MIN(CASE WHEN recall_pct
                      >= {IVF_TARGET_RECALL_PCT} THEN nprobe END)
                      OVER () THEN 1 ELSE 0 END AS BIGINT) AS chosen
FROM curve ORDER BY nprobe
""",
)
def sim_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe TUNING CURVE — the operating-point calibration that
    completes the ANN policy family (quality-threshold calibration is
    its curation-side twin): for nprobe 1..IVF_NPROBE_MAX, recall@10
    of the multi-probe search against the exact brute-force baseline
    (the audit llm_sim_ivf_recall runs for nprobe=1) plus the COST of
    each point (scanned_pairs: candidate vectors actually scored),
    and the ``chosen`` marker on the smallest nprobe reaching
    IVF_TARGET_RECALL_PCT — the knob a team turns before shipping an
    index, as one driver-hashed curve. On this corpus the chosen
    point moves with scale (nprobe=1 at sf0.01, 3 at sf0.1): exactly
    why the curve must be measured, not assumed.

    One pass serves every sweep point: candidates from the top
    IVF_NPROBE_MAX lists are scored ONCE, then a neighbor in the
    rank-r list participates in every nprobe >= r via an explode on
    the list rank (shuffle carries candidates x remaining-sweep
    rows, never re-scores). The brute-force side is the existing
    bounded-query-sample audit shape.

    Scale posture: candidates are the probe queries' top-4 lists
    (4/k of the corpus per query, broadcast-centroid ranked); the
    exact side stays constant as the corpus grows (fixed probe
    sample); outputs are IVF_NPROBE_MAX rows."""
    return nprobe_curve_frame(
        spark, Catalog(spark, sf_dir).embeddings
    ).orderBy("nprobe")


def nprobe_curve_frame(
    spark: SparkSession,
    emb: DataFrame,
    target_pct: int = IVF_TARGET_RECALL_PCT,
) -> DataFrame:
    """The nprobe recall/cost curve with the ``chosen`` marker —
    shared by ``llm_sim_ivf_nprobe_curve`` and the calibrated-search
    composition (unordered; callers sort), parameterized on the
    recall target so tests pin both decision branches. Mirrors the
    shared ``_NPROBE_CURVE_CTES`` block on the oracle side."""
    curve, _cand = _nprobe_curve_and_candidates(
        spark, emb, target_pct, persist=False
    )
    return curve


def _nprobe_curve_and_candidates(
    spark: SparkSession,
    emb: DataFrame,
    target_pct: int = IVF_TARGET_RECALL_PCT,
    persist: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Curve frame PLUS the scored-candidate relation it is
    aggregated from — ``cand``: (query_id, rnc, neighbor_id, score),
    one row per (probe query, rank-rnc-list member). Split out in r15
    (guide §2.4 "remove shuffles outright" / §5 persist-on-reuse):

    - The calibrate->search composition's production search at the
      chosen point is exactly ``cand`` filtered to ``rnc <= chosen``
      and ranked — the same slice the oracle's ``ranked`` CTE takes —
      so the composition reuses the (then persisted) relation instead
      of re-running the full ``ivf_topk`` scan+score chain
      (``sim_ivf_calibrated_search_frame``).
    - ``persist`` stays False for the plain curve consumers
      (``llm_sim_ivf_nprobe_curve`` and the streaming twin's
      calibration leg): their plans are bit-identical to the r14
      shape. Measured at sf0.1: persisting for the curve's own two
      aggregates reads 1.12x WORSE interleaved (the materialization
      barrier costs more than the deduped recompute at this scale),
      so only the three-consumer calibrated path persists.

    Equivalence of the slice to ``ivf_topk`` at nprobe=chosen: ``qc``
    ranks centroids per query with the identical window ordering as
    ``ivf_probe_assign`` (cosine DESC, centroid_id), ``assigned`` is
    the same ``ivf_assign``, the join/exclusion/score expressions are
    byte-identical per-row expressions (no accumulation-order float
    exposure), and the final rank window matches. The shared
    calibrate->search oracle pins that equality every driver round."""
    from pyspark.sql import Window as W

    from ..caching import tracked_persist

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
    )
    centroids = emb.groupBy(F.col("label").alias("centroid_id")).agg(
        F.min_by("embedding", "vec_id").alias("embedding")
    )
    c = centroids.select(
        "centroid_id", F.col("embedding").alias("_cv")
    )
    wq = W.partitionBy("query_id").orderBy(
        sim.cosine(F.col("_cv"), F.col("_qv")).desc(),
        F.col("centroid_id"),
    )
    qc = (
        queries.join(bounded_broadcast(c, "k-row", "k IVF centroids"))
        .withColumn("rnc", F.row_number().over(wq))
        .where(F.col("rnc") <= IVF_NPROBE_MAX)
        .select("query_id", "_qv", "centroid_id", "rnc")
    )
    assigned = sim.ivf_assign(emb, centroids)
    cand = (
        assigned.join(bounded_broadcast(qc, "k-row", "queries x nprobe"), "centroid_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "rnc",
            F.col("vec_id").alias("neighbor_id"),
            sim.cosine(F.col("embedding"), F.col("_qv")).alias("score"),
        )
    )
    if persist:
        cand = tracked_persist(cand)
    ex = cand.select(
        "query_id",
        "neighbor_id",
        "score",
        F.explode(
            F.sequence(F.col("rnc"), F.lit(IVF_NPROBE_MAX))
        ).alias("_np"),
    ).select(
        "query_id", "neighbor_id", "score",
        F.col("_np").cast("long").alias("np"),
    )
    wr = W.partitionBy("np", "query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    top = (
        ex.withColumn("r", F.row_number().over(wr))
        .where(F.col("r") <= 10)
        .select("np", "query_id", "neighbor_id")
    )
    bf = sim.brute_force_topk(
        emb, queries.select("query_id", F.col("_qv").alias("embedding")),
        k=10,
    ).select("query_id", "neighbor_id")
    nps = spark.range(1, IVF_NPROBE_MAX + 1).select(
        F.col("id").cast("long").alias("nprobe")
    )
    nq = queries.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    hits = top.join(bf, ["query_id", "neighbor_id"]).groupBy(
        F.col("np").alias("nprobe")
    ).agg(F.count(F.lit(1)).cast("long").alias("hits"))
    scan = ex.groupBy(F.col("np").alias("nprobe")).agg(
        F.count(F.lit(1)).cast("long").alias("scanned_pairs")
    )
    curve = (
        nps.crossJoin(bounded_broadcast(nq, "scalar-agg", "1-row query count"))
        .join(bounded_broadcast(hits, "k-row", "per nprobe point"), "nprobe", "left")
        .join(bounded_broadcast(scan, "k-row", "per nprobe point"), "nprobe", "left")
        .select(
            "nprobe",
            "n_queries",
            F.coalesce(F.col("scanned_pairs"), F.lit(0))
            .cast("long")
            .alias("scanned_pairs"),
            F.coalesce(F.col("hits"), F.lit(0))
            .cast("long")
            .alias("hits"),
            F.expr("(coalesce(hits, 0) * 100) div (n_queries * 10)")
            .cast("long")
            .alias("recall_pct"),
        )
    )
    w_all = W.partitionBy()
    chosen_np = F.min(
        F.when(
            F.col("recall_pct") >= F.lit(int(target_pct)),
            F.col("nprobe"),
        )
    ).over(w_all)
    return (
        curve.withColumn(
            "chosen",
            (F.col("nprobe") == chosen_np).cast("long"),
        ),
        cand,
    )


# The full calibrate->search oracle, shared by the batch composition
# row and its STREAMING serving twin (a bounded query stream searched
# against the static index must produce the batch answer
# bit-for-bit, so the twin simply reuses this text).
_CAL_SEARCH_ORACLE = f"""
{_NPROBE_CURVE_CTES},
chosen AS (
  SELECT COALESCE(MIN(CASE WHEN recall_pct >= {IVF_TARGET_RECALL_PCT}
                        THEN nprobe END), {IVF_NPROBE_MAX}) AS np,
         CAST(CASE WHEN MIN(CASE WHEN recall_pct
                        >= {IVF_TARGET_RECALL_PCT} THEN nprobe END)
                   IS NULL THEN 0 ELSE 1 END AS BIGINT) AS met
  FROM curve)
SELECT r.query_id, r.neighbor_id, r.score, r.r AS rank,
       ch.np AS chosen_nprobe, ch.met AS met_target
FROM ranked r JOIN chosen ch ON r.np = ch.np
WHERE r.r <= 10
"""


def _choose_nprobe(rows, target_pct: int) -> tuple[int, int]:
    """Driver-side twin of the oracle's ``chosen`` aggregate:
    smallest probe count whose recall meets the target, with the
    IVF_NPROBE_MAX fallback and met flag. Shared by the batch
    composition and its streaming serving twin so the two cannot
    disagree on the operating point."""
    within = [
        int(r["nprobe"])
        for r in rows
        if int(r["recall_pct"]) >= int(target_pct)
    ]
    return (min(within) if within else IVF_NPROBE_MAX,
            1 if within else 0)


@query("llm_sim_ivf_calibrated_search", _CAL_SEARCH_ORACLE)
def sim_ivf_calibrated_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CALIBRATE -> SEARCH composition — the ANN leg of the
    calibration-loop closure (the dedup leg is
    ``llm_dedup_calibrated_apply``, the quality leg
    ``llm_quality_calibrated_gate``): run the nprobe tuning curve,
    CHOOSE the operating point (the smallest nprobe whose recall@10
    reaches ``IVF_TARGET_RECALL_PCT``; if no sweep point reaches it,
    fall back to ``IVF_NPROBE_MAX`` with ``met_target = 0``), then
    run the PRODUCTION multi-probe IVF top-10 search
    (``operators/similarity.py ivf_topk`` — the
    ``llm_sim_ivf_multiprobe`` machinery) AT that point, each result
    row carrying the chosen nprobe and the met flag as audit columns.

    The oracle interpolates the SAME ``_NPROBE_CURVE_CTES`` block as
    ``llm_sim_ivf_nprobe_curve`` (byte-identical) and re-derives the
    choice as a scalar aggregate over the curve, so Spark's
    driver-side decision and DuckDB must agree or the hash gate
    fails; the search side is then simply the shared ``ranked`` CTE
    at np = chosen. The decision reads the IVF_NPROBE_MAX-row curve
    frame — bounded by the sweep constant, the documented
    closure-constant pattern. Both decision branches are pinned by a
    parameterized-target pytest.

    Scale posture: the curve's cost (candidates scored once from the
    probe queries' top-IVF_NPROBE_MAX lists, exploded per remaining
    sweep point; constant-sized brute-force baseline) plus one
    production ``ivf_topk`` at the chosen point — broadcast-centroid
    narrow scans throughout; the only driver traffic is the
    IVF_NPROBE_MAX-row curve."""
    return sim_ivf_calibrated_search_frame(
        spark, Catalog(spark, sf_dir).embeddings
    )


def sim_ivf_calibrated_search_frame(
    spark: SparkSession,
    emb: DataFrame,
    target_pct: int = IVF_TARGET_RECALL_PCT,
) -> DataFrame:
    """Body of ``llm_sim_ivf_calibrated_search``, parameterized on
    the recall target so tests pin BOTH decision branches (target 0
    -> nprobe 1 qualifies, ``met_target = 1``; target 101 -> nothing
    qualifies, the IVF_NPROBE_MAX fallback with ``met_target = 0``).

    r15 restructure (guide §2.4/§5): the chosen-point search is the
    persisted curve candidate relation filtered to ``rnc <= chosen``
    and ranked — the exact slice the shared oracle's ``ranked`` CTE
    takes — instead of a second full ``ivf_topk`` scan+score pass
    over the corpus. Expression-level equivalence to ``ivf_topk`` at
    nprobe=chosen is argued at ``_nprobe_curve_and_candidates`` and
    pinned by the oracle hash plus the explicit search-side ==
    ``ivf_topk`` comparison in
    ``test_ivf_calibrated_search_both_decision_branches``."""
    from pyspark.sql import Window as W

    curve, cand = _nprobe_curve_and_candidates(
        spark, emb, target_pct, persist=True
    )
    rows = curve.collect()
    # bounded: one row per probe count 1..IVF_NPROBE_MAX
    chosen, met = _choose_nprobe(rows, target_pct)
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        cand.where(F.col("rnc") <= F.lit(int(chosen)))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            "score",
            "rank",
            F.lit(int(chosen)).cast("long").alias("chosen_nprobe"),
            F.lit(int(met)).cast("long").alias("met_target"),
        )
    )
