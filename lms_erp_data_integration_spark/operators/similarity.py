"""Embedding similarity search (SURVEY.md M7): brute-force cosine top-k
baseline and an IVF (inverted-file) bucketed variant as the scale path.

Numeric determinism: elements are cast float->double (exact), products
of two floats are exact in double (24+24 < 53 mantissa bits), and both
Spark's ``aggregate`` fold and DuckDB's ``list_dot_product`` sum
sequentially in index order — so cosine scores are bit-identical across
engines and the oracles can compare at full precision.

Scale design: brute force is O(|Q| x n) — fine for small query sets but
not for n x n. The IVF path assigns every vector to its nearest
centroid (narrow map), then searches only the probed cluster:
the candidate set shrinks by ~1/n_clusters, and the cluster assignment
is a broadcast join against the (tiny) centroid table. At 100 TB the
corpus is partitioned by cluster id so a probe touches only matching
partitions (partition pruning on the assignment column). Papers:
PAPERS.md EDBT'20 (incremental top-k), ICDE'21 REPOSE, SIGMOD'20
adaptive similarity search.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..caching import tracked_persist
from ..hints import bounded_broadcast


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (matches DuckDB list_dot_product)."""
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries: (query_id, embedding). Output: (query_id, neighbor_id,
    score, rank) — rank deterministic via (score desc, neighbor_id).
    The query side is broadcast: the corpus scan never shuffles; only
    the tiny per-query top-k heads move."""
    q = queries.select(
        F.col("query_id"), F.col(vec_col).alias("_qv")
    )
    scored = (
        vectors.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
        .join(bounded_broadcast(q, "k-row", "caller-bounded query vectors"))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col(vec_col), F.col("_qv")).alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def ivf_assign_literal(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """STATELESS nearest-centroid assignment: the k centroids are
    baked into the projection as literals (array<struct<cv, cid>>),
    so the argmax is a pure per-row expression — usable on STREAMING
    DataFrames, where ``ivf_assign``'s row_number window is illegal.
    Tie-break matches ivf_assign exactly: max cosine, then lower
    centroid_id (encoded as struct(sim, -cid) under array_max's
    lexicographic compare). In production the centroid set is exactly
    the broadcast constant this models."""
    sims = F.transform(
        F.array(
            *[
                F.struct(
                    F.array(*[F.lit(float(x)) for x in cv]).alias("cv"),
                    F.lit(int(cid)).alias("cid"),
                )
                for cid, cv in sorted(centroids)
            ]
        ),
        lambda c: F.struct(
            cosine(F.col(vec_col), c["cv"]).alias("sim"),
            (-c["cid"]).alias("ncid"),
        ),
    )
    best = F.array_max(sims)
    return vectors.select(
        F.col(id_col),
        (-best["ncid"]).cast("long").alias("centroid_id"),
        best["sim"].alias("centroid_sim"),
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_sim: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (argmax,
    ties -> lower centroid_id). centroids: (centroid_id, embedding) —
    tiny, broadcast. ``keep_sim`` carries the winning cosine through
    as ``centroid_sim`` (for list-quality/drift consumers)."""
    c = centroids.select(
        F.col("centroid_id"), F.col(vec_col).alias("_cv")
    )
    scored = vectors.join(bounded_broadcast(c, "k-row", "IVF centroids")).select(
        id_col,
        vec_col,
        "centroid_id",
        cosine(F.col(vec_col), F.col("_cv")).alias("_sim"),
    )
    w = W.partitionBy(id_col).orderBy(F.col("_sim").desc(), F.col("centroid_id"))
    extra = [F.col("_sim").alias("centroid_sim")] if keep_sim else []
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(id_col, vec_col, "centroid_id", *extra)
    )


def ivf_probe_assign_literal(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """STATELESS multi-probe assignment — (id, vec, centroid_id) rows
    for each of the ``nprobe`` nearest centroids, with the k
    centroids baked into the projection as literals: the streaming-
    legal generalization of :func:`ivf_assign_literal` (no window),
    for query streams searched against a static index. Ranking and
    tie-break match :func:`ivf_probe_assign` exactly — cosine DESC,
    then lower centroid_id, via struct(sim, -cid) under
    ``sort_array``'s lexicographic descending compare."""
    sims = F.transform(
        F.array(
            *[
                F.struct(
                    F.array(*[F.lit(float(x)) for x in cv]).alias("cv"),
                    F.lit(int(cid)).alias("cid"),
                )
                for cid, cv in sorted(centroids)
            ]
        ),
        lambda c: F.struct(
            cosine(F.col(vec_col), c["cv"]).alias("sim"),
            (-c["cid"]).alias("ncid"),
        ),
    )
    probes = F.slice(F.sort_array(sims, asc=False), 1, int(nprobe))
    return vectors.select(
        F.col(id_col),
        F.col(vec_col),
        F.explode(probes).alias("_p"),
    ).select(
        id_col,
        vec_col,
        (-F.col("_p.ncid")).cast("long").alias("centroid_id"),
    )


def ivf_probe_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, centroid_id) rows for each of the ``nprobe`` nearest
    centroids — multi-probe generalization of :func:`ivf_assign`."""
    c = centroids.select(F.col("centroid_id"), F.col(vec_col).alias("_cv"))
    scored = vectors.join(bounded_broadcast(c, "k-row", "IVF centroids")).select(
        id_col,
        vec_col,
        "centroid_id",
        cosine(F.col(vec_col), F.col("_cv")).alias("_sim"),
    )
    w = W.partitionBy(id_col).orderBy(F.col("_sim").desc(), F.col("centroid_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= nprobe)
        .select(id_col, vec_col, "centroid_id")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: search the query's ``nprobe`` nearest
    clusters (each corpus vector lives in exactly one cluster). Same
    output shape as brute_force_topk; recall grows with nprobe and the
    oracle replicates the identical algorithm."""
    assigned = ivf_assign(vectors, centroids, id_col, vec_col)
    q_assigned = ivf_probe_assign(
        queries.select(F.col("query_id").alias(id_col), vec_col),
        centroids,
        nprobe,
        id_col,
        vec_col,
    ).select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"), "centroid_id")
    scored = (
        assigned.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col), "centroid_id"
        )
        .join(bounded_broadcast(q_assigned, "k-row", "queries x nprobe"), "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col(vec_col), F.col("_qv")).alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def normalize(arr: Column) -> Column:
    """Unit-normalize a vector (elements cast to double first)."""
    d = _to_double(arr)
    n = F.sqrt(
        F.aggregate(
            F.zip_with(d, d, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    return F.transform(d, lambda x: x / n)


def hyperplanes(tables: int, bits: int, dim: int) -> list[list[list[float]]]:
    """Deterministic random hyperplanes for sign-LSH, derived from md5
    in plain Python — the same literals are inlined into the Spark plan
    and the DuckDB oracle, so both engines bucket identically."""
    import hashlib

    def comp(t: int, b: int, d: int) -> float:
        h = hashlib.md5(f"{t}:{b}:{d}".encode()).hexdigest()[:7]
        return (int(h, 16) % 2001 - 1000) / 1000.0

    return [
        [[comp(t, b, d) for d in range(dim)] for b in range(bits)]
        for t in range(tables)
    ]


def lsh_bucket_rows(
    vectors: DataFrame,
    planes: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool = True,
) -> DataFrame:
    """(id, table, bucket) sign-LSH bucket assignments.

    Two bit-identical implementations:

    - *vectorized* (default): one Arrow-batched numpy pass per batch.
      Each plane's dot product is elementwise product + ``cumsum`` —  a
      strictly SEQUENTIAL accumulation, unlike np.dot/BLAS which
      reorder additions — so the sign (hence the bucket) matches the
      expression fold bit-for-bit. ~5x faster than the interpreted
      higher-order-function fold, which doesn't codegen.
    - *expression*: pure-Column form, the oracle twin — kept because it
      is trivially transcribable to the DuckDB oracle SQL and has no
      Python in the plan.
    """
    tables, bits = len(planes), len(planes[0])
    if not vectorized:
        v = _to_double(F.col(vec_col))

        def bucket(t: int) -> Column:
            acc = F.lit(0)
            for b in range(bits):
                r = F.array(*[F.lit(x) for x in planes[t][b]])
                d = F.aggregate(
                    F.zip_with(v, r, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
                acc = acc + F.when(d >= 0, F.lit(1 << b)).otherwise(F.lit(0))
            return acc

        return vectors.select(
            F.col(id_col),
            F.posexplode(F.array(*[bucket(t) for t in range(tables)])).alias(
                "table", "bucket"
            ),
        )

    import numpy as np
    import pandas as pd

    P = np.array(planes, dtype=np.float64)  # (tables, bits, dim)

    def op(batches):
        for batch in batches:
            ids = batch[id_col].to_numpy()
            if len(ids) == 0:
                continue
            V = np.array(
                [np.asarray(x, dtype=np.float64) for x in batch[vec_col]]
            )
            buckets = np.zeros((len(ids), tables), dtype=np.int64)
            for t in range(tables):
                for b in range(bits):
                    d = (V * P[t, b]).cumsum(axis=1)[:, -1]
                    buckets[:, t] += (d >= 0).astype(np.int64) << b
            yield pd.DataFrame(
                {
                    id_col: np.tile(ids, tables),
                    "table": np.repeat(np.arange(tables, dtype=np.int32), len(ids)),
                    "bucket": buckets.T.reshape(-1),
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        op, f"{id_col} long, table int, bucket int"
    )


def lsh_bucketed_near_duplicates(
    vectors: DataFrame,
    threshold: float = 0.35,
    tables: int = 4,
    bits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool = True,
) -> DataFrame:
    """Random-hyperplane (sign) LSH near-dup pairs: L hash tables of k
    sign bits; candidate pairs share a bucket in >= 1 table, then exact
    normalized-cosine verification at ``threshold``.

    The scale path: the bucket equi-join shuffles collisions, not n^2.
    Recall < 1 by construction (P[collide] = (1 - theta/pi)^k per
    table); the oracle replicates the identical pipeline, so results
    still compare bit-exactly (see :func:`lsh_bucket_rows` for why the
    vectorized bucketing keeps bit-parity)."""
    planes = hyperplanes(tables, bits, dim)
    buckets = tracked_persist(
        lsh_bucket_rows(vectors, planes, id_col, vec_col, vectorized)
    )
    cands = (
        buckets.select(F.col(id_col).alias("i"), "table", "bucket")
        .join(
            buckets.select(F.col(id_col).alias("j"), "table", "bucket"),
            ["table", "bucket"],
        )
        .where(F.col("i") < F.col("j"))
        .select("i", "j")
        .distinct()
    )
    normed = tracked_persist(
        vectors.select(F.col(id_col), normalize(F.col(vec_col)).alias("_nv"))
    )
    joined = cands.join(
        normed.select(F.col(id_col).alias("i"), F.col("_nv").alias("_vi")),
        "i",
    ).join(
        normed.select(F.col(id_col).alias("j"), F.col("_nv").alias("_vj")),
        "j",
    )
    if not vectorized:
        return (
            joined.select(
                "i",
                "j",
                F.aggregate(
                    F.zip_with(F.col("_vi"), F.col("_vj"), lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("cosine"),
            )
            .where(F.col("cosine") >= threshold)
        )

    # Vectorized verification: the interpreted per-pair fold costs
    # ~10x a numpy kernel on the same candidates. Bit-parity with the
    # fold (and the DuckDB oracle) is preserved because the per-pair
    # reduction is SEQUENTIAL: elementwise product + cumsum accumulate
    # left-to-right in float64, the exact order of the fold — same
    # guarantee as near_duplicate_pairs_local / the SemDeDup verify
    # kernel.
    import pandas as pd  # noqa: F811

    def op(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            vi = np.vstack(pdf["_vi"].to_numpy())
            vj = np.vstack(pdf["_vj"].to_numpy())
            cos = (vi * vj).cumsum(axis=1)[:, -1]
            out = pd.DataFrame(
                {"i": pdf["i"], "j": pdf["j"], "cosine": cos}
            )
            yield out[out["cosine"] >= threshold]

    return joined.mapInPandas(op, "i long, j long, cosine double")


def near_duplicate_pairs_local(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (i < j, cosine >= threshold) —
    vectorized all-pairs baseline.

    Each executor task compares its rows against a broadcast normalized
    matrix with numpy (Arrow-batched mapInPandas). Bit-parity with the
    expression/DuckDB form is preserved because every reduction is
    SEQUENTIAL: norms and pair scores use elementwise products +
    ``cumsum`` (a strictly sequential accumulation, unlike np.sum/BLAS
    dot which reorder additions) — verified exact on the full corpus.

    Scale note: all-pairs inherently materializes one side (same as any
    broadcast nested-loop join); this baseline is for bounded corpora —
    the LSH (lsh_bucketed_near_duplicates) and IVF paths are the 100 TB
    shapes. ~10x faster than the interpreted per-pair fold."""
    import numpy as np
    import pandas as pd

    pdf = vectors.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy()
    V = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    norms = np.sqrt((V * V).cumsum(axis=1)[:, -1])
    NV = V / norms[:, None]
    b = vectors.sparkSession.sparkContext.broadcast((ids, NV))

    def op(batches):
        ids_b, nv_b = b.value
        pos = {int(v): k for k, v in enumerate(ids_b)}
        for batch in batches:
            out_i: list[int] = []
            out_j: list[int] = []
            out_c: list[float] = []
            for vid in batch[id_col]:
                v = nv_b[pos[int(vid)]]
                scores = (nv_b * v).cumsum(axis=1)[:, -1]
                mask = (ids_b > vid) & (scores >= threshold)
                js = ids_b[mask]
                out_i.extend([int(vid)] * len(js))
                out_j.extend(int(j) for j in js)
                out_c.extend(float(c) for c in scores[mask])
            yield pd.DataFrame({"i": out_i, "j": out_j, "cosine": out_c})

    return vectors.select(id_col, vec_col).mapInPandas(
        op, "i long, j long, cosine double"
    )


def near_duplicate_pairs_blocked(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_blocks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_rows: int = 100_000,
) -> DataFrame:
    """Distributed blocked all-pairs cosine: hash each vector into one
    of ``n_blocks`` blocks, pack blocks into rows, cross-join the
    O(B^2/2) block pairs, and compare each pair of blocks with one
    vectorized numpy kernel per task. No driver materialization (the
    corpus never leaves the executors) and no per-pair interpreted
    expression — the distributed answer to both weak forms.

    Bit-parity with the expression/oracle form: norms and pair scores
    accumulate via elementwise product + ``cumsum`` (strictly
    sequential additions, unlike BLAS dot), identical to the fold order
    of :func:`near_duplicate_pairs_exprs`.

    Scale: work is inherently O(n^2 / P) — this is the exact baseline;
    LSH (:func:`lsh_bucketed_near_duplicates`) is the approximate scale
    path. ``n_blocks`` should grow ~sqrt(corpus) so one block pair
    (2n/B vectors) stays comfortably inside a task's memory; the
    kernel FAILS FAST (ValueError) if a packed block exceeds
    ``max_block_rows`` elements, turning the sqrt-n sizing contract
    into an enforced one instead of a silent executor OOM."""
    import numpy as np
    import pandas as pd

    packed = (
        vectors.select(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("_blk"),
            F.struct(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).alias(
                "_r"
            ),
        )
        .groupBy("_blk")
        .agg(F.collect_list("_r").alias("_rows"))
    )
    a = packed.select(F.col("_blk").alias("_blka"), F.col("_rows").alias("_ra"))
    b = packed.select(F.col("_blk").alias("_blkb"), F.col("_rows").alias("_rb"))
    block_pairs = a.join(b, F.col("_blka") <= F.col("_blkb"))

    def unpack(rows):
        if len(rows) > max_block_rows:
            raise ValueError(
                f"near_duplicate_pairs_blocked: packed block holds "
                f"{len(rows)} vectors > max_block_rows={max_block_rows}; "
                f"raise n_blocks (~sqrt(corpus)) so block pairs fit in "
                f"task memory"
            )
        ids = np.array([r["id"] for r in rows], dtype=np.int64)
        V = np.array([np.asarray(r["v"], dtype=np.float64) for r in rows])
        norms = np.sqrt((V * V).cumsum(axis=1)[:, -1])
        return ids, V / norms[:, None]

    def op(batches):
        for batch in batches:
            out_i: list[int] = []
            out_j: list[int] = []
            out_c: list[float] = []
            for blka, blkb, ra, rb in zip(
                batch["_blka"], batch["_blkb"], batch["_ra"], batch["_rb"]
            ):
                ia, NA = unpack(ra)
                ib, NB = unpack(rb)
                # sequential-order pair scores: cumsum over the dim axis
                S = (NA[:, None, :] * NB[None, :, :]).cumsum(axis=2)[:, :, -1]
                mask = S >= threshold
                # same block appears once (blka == blkb): halve via
                # id order; distinct blocks hold each unordered pair
                # exactly once already
                mask &= (
                    ia[:, None] < ib[None, :]
                    if blka == blkb
                    else ia[:, None] != ib[None, :]
                )
                rows_k, cols_k = np.nonzero(mask)
                ii, jj = ia[rows_k], ib[cols_k]
                out_i.extend(np.minimum(ii, jj).tolist())
                out_j.extend(np.maximum(ii, jj).tolist())
                out_c.extend(S[rows_k, cols_k].tolist())
            yield pd.DataFrame({"i": out_i, "j": out_j, "cosine": out_c})

    return block_pairs.mapInPandas(op, "i long, j long, cosine double")


def near_duplicate_pairs_exprs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Expression-only form of :func:`near_duplicate_pairs_local` (no Python,
    no driver materialization) — same results bit-for-bit; kept for
    environments where the corpus must stay distributed end-to-end."""
    # persist: without it Catalyst collapses this projection into the
    # join and re-normalizes BOTH vectors for every pair
    normed = tracked_persist(
        vectors.select(F.col(id_col), normalize(F.col(vec_col)).alias("_nv"))
    )
    left = normed.select(F.col(id_col).alias("i"), F.col("_nv").alias("_vi"))
    right = normed.select(F.col(id_col).alias("j"), F.col("_nv").alias("_vj"))
    return (
        left.crossJoin(right)
        .where(F.col("i") < F.col("j"))
        .select(
            "i",
            "j",
            F.aggregate(
                F.zip_with(F.col("_vi"), F.col("_vj"), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def kmeans_assignments(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_groups: int | None = None,
) -> DataFrame:
    """Distributed Lloyd's k-means -> final (id, cid) assignment — the
    IVF index TRAINING step (ivf_topk consumes externally-given
    centroids; this learns them).

    Exactness design, so a SQL oracle can replicate every iteration
    bit-for-bit:

    - vectors are pre-scaled to integer micro-units (floor(x*1e6+0.5)),
      stored as doubles: every value and every per-dimension sum stays
      under 2^53, so cluster sums are EXACT and order-independent —
      no float-mean divergence across engines or partitionings.
    - centroids are kept as (per-dim sums S, count n); the mean S_d/n
      is ONE exactly-rounded IEEE division per dimension, identical in
      both engines, and the squared distance folds sequentially — so
      every iteration's argmin matches the oracle bit-for-bit. (The
      order-dependent hazard is the SUM, which integer scaling makes
      exact; per-element float ops are deterministic.)
    - ties break to the lower centroid id; init = the k lowest-id
      vectors (deterministic, no RNG).

    Scale: each iteration is one broadcast join (k centroids) + one
    row_number window + one posexplode/groupBy — shuffles bounded by
    n x dim, never n x k x dim. Empty clusters drop out of the state
    (both engines).

    ``coarse_groups=g`` switches the per-iteration assignment from the
    flat n x k distance scan to a TWO-LEVEL (IVF-style) scan: the g
    lowest-cid centroids seed a coarse codebook, every centroid joins
    its nearest seed (k x g distances — centroid-count work), the
    coarse cell keeps the exact integer sum-of-member-sums state
    (order-independent, same design as the fine state), each point
    picks its nearest coarse cell (n x g) and then scans only that
    cell's fine centroids (n x k/g expected). With g ~ sqrt(k) the
    assignment is O(n x sqrt(k)) instead of O(n x k), which is what
    lets k grow as n^(2/3) (balancing SemDeDup's n^2/k verify stage at
    a total O(n^(4/3))) where the flat scan capped it at sqrt(n) /
    O(n^1.5). The pruned argmin is approximate in the standard IVF
    sense — a point whose true nearest fine centroid lives outside its
    nearest coarse cell takes the best in-cell one — and the oracle
    replicates the identical pruning, so results stay bit-exact.
    Coarse cells are built from member aggregation, so an empty cell
    never exists as a probe target and no point is dropped."""
    vi = F.transform(
        _to_double(F.col(vec_col)),
        lambda x: F.floor(x * 1_000_000 + F.lit(0.5)).cast("double"),
    )
    v = tracked_persist(vectors.select(F.col(id_col), vi.alias("_vi")))
    state = v.where(F.col(id_col) < k).select(
        F.col(id_col).alias("cid"),
        F.col("_vi").alias("_S"),
        F.lit(1).cast("double").alias("_n"),
    )
    assign = None
    for it in range(iterations):
        diff = F.zip_with(
            F.col("_vi"), F.col("_S"), lambda x, s: x - s / F.col("_n")
        )
        dist = F.aggregate(
            F.zip_with(diff, diff, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        if coarse_groups is None:
            scored = v.join(bounded_broadcast(state, "k-row", "k centroids")).select(
                F.col(id_col), F.col("_vi"), F.col("cid"), dist.alias("_dist")
            )
        else:
            # coarse seeds: the g lowest-cid centroids of this round
            seeds = (
                state.withColumn(
                    "_rn", F.row_number().over(W.orderBy("cid"))
                )
                .where(F.col("_rn") <= coarse_groups)
                .select(
                    F.col("cid").alias("gid"),
                    F.col("_S").alias("_gS"),
                    F.col("_n").alias("_gn"),
                )
            )
            # centroid -> nearest seed (mean-to-mean distance, k x g)
            cdiff = F.zip_with(
                F.col("_S"),
                F.col("_gS"),
                lambda a, b: a / F.col("_n") - b / F.col("_gn"),
            )
            cdist = F.aggregate(
                F.zip_with(cdiff, cdiff, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            ga = (
                state.join(bounded_broadcast(seeds, "k-row", "g coarse seeds"))
                .select("cid", "gid", cdist.alias("_cd"))
                .withColumn(
                    "_rn",
                    F.row_number().over(
                        W.partitionBy("cid").orderBy("_cd", "gid")
                    ),
                )
                .where(F.col("_rn") == 1)
                .select("cid", "gid")
                # k-row frame consumed by THREE downstream branches
                # (coarse sums, probe cells, the fine scan) — eagerly
                # truncate so each consumer reads a materialized RDD
                # instead of re-expanding the whole iteration lineage
                # through another AQE re-plan (the same driver-side
                # cost the inter-iteration checkpoint below kills;
                # measured: without these two checkpoints the coarse
                # path LOST to the flat scan it prunes, 32 -> 76 s at
                # sf1.0)
                .localCheckpoint(eager=True)
            )
            # coarse cell state: exact sum of member (sums, counts) —
            # integer-valued doubles, so order-independent like the
            # fine state
            gstate = (
                state.join(ga, "cid")
                .select(
                    "gid",
                    F.col("_n").alias("_cn"),
                    F.posexplode("_S").alias("_d", "_x"),
                )
                .groupBy("gid", "_d")
                .agg(F.sum("_x").alias("_sd"), F.sum("_cn").alias("_cnt"))
                .groupBy("gid")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("_d", "_sd"))),
                        lambda s: s["_sd"],
                    ).alias("_gS"),
                    F.max("_cnt").alias("_gn"),
                )
            )
            # point -> nearest coarse cell (n x g)
            gdiff = F.zip_with(
                F.col("_vi"), F.col("_gS"), lambda x, s: x - s / F.col("_gn")
            )
            gdist = F.aggregate(
                F.zip_with(gdiff, gdiff, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            pg = (
                v.join(bounded_broadcast(gstate, "k-row", "g coarse cells"))
                .select(id_col, "gid", gdist.alias("_gd"))
                .withColumn(
                    "_rn",
                    F.row_number().over(
                        W.partitionBy(id_col).orderBy("_gd", "gid")
                    ),
                )
                .where(F.col("_rn") == 1)
                .select(id_col, "gid")
            )
            # point -> fine centroids of ITS cell only (n x k/g expected)
            cells = state.join(ga, "cid")
            scored = (
                v.join(pg, id_col)
                .join(bounded_broadcast(cells, "k-row", "k centroids"), "gid")
                .select(
                    F.col(id_col),
                    F.col("_vi"),
                    F.col("cid"),
                    dist.alias("_dist"),
                )
            )
        w = W.partitionBy(id_col).orderBy("_dist", "cid")
        assign = (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(id_col, "_vi", "cid")
        )
        exploded = assign.select("cid", F.posexplode("_vi").alias("_d", "_x"))
        sums = exploded.groupBy("cid", "_d").agg(
            F.sum("_x").alias("_sd"), F.count(F.lit(1)).alias("_cnt")
        )
        state = sums.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_d", "_sd"))),
                lambda s: s["_sd"],
            ).alias("_S"),
            F.max("_cnt").cast("double").alias("_n"),
        )
        # k-row state: truncate lineage between iterations (same
        # pattern as graph.pagerank_micros) — the deepening nested-HOF
        # plan otherwise costs more in driver-side re-optimization at
        # every AQE stage boundary than the cluster-sums job itself.
        # Skipped after the LAST assignment: only `assign` is returned,
        # so materializing the final cluster sums would be a wasted job.
        if it < iterations - 1:
            state = state.localCheckpoint(eager=True)
    return assign.select(F.col(id_col), F.col("cid"))


def _sq_dist(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance between two slice arrays —
    exact when both carry integer-valued doubles."""
    diff = F.zip_with(a, b, lambda x, y: x - y)
    return F.aggregate(
        F.zip_with(diff, diff, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_parts(
    vectors: DataFrame,
    subspaces: int,
    sub_dim: int,
    k: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared PQ machinery: (sub, cent, best) where ``sub`` is the
    narrow (id, s, slice) explosion, ``cent`` the subspaces x k
    centroid table (slices of the k lowest-id vectors), and ``best``
    the per-(id, subspace) nearest-centroid assignment."""
    vi = F.transform(
        _to_double(F.col(vec_col)),
        lambda x: F.floor(x * 1_000_000 + F.lit(0.5)).cast("double"),
    )
    slices = F.array(
        *[
            F.slice(F.col("_vi"), s * sub_dim + 1, sub_dim)
            for s in range(subspaces)
        ]
    )
    sub = vectors.select(F.col(id_col), vi.alias("_vi")).select(
        F.col(id_col), F.posexplode(slices).alias("s", "sv")
    )
    cent = sub.where(F.col(id_col) < k).select(
        F.col(id_col).alias("cid"), "s", F.col("sv").alias("cv")
    )
    best = (
        sub.join(bounded_broadcast(cent, "k-row", "PQ codebook"), "s")
        .groupBy(id_col, "s")
        .agg(
            F.min(
                F.struct(
                    _sq_dist(F.col("sv"), F.col("cv")).alias("d"),
                    F.col("cid"),
                )
            ).alias("_m")
        )
        .select(F.col(id_col), F.col("s"), F.col("_m.cid").alias("cid"))
    )
    return sub, cent, best


def pq_codes(
    vectors: DataFrame,
    subspaces: int = 4,
    sub_dim: int = 16,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization: split each vector into ``subspaces``
    contiguous slices and assign every slice to its nearest of ``k``
    per-subspace centroids — the memory-compression path for ANN at
    corpus scale (64 floats -> ``subspaces`` small codes; distance
    tables then work on codes, not raw vectors).

    Centroids are the slices of the ``k`` lowest-id vectors
    (deterministic init, matching kmeans_assignments); micro-unit
    integer scaling keeps every distance an exact integer-valued
    double, so the argmin is order-independent and bit-equal to the
    SQL oracle. Single shuffle: subspace slices explode narrowly, the
    centroid table (subspaces x k rows) broadcasts, and argmin is
    min(struct(dist, cid)) in one groupBy."""
    _, _, best = _pq_parts(vectors, subspaces, sub_dim, k, id_col, vec_col)
    return best.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("s") == s, F.col("cid"))).alias(f"code_{s}")
            for s in range(subspaces)
        ]
    )


def pq_adc_topk(
    vectors: DataFrame,
    n_queries: int = 5,
    topk: int = 10,
    subspaces: int = 4,
    sub_dim: int = 16,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) approximate top-k: score every
    corpus vector against each query as the SUM over subspaces of the
    query-to-centroid distance for the vector's code — the lookup that
    makes PQ search O(corpus x subspaces) table additions instead of
    O(corpus x dim) float math.

    Scale: the distance table (queries x subspaces x k rows) and the
    code assignments join broadcast-side; the only corpus-sized
    shuffle is the per-(query, vector) sum — and every addend is an
    exact integer-valued double, so the ranking is order-independent
    and oracle-exact."""
    sub, cent, best = _pq_parts(
        vectors, subspaces, sub_dim, k, id_col, vec_col
    )
    q = sub.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), "s", F.col("sv").alias("qv")
    )
    dtable = q.join(bounded_broadcast(cent, "k-row", "PQ codebook"), "s").select(
        "query_id",
        "s",
        "cid",
        _sq_dist(F.col("qv"), F.col("cv")).alias("_dd"),
    )
    adc = (
        best.join(bounded_broadcast(dtable, "k-row", "ADC table"), ["s", "cid"])
        .where(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("_dd").alias("adist"))
    )
    w = W.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "adist", "rank")
    )


def cluster_verified_pairs(
    assign: DataFrame,
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
    max_cluster_rows: int = 100_000,
) -> DataFrame:
    """Within-cluster exact cosine pairs (i < j, cosine >= threshold)
    — the SemDeDup verification step, one vectorized numpy kernel per
    cluster instead of an interpreted HOF fold per pair.

    Bit-parity with the expression/oracle form: norms and pair scores
    accumulate via elementwise product + ``cumsum`` (strictly
    sequential additions), identical to the sequential fold the SQL
    oracle and `F.aggregate` twin use — same trick as
    :func:`near_duplicate_pairs_blocked`.

    Scale: clusters are packed into one row each (collect_list after a
    keyed shuffle), so the quadratic term is per-cluster and runs
    inside one task; the kernel fails fast if a cluster exceeds
    ``max_cluster_rows`` (pick k ~ corpus/target-cluster-size and
    check the cluster-size histogram first, exactly like the LSH
    fat-bucket pre-flight)."""
    import numpy as np
    import pandas as pd

    packed = (
        vectors.join(assign, id_col)
        .select(
            F.col(cid_col),
            F.struct(
                F.col(id_col).alias("id"), F.col(vec_col).alias("v")
            ).alias("_r"),
        )
        .groupBy(cid_col)
        .agg(F.collect_list("_r").alias("_rows"))
    )

    def op(batches):
        for batch in batches:
            out: dict[str, list] = {"i": [], "j": [], "cid": [], "cosine": []}
            for cid, rows in zip(batch[cid_col], batch["_rows"]):
                if len(rows) > max_cluster_rows:
                    raise ValueError(
                        f"cluster_verified_pairs: cluster {cid} holds "
                        f"{len(rows)} vectors > max_cluster_rows="
                        f"{max_cluster_rows}; raise k so clusters fit "
                        f"in task memory"
                    )
                if len(rows) < 2:
                    continue
                rows = sorted(rows, key=lambda r: r["id"])
                ids = np.array([r["id"] for r in rows], dtype=np.int64)
                V = np.array(
                    [np.asarray(r["v"], dtype=np.float64) for r in rows]
                )
                norms = np.sqrt((V * V).cumsum(axis=1)[:, -1])
                N = V / norms[:, None]
                iu, ju = np.triu_indices(len(rows), k=1)
                scores = (N[iu] * N[ju]).cumsum(axis=1)[:, -1]
                m = scores >= threshold
                out["i"].extend(ids[iu[m]].tolist())
                out["j"].extend(ids[ju[m]].tolist())
                out["cid"].extend([cid] * int(m.sum()))
                out["cosine"].extend(scores[m].tolist())
            yield pd.DataFrame(
                out, columns=["i", "j", "cid", "cosine"]
            )

    return packed.mapInPandas(
        op, "i long, j long, cid long, cosine double"
    )
