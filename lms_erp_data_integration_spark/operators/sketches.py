"""Distributed probabilistic sketches — HyperLogLog distinct-count,
Count-Min frequency, and Bloom-filter join pruning — the bounded-state
summaries a 100 TB engine uses where exact answers would shuffle the
whole input.

Everything here is built from Column expressions over an md5-derived
hash family that DuckDB reproduces exactly (same idiom as
``operators/dedup.py:token_hash64``), so every sketch query carries a
full SQL oracle and the driver's value-hash gate pins the sketch
CONTENTS, not just row counts. No UDFs, no collects: each sketch is a
groupBy whose key domain is the sketch's own bounded size (registers /
cells / bit positions), so the shuffle after map-side combine is
O(sketch x partitions) regardless of input volume — the property that
makes these the right tool at 100 TB.

Determinism note (why estimates are hash-stable across engines): all
per-register/per-cell state is kept in exact BIGINT form — ranks,
counts, and the HLL inverse-power sum as ``sum(1 << (53 - rank))`` —
and the only floating-point step is one final literal-folded
expression per row. Sum ORDER therefore never reaches a double, which
is what makes the result independent of partitioning (a naive
``SUM(pow(2, -rank))`` would round differently per execution plan once
the exponent span exceeds the 53-bit mantissa).

Reference parity: the reference pipeline has no sketch layer (its
corpus fits pandas, `src/canvas.py` handles ~1e5 rows); this module is
part of the scale surface the engine adds on top of the reference's
semantics, like `operators/dedup.py` and `operators/similarity.py`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..hints import bounded_broadcast

# 60-bit hash: 15 hex chars of md5 -> non-negative BIGINT, exactly
# reproducible in DuckDB as ('0x' || substr(md5(x), 1, 15))::BIGINT.
HASH60_BITS = 60


def hash60(col: Column) -> Column:
    """Non-negative 60-bit md5 hash (DuckDB-reproducible)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------- HLL

HLL_P = 8  # 2^8 = 256 registers
HLL_M = 1 << HLL_P
# value bits after the register index is peeled off the 60-bit hash
_HLL_VBITS = HASH60_BITS - HLL_P  # 52


def hll_registers(
    df: DataFrame, value: Column, *group_cols: str, collapse: bool = True
) -> DataFrame:
    """Per-group HyperLogLog registers (Flajolet et al. 2007): one row
    per (group, register index) holding the max leading-rank observed.

    rank = (VBITS + 1) - bitlength(v) for the 52-bit value v (53 when
    v = 0), i.e. the 1-based position of the leftmost 1-bit counted
    from the top of the value word. ``length(bin(v))`` is the exact
    integer bit length (no float log2, whose boundary rounding would
    diverge between engines).

    Scale: duplicates never matter (max is idempotent), and the
    groupBy key domain is |groups| x 256, map-side combined, so the
    register shuffle is bounded by the sketch size — the whole point
    of HLL at 100 TB. With ``collapse=True`` (default) the input is
    first collapsed to distinct (group, value) — map-side combine
    absorbs duplicates before the exchange — so the md5 runs once per
    DISTINCT value, not once per occurrence (A/B at sf0.1: 0.75 ->
    0.47 s). Streaming callers must pass ``collapse=False``: the
    collapse would stack a second stateful aggregation, which
    Structured Streaming rejects; they pay the per-occurrence hash
    instead (still a stateless projection).
    """
    if collapse:
        df = df.select(*[F.col(c) for c in group_cols], value.alias("_v"))
        df = df.groupBy(*group_cols, "_v").agg(F.lit(1).alias("_one"))
        value = F.col("_v")
    # idx from the low p bits, v from the remaining 52 (integer div —
    # float division would lose bits above 2^53)
    base = df.select(
        *[F.col(c) for c in group_cols],
        hash60(value).alias("_h"),
    ).select(
        *[F.col(c) for c in group_cols],
        (F.col("_h") % HLL_M).alias("reg_idx"),
        F.expr(f"_h div {HLL_M}").alias("v"),
    )
    rank = F.when(F.col("v") == 0, F.lit(_HLL_VBITS + 1)).otherwise(
        F.lit(_HLL_VBITS + 1) - F.length(F.bin(F.col("v")))
    )
    return (
        base.withColumn("rank", rank.cast("long"))
        .groupBy(*group_cols, "reg_idx")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_estimate_row(regs: DataFrame, *group_cols: str) -> DataFrame:
    """Fold registers into one row per group: nonzero-register count,
    zero-register count, an exact integer checksum of the register
    array (pins the full sketch under the driver's value hash), the
    exact integer inverse-power sum S = sum over all 256 registers of
    2^(53 - rank)  (absent register -> rank 0 -> 2^53), and the
    standard bias-corrected raw estimate

        E = alpha_m * m^2 / sum(2^-rank) = alpha_m * m^2 * 2^53 / S.

    S <= 256 * 2^53 = 2^61 fits BIGINT exactly, so the sum is
    order-independent; the one double division at the end is IEEE-
    deterministic given identical operands. Small-range (linear
    counting) correction is intentionally NOT applied here — the
    zero-register count is returned so a consumer can apply it; the
    raw estimate keeps the query engine-deterministic (ln() may differ
    in the last ulp between JVM and libm).
    """
    per_reg = regs.select(
        *[F.col(c) for c in group_cols],
        F.col("reg_idx"),
        # pyspark's shiftleft() only takes a literal shift amount, so
        # the per-row shift goes through the SQL form
        F.expr(
            f"shiftleft(1L, cast({_HLL_VBITS + 1} - max_rank as int))"
        ).alias("inv_pow"),
        ((F.col("reg_idx") + 1) * F.col("max_rank")).alias("chk"),
    )
    grouped = per_reg.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_nonzero"),
        F.sum("inv_pow").alias("s_present"),
        F.sum("chk").alias("register_checksum"),
    )
    zeros = F.lit(HLL_M) - F.col("n_nonzero")
    s_total = (
        F.col("s_present")
        + zeros * F.lit(1 << (_HLL_VBITS + 1)).cast("long")
    )
    # alpha_256 * 256^2 * 2^53 / S, written as one literal-folded
    # expression (the SQL oracle repeats it verbatim)
    est = (
        F.lit(0.7213)
        / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
        * F.lit(65536.0)
        * F.lit(9007199254740992.0)
        / s_total.cast("double")
    )
    return grouped.select(
        *[F.col(c) for c in group_cols],
        F.col("n_nonzero").cast("long").alias("n_nonzero"),
        zeros.cast("long").alias("n_zero"),
        F.col("register_checksum").cast("long").alias(
            "register_checksum"
        ),
        s_total.cast("long").alias("inv_power_sum"),
        est.alias("hll_estimate"),
    )


# ---------------------------------------------------------- Count-Min

CMS_D = 4  # hash rows
CMS_W = 1024  # cells per row


def cms_cells(
    df: DataFrame, value: Column, *, collapse: bool = True
) -> DataFrame:
    """Count-Min sketch build (Cormode & Muthukrishnan 2005): one row
    per (hash row r, cell) with the summed occurrence count.

    Two-level build (``collapse=True``, default): the input stream is
    first collapsed to (value, count) — a vocabulary-sized aggregate
    with map-side combine — and only the DISTINCT values are
    salted-md5-hashed d ways. Hash work is therefore O(vocabulary x
    d), not O(occurrences x d): on a Zipf token stream that is a ~20x
    cut in md5 evaluations, and at 100 TB it is the difference between
    hashing the corpus four times and hashing the vocabulary four
    times. The final groupBy's key domain is d x w = 4096, so the
    second shuffle is sketch-sized regardless of input.

    Streaming callers pass ``collapse=False`` (the vocabulary collapse
    would stack a second stateful aggregation, which Structured
    Streaming rejects) and get the single-aggregation build: explode
    occurrences d ways, hash each, count per (r, cell) — identical
    cell values, per-occurrence hash cost."""
    if collapse:
        vocab = (
            df.select(value.alias("val"))
            .groupBy("val")
            .agg(F.count(F.lit(1)).alias("occ"))
        )
    else:
        vocab = df.select(value.alias("val"), F.lit(1).alias("occ"))
    rows = vocab.select(
        F.explode(
            F.array(*[F.lit(r) for r in range(CMS_D)])
        ).alias("r"),
        F.col("val"),
        F.col("occ"),
    )
    cell = (
        hash60(
            F.concat(
                F.col("r").cast("string"), F.lit(":"), F.col("val")
            )
        )
        % CMS_W
    )
    return (
        rows.select("r", cell.alias("cell"), "occ")
        .groupBy("r", "cell")
        .agg(F.sum("occ").cast("long").alias("cnt"))
    )


def cms_probe(cells: DataFrame, probes: DataFrame, value_col: str) -> DataFrame:
    """Point-query the sketch for each probe value: est = min over the
    d rows of that value's cell count (0 if any cell is empty). The
    probe side re-derives the d cells and left-joins the 4096-cell
    sketch — AQE broadcasts it. Count-Min guarantees est >= true
    count; the caller pairs this with the exact count to expose the
    overestimate."""
    probe_cells = probes.select(
        F.col(value_col),
        F.explode(
            F.array(*[F.lit(r) for r in range(CMS_D)])
        ).alias("r"),
    ).select(
        F.col(value_col),
        F.col("r"),
        (
            hash60(
                F.concat(
                    F.col("r").cast("string"),
                    F.lit(":"),
                    F.col(value_col),
                )
            )
            % CMS_W
        ).alias("cell"),
    )
    joined = probe_cells.join(cells, ["r", "cell"], "left").select(
        F.col(value_col),
        F.coalesce(F.col("cnt"), F.lit(0)).alias("row_est"),
    )
    return joined.groupBy(value_col).agg(
        F.min("row_est").cast("long").alias("cms_estimate")
    )


# -------------------------------------------------------------- Bloom

BLOOM_K = 3
BLOOM_M = 1 << 14  # 16384 bit positions


def bloom_positions(df: DataFrame, key: Column, out: str) -> DataFrame:
    """The k salted bit positions for each key — shared by build
    (distinct positions of the dimension side = the filter) and probe
    (a fact key passes iff ALL k of its positions are set)."""
    rows = df.select(key.cast("string").alias("k")).select(
        F.col("k"),
        F.explode(
            F.array(*[F.lit(j) for j in range(BLOOM_K)])
        ).alias("j"),
    )
    pos = (
        hash60(F.concat(F.col("j").cast("string"), F.lit("#"), F.col("k")))
        % BLOOM_M
    )
    return rows.select(F.col("k").alias(out), pos.alias("pos"))


# ------------------------------------------------------------ KMV / Theta

KMV_K = 256
# the hash universe size as an EXACT double (2^60 — 8-bit mantissa
# after the shift, so the literal, its product with small ints, and
# the single final division are bit-identical across engines)
KMV_U = float(1 << HASH60_BITS)


def kmv_sketch(
    df: DataFrame, value: Column, *group_cols: str, prune: bool = True
) -> DataFrame:
    """Per-group KMV / Theta sketch (Bar-Yossef et al. 2002; Dasgupta
    et al. "Theta sketch framework"): the ``KMV_K`` smallest distinct
    60-bit hashes of the group's values, as one row per
    (group, rank) — ``(*group_cols, h, r)`` with ``r`` 1-based.

    The kth smallest hash theta estimates distinct cardinality as
    ``(k-1) * 2^60 / theta``, and because two sketches of the SAME
    hash family are coordinated samples, set operations (union /
    intersection / Jaccard) fall out of comparing retained hashes
    below a common theta — the property the set-ops query uses.

    Scale posture: collapse-first (distinct values before hashing —
    the CMS/HLL lesson, map-side combined), then, when ``prune``,
    a hash-threshold pre-filter derived from Spark's built-in
    ``approx_count_distinct`` with a 32x safety margin: only hashes
    below ``32 * k * 2^60 / est`` reach the rank window, so the
    final per-group sort sees O(k) candidates instead of every
    distinct value. P(the true kth min exceeds the margin) is a
    Chernoff tail at 32x the mean — negligible at any n, and the
    pruned and unpruned paths are asserted equal in tests. The
    window itself therefore shuffles sketch-sized data only.
    """
    from pyspark.sql import Window

    # one distinct pass on the HASH (not the value): distinct values
    # and colliding hashes collapse together, per KMV, in one
    # map-side-combined shuffle
    d = df.select(
        *group_cols, hash60(value.cast("string")).alias("h")
    ).distinct()
    if prune:
        est = d.groupBy(*group_cols).agg(
            F.approx_count_distinct("h").alias("_est")
        )
        bound = F.when(
            F.col("_est") <= F.lit(32 * KMV_K), F.lit((1 << HASH60_BITS) - 1)
        ).otherwise(
            (F.lit(32 * KMV_K * KMV_U) / F.col("_est")).cast("long")
        )
        d = d.join(
            bounded_broadcast(
                est.select(*group_cols, bound.alias("_b")),
                "sketch-sized",
                "per-group k-th minimum bound",
            ),
            list(group_cols),
        )
        d = d.where(F.col("h") <= F.col("_b")).select(*group_cols, "h")
    w = Window.partitionBy(*group_cols).orderBy("h")
    return d.select(
        *group_cols, "h", F.row_number().over(w).alias("r")
    ).where(F.col("r") <= KMV_K)


def kmv_theta(sketch: DataFrame, *group_cols: str) -> DataFrame:
    """Per-group (cnt, theta): theta = kth smallest hash when the
    sketch is full, else 2^60 ("every hash retained" — the sketch IS
    the exact distinct set and estimates are exact counts)."""
    return sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.when(F.count(F.lit(1)) < KMV_K, F.lit(1 << HASH60_BITS))
        .otherwise(F.max("h"))
        .alias("theta"),
    )


SAMPLE_K = 256


def bottomk_sample(
    df: DataFrame, key: Column, *group_cols: str, k: int = SAMPLE_K,
    prune: bool = True
) -> DataFrame:
    """Per-group bottom-k ROW sample by hash rank: the ``k`` rows whose
    60-bit hash of a UNIQUE ``key`` is smallest (ties broken by the
    key itself), carrying every input column along — ``df.* + (h, r)``
    with ``r`` 1-based.

    This is the coordinated uniform sample behind mergeable quantile /
    order-statistic estimation: because membership is a pure function
    of the key's hash, the union of two groups' samples re-trimmed to
    bottom-k IS the sample of the union (any global bottom-k row is in
    its own group's bottom-k) — so 1000 executors sample independently
    and a coordinator merges without re-scanning, the same algebra the
    KMV/theta sketch uses for distinct sets, applied to whole rows.

    Scale posture: one exact per-group count (map-side combined,
    group-domain-sized shuffle) sets a 32x-margin hash threshold
    ``32k * 2^60 / n`` so only ~32k candidate rows per group reach the
    rank window — the window sort is sketch-sized, never data-sized.
    P(true kth-smallest hash exceeds the margin) is a Chernoff tail at
    32x the mean; the pruned and unpruned paths are asserted equal in
    tests (the ``kmv_sketch`` pattern).
    """
    from pyspark.sql import Window

    d = df.withColumn("h", hash60(key.cast("string")))
    if prune:
        n = d.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("_n"))
        bound = F.when(
            F.col("_n") <= F.lit(32 * k), F.lit((1 << HASH60_BITS) - 1)
        ).otherwise((F.lit(32 * k * KMV_U) / F.col("_n")).cast("long"))
        d = d.join(
            bounded_broadcast(
                n.select(*group_cols, bound.alias("_b")),
                "sketch-sized",
                "per-group k-th hash bound",
            ),
            list(group_cols),
        )
        d = d.where(F.col("h") <= F.col("_b")).drop("_b")
    w = Window.partitionBy(*group_cols).orderBy("h", key)
    return d.withColumn("r", F.row_number().over(w)).where(
        F.col("r") <= k
    )


def sample_quantiles(
    rows: DataFrame,
    value_col: str,
    key: Column,
    percents: list[int],
    *group_cols: str,
    prefix: str = "est",
) -> DataFrame:
    """Per-group lower order statistics at integer ``percents``: the
    element at 1-based rank ``(p * (n-1)) div 100 + 1`` when the group
    is ordered by ``(value, key)``. All-integer rank arithmetic (no
    float indexing) and values copied verbatim from the input — both
    properties the cross-engine value-hash gate needs. Returns one row
    per group: ``(*group_cols, {prefix}_n, {prefix}_p{p}...)``."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(F.col(value_col), key)
    wn = Window.partitionBy(*group_cols)
    r = rows.select(
        *group_cols,
        value_col,
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    aggs = [F.max("_n").cast("long").alias(f"{prefix}_n")]
    for p in percents:
        rank = F.expr(f"(({p} * (_n - 1)) div 100) + 1")
        aggs.append(
            F.max(
                F.when(F.col("_rn") == rank, F.col(value_col))
            ).alias(f"{prefix}_p{p}")
        )
    return r.groupBy(*group_cols).agg(*aggs)
