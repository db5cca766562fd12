"""Deduplication operators for LLM-data pipelines (SURVEY.md M7):
exact, MinHash+LSH, SimHash, and exact n-gram Jaccard.

Scale design (the 100 TB story):

- *exact*: one hash-groupBy over ``md5(text)`` — a single shuffle on a
  short key; map-side partial aggregation collapses copies early.
- *MinHash+LSH*: per-doc signatures are a narrow map; banding turns the
  quadratic all-pairs problem into an equi-join on (band, band-key) —
  only docs sharing a band collide, so the shuffle is proportional to
  candidate pairs, not n^2. Exact-Jaccard verification then runs only
  on candidates.
- *SimHash*: 60-bit signatures via md5, then candidate pairing by exact
  signature-prefix blocks (or, small-n, all-pairs) + Hamming filter.
- *n-gram Jaccard*: exact baseline — the inverted-index join
  (shingle -> docs) with a hot-shingle guard; quadratic only within a
  shingle's posting list. Used as ground truth for the LSH paths.

Hash family: ``h_i(s) = int64(md5(i || ':' || s)[:15])`` — deterministic
and exactly reproducible in DuckDB (``('0x' || substr(md5(...), 1, 15))
::BIGINT``), so the oracles replicate the *entire* pipeline including
LSH's own false negatives; correctness checks are bit-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import tracked_persist
from ..hints import bounded_broadcast
from .text import shingle_array


def _md5_int(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint (15 hex chars)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _md5_int28(col: Column) -> Column:
    """First 28 bits of md5 (7 hex chars) — small enough that an affine
    rehash a*h+b stays inside 64-bit before the modulus."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


# Affine MinHash family over the 28-bit md5 base hash:
# h_i(s) = (A[i] * base(s) + B[i]) mod MH_MOD.  A[i]*base < 2^31 * 2^28
# = 2^59: no 64-bit overflow. Constants derived from the FNV primes;
# shared with the DuckDB oracle generator.
MH_MOD = 2_147_483_647


def mh_params(num_hashes: int) -> tuple[list[int], list[int]]:
    a = [(16_777_619 * (i + 1)) % MH_MOD for i in range(num_hashes)]
    b = [(2_166_136_261 * (i + 1)) % MH_MOD for i in range(num_hashes)]
    return a, b


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact-duplicate groups: (text_hash, keeper_id, n_copies>1).
    Keeper = min id (deterministic survivor policy)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(F.col(id_col)).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sets_col: str | None = None,
    persist: bool = True,
    carry_sets: bool = False,
    fused: bool = False,
) -> DataFrame:
    """(id, sigs: array<long>[num_hashes]) — minhash signature per doc.

    Entirely NARROW: the distinct shingle array and its base md5 hashes
    are materialized per row, then each signature slot is an array_min
    fold of an affine rehash — one md5 per shingle, zero shuffles.
    (The classic explode(seed) + groupBy(min) formulation shuffles
    num_hashes x shingle-count rows; this computes the same values in
    a single codegen'd projection.)

    Pass ``sets_col`` to reuse a precomputed (ideally cached) distinct
    shingle-array column instead of shingling ``text_col``;
    ``carry_sets`` passes that column through to the output (for
    streaming callers that cannot re-join it without a stream-stream
    join)."""
    if carry_sets and not sets_col:
        raise ValueError(
            "carry_sets=True requires sets_col: there is no shingle-set "
            "column to carry when shingling from text_col (the computed "
            "set is internal to the projection)"
        )
    a, b = mh_params(num_hashes)
    shset = (
        F.col(sets_col)
        if sets_col
        else F.array_distinct(shingle_array(F.col(text_col), shingle_n))
    )
    # persist: CollapseProject would otherwise inline _hs into every
    # signature slot and recompute shingling+md5 16x per row.
    # ``persist=False`` for STREAMING inputs (persist is illegal on a
    # streaming DataFrame): the 16x md5 recompute is the documented
    # price of the stateless per-row path there.
    carried = [F.col(sets_col)] if carry_sets and sets_col else []
    hashed = df.select(
        F.col(id_col),
        *carried,
        F.transform(shset, lambda s: _md5_int28(s)).alias("_hs"),
    )
    if persist:
        hashed = tracked_persist(hashed)
    def slot(i: int):
        # closure factory: a defaulted second lambda param would make
        # PySpark pass the array index into it
        return F.array_min(
            F.transform(F.col("_hs"), lambda h: (F.lit(a[i]) * h + F.lit(b[i])) % MH_MOD)
        )

    if fused:
        # ONE single-pass aggregate expression instead of num_hashes
        # separate slot subtrees: fold over the base-hash array once,
        # zip_with-updating an array of running minima, with the
        # affine parameters as array literals. Identical arithmetic ->
        # identical values (pinned by test_minhash_fused_equals_slots).
        # Two wins on the streaming paths where ``persist=False``
        # forces CollapseProject to inline ``_hs``: the md5 base hash
        # evaluates ONCE per shingle (the per-slot form inlines and
        # re-evaluates it num_hashes times per shingle), and the
        # expression tree is constant-size, which is what
        # per-micro-batch Catalyst analysis + codegen pay (the
        # measured stream_dedup_lifecycle floor).
        arr_a = F.array(*[F.lit(x).cast("long") for x in a])
        arr_b = F.array(*[F.lit(x).cast("long") for x in b])
        idxs = F.sequence(F.lit(1), F.lit(num_hashes))
        sigs = F.aggregate(
            F.col("_hs"),
            F.array(*[F.lit(MH_MOD).cast("long")] * num_hashes),
            lambda acc, h: F.zip_with(
                acc,
                F.transform(
                    idxs,
                    lambda i: (
                        F.element_at(arr_a, i.cast("int")) * h
                        + F.element_at(arr_b, i.cast("int"))
                    ) % MH_MOD,
                ),
                lambda x, y: F.least(x, y),
            ),
        )
    else:
        sigs = F.array(*[slot(i) for i in range(num_hashes)])
    return hashed.where(F.size("_hs") > 0).select(
        F.col(id_col), *carried, sigs.alias("sigs")
    )


def _band_keys(bands: int, rows_per_band: int) -> Column:
    """Array of per-band composite keys over the ``sigs`` column."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda k: F.concat_ws(
            ",",
            *[
                F.element_at(
                    F.col("sigs"), (k * rows_per_band + r + 1).cast("int")
                ).cast("string")
                for r in range(rows_per_band)
            ],
        ),
    )


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int, rows_per_band: int, id_col: str = "doc_id"
) -> DataFrame:
    """Band the signature arrays and emit distinct candidate (i, j)
    pairs (i < j) that agree on at least one full band. The only
    shuffle in the LSH path: an equi-join on (band, band_key), sized by
    collisions rather than n^2."""
    banded = signatures.select(
        F.col(id_col),
        F.posexplode(_band_keys(bands, rows_per_band)).alias("band", "band_key"),
    )
    left = banded.select(F.col(id_col).alias("i"), "band", "band_key")
    right = banded.select(F.col(id_col).alias("j"), "band", "band_key")
    return (
        left.join(right, ["band", "band_key"])
        .where(F.col("i") < F.col("j"))
        .select("i", "j")
        .distinct()
    )


def jaccard_on_pairs(
    shingled: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard for the given (i, j) pairs via shingle-set joins."""
    sizes = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    si = shingled.select(F.col(id_col).alias("i"), "shingle")
    sj = shingled.select(F.col(id_col).alias("j"), "shingle")
    inter = (
        pairs.join(si, "i")
        .join(sj, ["j", "shingle"])
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("i"), F.col("n").alias("ni")), "i")
        .join(sizes.select(F.col(id_col).alias("j"), F.col("n").alias("nj")), "j")
        .select(
            "i",
            "j",
            (
                F.col("inter") / (F.col("ni") + F.col("nj") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def minhash_near_duplicates(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sets: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact-Jaccard verification.

    b=8, r=2: P(candidate | J=0.9) ~ 1 - (1-0.81)^8 > 0.99999;
    false positives are removed by the verify join.
    """
    rows_per_band = num_hashes // bands
    # one cached pass builds the per-doc shingle SET arrays; signatures
    # and the verify join both read it (cache prevents CollapseProject
    # from re-inlining the shingling into every consumer). Callers
    # sharing the arrays across several dedup passes pass `sets`;
    # callers sharing the SIGNATURES too (compaction's three passes)
    # pass `sigs` as well — a persisted (id, sigs) frame.
    if sets is None:
        sets = tracked_persist(
            df.select(
                F.col(id_col),
                F.array_distinct(
                    shingle_array(F.col(text_col), shingle_n)
                ).alias("shset"),
            )
        )
    if sigs is None:
        sigs = minhash_signatures(
            sets, num_hashes, id_col=id_col, sets_col="shset"
        )
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band, id_col)
    # exact-Jaccard verify on candidates only, via array_intersect on
    # the cached set arrays — no exploded-shingle shuffle at all
    si = sets.select(F.col(id_col).alias("i"), F.col("shset").alias("_sh_i"))
    sj = sets.select(F.col(id_col).alias("j"), F.col("shset").alias("_sh_j"))
    inter = F.size(F.array_intersect(F.col("_sh_i"), F.col("_sh_j")))
    union = F.size("_sh_i") + F.size("_sh_j") - inter
    return (
        cands.join(si, "i")
        .join(sj, "j")
        .select("i", "j", (inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def incremental_minhash_duplicates(
    index_df: DataFrame,
    batch_df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    index_sets: DataFrame | None = None,
    batch_sets: DataFrame | None = None,
    index_sigs: DataFrame | None = None,
    batch_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental-ingest dedup: near-dup pairs between a NEW batch and
    an existing INDEX, never within either side.

    This is the steady-state shape of corpus dedup at 100 TB: the
    index signatures are computed once (in production: persisted as a
    bucketed table keyed by (band, band_key)); each arriving batch
    costs only its own signatures plus a band equi-join sized by
    collisions — re-deduping the whole corpus per ingest would be a
    full O(corpus) rescan every day. Returns (new_id, index_id,
    jaccard >= threshold)."""
    rows_per_band = num_hashes // bands

    def _sets(d: DataFrame) -> DataFrame:
        return tracked_persist(
            d.select(
                F.col(id_col),
                F.array_distinct(
                    shingle_array(F.col(text_col), shingle_n)
                ).alias("shset"),
            )
        )

    # callers running SEVERAL incremental passes over the same side
    # (e.g. compaction's full-vs-compacted verification) pass the
    # persisted (id, shset) frame directly so shingling+md5 runs once
    sets_idx = index_sets if index_sets is not None else _sets(index_df)
    sets_new = batch_sets if batch_sets is not None else _sets(batch_df)
    # likewise, passes repeating a side's SIGNATURES share the
    # persisted (id, sigs) frame (the 16 affine folds + their md5
    # base-hash cache run once per side, not once per pass)
    sig_idx = (
        index_sigs
        if index_sigs is not None
        else minhash_signatures(
            sets_idx, num_hashes, id_col=id_col, sets_col="shset"
        )
    )
    sig_new = (
        batch_sigs
        if batch_sigs is not None
        else minhash_signatures(
            sets_new, num_hashes, id_col=id_col, sets_col="shset"
        )
    )
    bk = _band_keys(bands, rows_per_band)
    bi = sig_idx.select(
        F.col(id_col).alias("index_id"), F.posexplode(bk).alias("band", "band_key")
    )
    bn = sig_new.select(
        F.col(id_col).alias("new_id"), F.posexplode(bk).alias("band", "band_key")
    )
    cands = (
        bi.join(bn, ["band", "band_key"]).select("index_id", "new_id").distinct()
    )
    si = sets_idx.select(
        F.col(id_col).alias("index_id"), F.col("shset").alias("_sh_i")
    )
    sn = sets_new.select(
        F.col(id_col).alias("new_id"), F.col("shset").alias("_sh_j")
    )
    inter = F.size(F.array_intersect(F.col("_sh_i"), F.col("_sh_j")))
    union = F.size("_sh_i") + F.size("_sh_j") - inter
    return (
        cands.join(si, "index_id")
        .join(sn, "new_id")
        .select("new_id", "index_id", (inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def compact_dedup_index(
    index_df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-run dedup-index STATE COMPACTION: collapse the index's
    own near-dup clusters to their keeper (min-id) representatives
    and drop every other member, returning the compacted index (same
    schema as ``index_df``).

    Why this is safe for future ingests: a dropped member sits in a
    near-dup cluster with its keeper, so a future batch doc that
    near-matches the member is (to LSH recall) also caught by the
    keeper's postings — while every posting list shrinks by the
    index's internal duplication rate. At 100 TB this is the
    periodic maintenance job that keeps the persisted (band,
    band_key) index from growing with corpus duplication instead of
    corpus novelty: run it at compaction cadence, not per ingest.
    The pipeline is cluster-bounded throughout — LSH candidates, one
    connected-components pass (log-bounded label propagation), one
    anti join; no all-pairs term anywhere."""
    pairs = minhash_near_duplicates(
        index_df, threshold, num_hashes, bands, shingle_n, id_col, text_col
    )
    clusters = duplicate_clusters(pairs)
    dropped = clusters.where(
        F.col("member") != F.col("cluster_id")
    ).select(F.col("member").alias(id_col))
    return index_df.join(dropped, id_col, "left_anti")


# Posting-list cap for the exact n-gram-Jaccard join: shingles present
# in more docs than this are excluded from CANDIDATE GENERATION (never
# from the Jaccard value itself). Shared with the DuckDB oracles.
NGRAM_MAX_DOC_FREQ = 100


def _shingle_pair_stats(
    df: DataFrame,
    shingle_n: int,
    id_col: str,
    text_col: str,
    max_doc_freq: int,
) -> DataFrame:
    """Shared exact-overlap machinery for the set-similarity family:
    candidate pairs from an inverted index over cold shingles, with
    exact intersection and set sizes — (i, j, _in, ni, nj).
    :func:`ngram_jaccard_duplicates` and
    :func:`ngram_containment_duplicates` differ only in the measure
    they derive from these counts.

    Hot-shingle guard: a shingle whose posting list exceeds
    ``max_doc_freq`` docs is dropped before the self-join, bounding the
    join at O(n_shingles x max_doc_freq) pairs — without it one
    stopword shingle at web scale is a quadratic blowup. The
    intersection is then corrected to count the FULL shingle sets, so
    the guard only limits candidate recall: a missed pair must share
    *only* hot shingles. The DuckDB oracles replicate the guard, so
    results stay bit-exact."""
    sets = tracked_persist(
        df.select(
            F.col(id_col),
            F.array_distinct(shingle_array(F.col(text_col), shingle_n)).alias(
                "_shset"
            ),
        )
    )
    shingled = sets.select(F.col(id_col), F.explode("_shset").alias("shingle"))
    # hot shingles: usually tiny (df > cap), but the set is
    # CORPUS-DEPENDENT — a replicated/boilerplate-heavy corpus can
    # push millions of shingles over the cap, and a mandatory
    # broadcast hint would collect that unbounded side to the driver
    # (measured: the 100x sf10 probe drop blew
    # spark.driver.maxResultSize through exactly this hint). No hint:
    # AQE still picks the broadcast anti-join from observed sizes
    # whenever the hot set is genuinely small.
    hot = (
        shingled.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > max_doc_freq)
        .select("shingle")
    )
    posting = shingled.join(hot, "shingle", "left_anti")
    # cold-shingle intersection counts via grouped posting lists: one
    # shuffle on shingle, then ordered pairs are generated INSIDE each
    # (cap-bounded, <= max_doc_freq elements) list with two Generate
    # operators — posexplode the sorted list, then explode the
    # after-position slice. No exploded self-join, no join build side,
    # no interpreted HOF lambdas (2x faster than a nested-transform
    # expression at sf0.1). Per-list expansion is at most
    # C(max_doc_freq, 2) pairs. collect_list is safe here BECAUSE it
    # runs on the hot-filtered posting — an uncapped degenerate
    # shingle would be one giant array on a single executor.
    posting_lists = posting.groupBy("shingle").agg(
        F.array_sort(F.collect_list(F.col(id_col))).alias("ds")
    )
    exploded = posting_lists.where(F.size("ds") >= 2).select(
        "ds", F.posexplode("ds").alias("pos", "i")
    )
    inter_cold = (
        exploded.select(
            "i",
            F.explode(
                F.slice(
                    F.col("ds"),
                    F.col("pos") + 2,
                    F.greatest(F.size("ds") - F.col("pos") - 1, F.lit(0)),
                )
            ).alias("j"),
        )
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("_ic"))
    )
    # hot-shingle correction: Jaccard must count the FULL intersection,
    # so add back shared hot shingles — but only for the (small) set of
    # surviving candidate pairs, never via a hot-shingle self-join
    hot_post = shingled.join(hot, "shingle", "left_semi")
    inter_hot = (
        inter_cold.select("i", "j")
        .join(hot_post.select(F.col(id_col).alias("i"), "shingle"), "i")
        .join(
            hot_post.select(F.col(id_col).alias("j"), "shingle"),
            ["j", "shingle"],
        )
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("_ih"))
    )
    sizes = sets.select(F.col(id_col), F.size("_shset").alias("n"))
    inter = (
        inter_cold.join(inter_hot, ["i", "j"], "left")
        .select(
            "i",
            "j",
            (F.col("_ic") + F.coalesce(F.col("_ih"), F.lit(0))).alias("_in"),
        )
    )
    return inter.join(
        sizes.select(F.col(id_col).alias("i"), F.col("n").alias("ni")), "i"
    ).join(
        sizes.select(F.col(id_col).alias("j"), F.col("n").alias("nj")), "j"
    )


def ngram_jaccard_duplicates(
    df: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = NGRAM_MAX_DOC_FREQ,
) -> DataFrame:
    """Exact n-gram Jaccard via inverted-index self-join — the
    ground-truth baseline for the LSH path (machinery and hot-shingle
    guard in :func:`_shingle_pair_stats`)."""
    stats = _shingle_pair_stats(df, shingle_n, id_col, text_col, max_doc_freq)
    return stats.select(
        "i",
        "j",
        (F.col("_in") / (F.col("ni") + F.col("nj") - F.col("_in"))).alias(
            "jaccard"
        ),
    ).where(F.col("jaccard") >= threshold)


def ngram_containment_duplicates(
    df: DataFrame,
    threshold: float = 0.9,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = NGRAM_MAX_DOC_FREQ,
) -> DataFrame:
    """Asymmetric near-dup detection by shingle CONTAINMENT,
    max(|A∩B|/|A|, |A∩B|/|B|) = |A∩B|/min(|A|,|B|): catches a document
    embedded inside a larger one (quotation, concatenated crawl dumps,
    boilerplate wrapping), which Jaccard misses because the size
    mismatch dilutes the union. The standard complement to Jaccard in
    web-corpus dedup (Broder's containment measure).

    Same inverted-index machinery, candidates and cost bounds as the
    Jaccard form (:func:`_shingle_pair_stats`); only the measure
    differs. Output: (i, j, containment, jaccard) at containment >=
    ``threshold`` — Jaccard included so a consumer can see *why* the
    pair was invisible to the symmetric measure."""
    stats = _shingle_pair_stats(df, shingle_n, id_col, text_col, max_doc_freq)
    return stats.select(
        "i",
        "j",
        (F.col("_in") / F.least("ni", "nj")).alias("containment"),
        (F.col("_in") / (F.col("ni") + F.col("nj") - F.col("_in"))).alias(
            "jaccard"
        ),
    ).where(F.col("containment") >= threshold)


def duplicate_clusters(
    pairs: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Connected components over near-dup pairs -> (member, cluster_id)
    with cluster_id = min doc id in the component (the keeper).

    Iterative min-label propagation: each round joins every node's
    label with its neighbors' labels and keeps the min; converges in
    O(diameter) rounds (dedup clusters are shallow). This is the
    canonical iterative-algorithm shape Spark handles with a driver
    loop over lazy joins — checkpoint-friendly at scale (each round is
    one shuffle on the edge key).
    """
    # both edge directions from ONE pass over `pairs` (explode, not a
    # self-union: each union branch would re-execute the whole upstream
    # pair pipeline — measured 2x the dominant cost for LSH/Jaccard
    # inputs)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("i").alias("src"), F.col("j").alias("dst")),
                    F.struct(F.col("j").alias("src"), F.col("i").alias("dst")),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
        .localCheckpoint()
    )
    # localCheckpoint (eager) each round: FULLY materializes the round
    # and truncates lineage. A lazy persist + partial action (limit/
    # take) leaves the cache incomplete, so every later round recomputes
    # the whole chain — exponential blowup on deep graphs.
    # round-0 folded into initialization: every node starts at
    # min(self, min neighbor) from ONE aggregation over edges — no
    # join, one shuffle (edges are symmetric, so every node appears
    # as src). Saves a full propagate round.
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("_mn"))
        .select("node", F.least(F.col("node"), F.col("_mn")).alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
            ).alias("label"),
            F.col("label").alias("_prev"),
        )
        # pointer jumping: follow label -> label(label), halving path
        # lengths each round => O(log diameter) convergence instead of
        # O(diameter)
        lookup = stepped.select(
            F.col("node").alias("label"), F.col("label").alias("_ll")
        )
        new_full = (
            stepped.join(lookup, "label", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))).alias(
                    "label"
                ),
                "_prev",
            )
            .localCheckpoint()
        )
        # convergence check rides the just-checkpointed frame (the
        # previous round's label travels in `_prev`) — no extra join
        changed = new_full.where(F.col("label") != F.col("_prev")).count()
        labels = new_full.select("node", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iterations} rounds"
        )
    return labels.select(F.col("node").alias("member"), F.col("label").alias("cluster_id"))


def simhash_signatures(
    df: DataFrame, bits: int = 32, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """SimHash over whitespace tokens: for each bit, sum +1/-1 votes of
    each token's md5-derived bit; the sign forms the signature bit.
    Token multiplicity counts (a repeated token votes repeatedly).

    Tokens are hashed ONCE into an array column; the per-bit votes then
    fold over that array — one md5 per token, not per (token, bit)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    hashed = df.select(
        F.col(id_col), F.transform(toks, lambda t: _md5_int(t)).alias("hs")
    )

    def bit_vote(i: int) -> Column:
        votes = F.aggregate(
            F.col("hs"),
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << i)) > 0, F.lit(1)).otherwise(F.lit(-1)),
        )
        return F.when(votes > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + bit_vote(i)
    return hashed.select(F.col(id_col), sig.alias("sig"))


def simhash_near_duplicates(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole blocking — EXACT, not
    approximate: split the signature into ``max_hamming + 1`` blocks;
    any pair within that Hamming distance must agree on at least one
    whole block, so equi-joining per block finds every qualifying pair
    while the quadratic comparison shrinks to within-bucket pairs.
    This is the 100 TB shape: shuffles scale with collisions, not n^2,
    and the result set is identical to the all-pairs scan (the DuckDB
    oracle keeps the simple all-pairs form)."""
    sigs = tracked_persist(simhash_signatures(df, bits, id_col, text_col))
    n_blocks = max_hamming + 1
    block_bits = bits // n_blocks
    blocked = sigs.select(
        id_col,
        "sig",
        *[
            F.shiftright(F.col("sig"), k * block_bits)
            .bitwiseAND(F.lit((1 << block_bits) - 1))
            .alias(f"b{k}")
            for k in range(n_blocks)
        ],
    )
    cands = None
    for k in range(n_blocks):
        li = blocked.select(
            F.col(id_col).alias("i"), F.col("sig").alias("sig_i"), f"b{k}"
        )
        rj = blocked.select(
            F.col(id_col).alias("j"), F.col("sig").alias("sig_j"), f"b{k}"
        )
        c = li.join(rj, f"b{k}").where(F.col("i") < F.col("j")).select(
            "i", "j", "sig_i", "sig_j"
        )
        cands = c if cands is None else cands.unionByName(c)
    return (
        cands.distinct()
        .withColumn("hamming", F.bit_count(F.expr("sig_i ^ sig_j")))
        .where(F.col("hamming") <= max_hamming)
        .select("i", "j", "hamming")
    )


def cross_corpus_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    shingle_n: int = 3,
    min_shared: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/eval contamination check: for every (train doc, eval doc)
    pair sharing at least ``min_shared`` distinct word n-grams, emit
    the pair and its overlap count.

    Scale posture: the eval side (benchmarks) is tiny relative to a
    100 TB train corpus, so its posting list is broadcast and the train
    corpus is scanned once with a narrow map-side hash join — no
    shuffle of train postings, no all-pairs blowup. The overlap count
    per pair is bounded by the eval doc's shingle count."""
    tr = train.select(
        F.col(id_col).alias("train_id"),
        F.explode(
            F.array_distinct(shingle_array(F.col(text_col), shingle_n))
        ).alias("shingle"),
    )
    ev = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.explode(
            F.array_distinct(shingle_array(F.col(text_col), shingle_n))
        ).alias("shingle"),
    )
    return (
        tr.join(bounded_broadcast(ev, "eval-bounded", "eval-set shingles"), "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .where(F.col("shared_ngrams") >= min_shared)
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level duplicate detection: hash every ``span_tokens``-
    token sliding window, flag spans occurring in >= ``min_docs``
    documents, and report per document how many of its distinct spans
    are duplicated elsewhere (the relational form of suffix-array
    substring dedup a la "Deduplicating Training Data Makes Language
    Models Better" — exact-match spans, no suffix array needed because
    fixed-length windows reduce it to a hash-groupBy).

    Whole-document dedup misses the dominant failure mode in web-scale
    corpora: boilerplate and quotations duplicated INSIDE otherwise
    unique pages. This finds those at span granularity.

    Scale posture: span arrays are built narrowly per row (shifted-
    slice zip_with — no per-span re-tokenize), distinct-within-doc
    BEFORE the explode bounds a doc's contribution by its token count,
    and the corpus-wide span table is aggregated with map-side partials
    on a 60-bit hash — never the span text. The dup-span side of the
    final join holds only hashes seen >= ``min_docs`` times, which AQE
    broadcasts when small; a boilerplate span shared by millions of
    docs is ONE row on that side, so hot spans cannot skew the join.
    Total cost is linear in corpus token count with one shuffle."""
    spans = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(
                    shingle_array(F.col(text_col), span_tokens),
                    lambda s: _md5_int(s),
                )
            )
        ).alias("h"),
    )
    spans = tracked_persist(spans)
    dup = (
        spans.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )
    return (
        spans.join(dup, "h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count("n_docs").alias("n_dup_spans"),
        )
        .where(F.col("n_dup_spans") > 0)
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every ``shingle_n``-word
    k-gram, then keep the minimum hash from every ``window``
    consecutive k-grams. The distinct selected hashes are the
    document's fingerprint — density ~2/(window+1) of the k-gram
    count, with the guarantee that any shared run of
    ``window + shingle_n - 1`` words between two documents shares at
    least one selected fingerprint (no-miss property, unlike random
    sampling).

    Returns (id, n_kgrams, fingerprint array<long>) — callers project
    stats or explode for fingerprint-sharing joins.

    Scale posture: pure narrow per-row Column expressions — the k-gram
    hash array is materialized once behind a projection boundary, and
    the window minimum is ``window`` shifted slices folded with
    zip_with/least, NOT a lambda indexing into the array (which would
    re-evaluate the hash chain per window — quadratic). Zero shuffles;
    fingerprints are ~29% of k-gram count, so downstream sharing joins
    move 3.5x less data than raw k-gram postings."""
    hs_expr = F.transform(
        shingle_array(F.col(text_col), shingle_n), lambda s: _md5_int28(s)
    )

    # The k-gram hash chain is EXPENSIVE (split + zip_with shingles +
    # md5 each) and the window fold references it window+1 times.
    # Interpreted HOF evaluation has no common-subexpression
    # elimination and CollapseProject would substitute the chain into
    # every reference (measured 5.6 s vs 1.1 s at sf0.1) — so bind it
    # ONCE as a lambda variable (`transform` over a 1-element array
    # evaluates its argument a single time) and keep the min-length
    # gate INSIDE the expression as a `filter` consumed by `explode`
    # (a Generate, which predicate pushdown cannot duplicate). Same
    # single-evaluation architecture as the quality gate
    # (plans/llm_queries.py:quality_gate, r2 verdict fix).
    def fp_struct(hs):
        cnt = F.greatest(F.size(hs) - F.lit(window - 1), F.lit(0))
        mins = F.slice(hs, F.lit(1), cnt)
        for j in range(1, window):
            mins = F.zip_with(
                mins,
                F.slice(hs, F.lit(j + 1), cnt),
                lambda a, b: F.least(a, b),
            )
        return F.struct(
            F.size(hs).alias("n_kgrams"),
            F.array_distinct(mins).alias("fingerprint"),
        )

    gated = F.filter(
        F.transform(F.array(hs_expr), fp_struct),
        lambda s: s["n_kgrams"] >= F.lit(window),
    )
    return df.select(F.col(id_col), F.explode(gated).alias("_s")).select(
        F.col(id_col),
        F.col("_s.n_kgrams").alias("n_kgrams"),
        F.col("_s.fingerprint").alias("fingerprint"),
    )


def winnow_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_postings: int = 64,
) -> DataFrame:
    """Fingerprint-sharing candidate pairs from winnowing sketches —
    the MOSS pipeline's pairing step: documents sharing at least
    ``min_shared`` selected fingerprints are overlap candidates, with
    the no-miss guarantee that any shared run of
    ``window + shingle_n - 1`` words yields at least one shared
    fingerprint. Compared to raw k-gram postings the join moves
    ~2/(window+1) of the data for the same guarantee.

    Scale posture: same shape as the LSH banded join — an inverted
    index on the fingerprint value with a posting-list cap
    (``max_postings``) so one boilerplate fingerprint cannot go
    quadratic; pair cost is collision-bounded, never all-pairs.
    Returns (i, j, shared_fingerprints)."""
    fp = winnow_fingerprints(df, id_col, text_col, shingle_n, window)
    postings = fp.select(
        F.col(id_col), F.explode("fingerprint").alias("fp")
    )
    postings = tracked_persist(postings)
    hot = (
        postings.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > max_postings)
        .select("fp")
    )
    cold = postings.join(hot, "fp", "left_anti")
    left = cold.select(F.col("fp"), F.col(id_col).alias("i"))
    right = cold.select(F.col("fp"), F.col(id_col).alias("j"))
    return (
        left.join(right, "fp")
        .where(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .where(F.col("shared_fingerprints") >= min_shared)
    )


def memorization_spans(
    train_df: DataFrame,
    eval_df: DataFrame,
    span_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Longest verbatim train-overlap span per eval document.

    Every ``span_tokens``-token sliding window of an eval doc is
    probed (60-bit hash semi-join) against the DISTINCT window-hash
    set of the train corpus; a run of R consecutive matched positions
    certifies an exact R+span_tokens-1-token verbatim span
    (gaps-and-islands run-length over hit positions — every token of
    the reported span is covered by a matched window, so the measure
    is exact, not a heuristic). Returns per eval doc: token/window
    counts, hit-window count, ``max_span_tokens``, and
    ``memorized_ppm`` (span/doc-length in ppm).

    Scale posture: the train side reduces to distinct hashes with
    map-side partials (the ``duplicate_span_stats`` shape); the probe
    is a hash semi-join (Bloom/broadcast-able when the eval audit is
    the small side); the window function sorts HIT positions only —
    per-doc state ∝ matches, never ∝ document length."""
    from pyspark.sql import Window as W

    def _span_hashes(col):
        return F.transform(
            shingle_array(col, span_tokens), lambda s: _md5_int(s)
        )

    train_spans = train_df.select(
        F.explode(
            F.array_distinct(_span_hashes(F.col(text_col)))
        ).alias("h")
    ).distinct()
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    evw = tracked_persist(
        eval_df.where(F.size(toks) >= span_tokens)
        .select(
            F.col(id_col),
            F.size(toks).cast("long").alias("n_tokens"),
            F.posexplode(_span_hashes(F.col(text_col))).alias(
                "pos0", "h"
            ),
        )
        .select(
            id_col, "n_tokens", (F.col("pos0") + 1).alias("pos"), "h"
        )
    )
    hits = tracked_persist(
        evw.join(train_spans, "h", "left_semi").select(id_col, "pos")
    )
    runs = hits.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(W.partitionBy(id_col).orderBy("pos")),
    )
    longest = (
        runs.groupBy(id_col, "grp")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("r"))
    )
    per_doc = evw.groupBy(id_col).agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_windows"),
    )
    n_hits = hits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_hit_windows")
    )
    span = F.coalesce(
        F.col("r") + (span_tokens - 1), F.lit(0)
    ).cast("long")
    return (
        per_doc.join(n_hits, id_col, "left")
        .join(longest, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "n_windows",
            F.coalesce(F.col("n_hit_windows"), F.lit(0))
            .cast("long")
            .alias("n_hit_windows"),
            span.alias("max_span_tokens"),
            F.expr(
                f"(1000000 * coalesce(r + {span_tokens - 1}, 0))"
                " div n_tokens"
            )
            .cast("long")
            .alias("memorized_ppm"),
        )
    )


# ------------------------------------------------------- line-level dedup

# C4/MassiveText-style sub-document cleaning: a "line" is a
# non-overlapping LINE_WINDOW-token window (the synthetic corpus has no
# newline structure; real corpora would split on '\n' with the same
# downstream plan). A line seen in >= LINE_MIN_DOCS distinct documents
# is boilerplate (navigation chrome, cookie banners, licence headers)
# and is removed from every document that carries it.
LINE_WINDOW = 4
LINE_MIN_DOCS = 3


def line_windows(
    df: DataFrame,
    window: int = LINE_WINDOW,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, line_no, line): non-overlapping ``window``-token lines per
    document; the ``len(w) % window`` tail tokens belong to no line.
    Pure narrow explode — no shuffle."""
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    return (
        df.select(F.col(id_col), w.alias("_w"))
        .where(F.size("_w") >= window)
        .select(
            id_col,
            "_w",
            F.explode(
                F.sequence(
                    F.lit(0), (F.size("_w") / window).cast("int") - 1
                )
            ).alias("line_no"),
        )
        .select(
            id_col,
            "line_no",
            F.concat_ws(
                " ", F.slice("_w", F.col("line_no") * window + 1, window)
            ).alias("line"),
        )
    )


def boilerplate_lines(
    lines: DataFrame,
    min_docs: int = LINE_MIN_DOCS,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide boilerplate set over a ``line_windows`` frame:
    the distinct lines present in >= ``min_docs`` distinct documents.
    ONE definition shared by the batch row and the streaming ingest
    twin — the two must agree on the set bit-for-bit."""
    return (
        lines.groupBy("line")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("line")
    )


def line_retention_report(
    df: DataFrame,
    counts: DataFrame,
    window: int = LINE_WINDOW,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document retention report from a (id, _nl, _ndrop) counts
    frame: left-join the corpus token counts and derive kept tokens
    (tail tokens always survive — they belong to no line). ONE
    definition of the report arithmetic, shared by the batch row and
    the streaming twin; documents too short for any line are absent
    from ``counts`` and enter here with zero counts."""
    base = df.select(
        id_col,
        F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    return base.join(counts, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("_nl"), F.lit(0)).cast("long").alias("n_lines"),
        F.coalesce(F.col("_ndrop"), F.lit(0))
        .cast("long")
        .alias("n_dropped_lines"),
        (
            F.col("n_tokens")
            - window * F.coalesce(F.col("_ndrop"), F.lit(0))
        )
        .cast("long")
        .alias("kept_tokens"),
    )


def line_dedup_stats(
    df: DataFrame,
    window: int = LINE_WINDOW,
    min_docs: int = LINE_MIN_DOCS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document line dedup (the C4 boilerplate-removal pass):
    corpus-wide line frequency -> boilerplate set (lines in >=
    ``min_docs`` distinct docs) -> per-document retention report.

    Scale shape: ONE shuffle on the line key with map-side partial
    aggregation builds the frequency table (at 100 TB this is the
    classic C4 job; a production run would group on a 128-bit line
    hash to keep shuffle rows narrow — kept as the raw string here so
    the DuckDB oracle is bit-exact), then one line-key join back and
    one per-doc aggregation. The boilerplate side is corpus-dependent,
    so it is NOT broadcast-hinted (the r11 sf10 lesson); AQE promotes
    it when it is genuinely small.

    Output per document (exact integers only): token count, line
    count, boilerplate-line occurrences dropped, and the token count
    that survives (tail tokens always survive — they belong to no
    line).
    """
    lines = tracked_persist(line_windows(df, window, id_col, text_col))
    boiler = boilerplate_lines(lines, min_docs, id_col)
    dropped = (
        lines.join(boiler, "line")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_ndrop"))
    )
    per_doc = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("_nl"))
    counts = per_doc.join(dropped, id_col, "left")
    return line_retention_report(df, counts, window, id_col, text_col)


# ------------------------------------------------------ takedown/retract

# Deterministic takedown slice for the retract row: every doc whose id
# is a multiple of RETRACT_MOD is removed (GDPR/takedown stand-in).
# Chosen so the sf0.01 corpus exercises keeper-removal (re-admission),
# non-keeper-removal, and untouched clusters.
RETRACT_MOD = 29


def retract_report(
    docs: DataFrame,
    clusters: DataFrame,
    removed_mod: int = RETRACT_MOD,
    id_col: str = "doc_id",
) -> DataFrame:
    """Takedown propagation through a near-dup keeper policy: remove
    the docs in the takedown slice, re-elect each cluster's keeper as
    the min SURVIVING member, and report every document's status
    transition — in particular the docs RE-ADMITTED to the corpus
    because their keeper was taken down (the reverse edge of the
    append/ingest lifecycle rows; without it a takedown silently
    shrinks the corpus by the whole cluster, not just the removed doc).

    ``clusters`` is a (member, cluster_id) frame (duplicate_clusters
    output). Plan shape: one left join of the corpus ids against the
    cluster membership (pair-graph-bounded, tiny next to the corpus),
    one k-cluster-row aggregation for the surviving-min re-election,
    one join back. No driver-side state, no broadcast hints.
    """
    m = (
        docs.select(id_col)
        .join(
            clusters.withColumnRenamed("member", id_col), id_col, "left"
        )
        .select(
            id_col,
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias(
                "cluster_id"
            ),
            F.col("cluster_id").isNotNull().alias("_in_graph"),
            (F.col(id_col) % removed_mod == 0).alias("_removed"),
        )
    )
    m = tracked_persist(m)
    keeper_after = (
        m.where(~F.col("_removed"))
        .groupBy("cluster_id")
        .agg(F.min(id_col).alias("_keeper_after"))
    )
    status_before = (
        F.when(~F.col("_in_graph"), F.lit("unique"))
        .when(F.col(id_col) == F.col("cluster_id"), F.lit("keeper"))
        .otherwise(F.lit("dropped"))
    )
    status_after = (
        F.when(F.col("_removed"), F.lit("removed"))
        .when(~F.col("_in_graph"), F.lit("unique"))
        .when(F.col(id_col) == F.col("_keeper_after"), F.lit("keeper"))
        .otherwise(F.lit("dropped"))
    )
    return (
        m.join(keeper_after, "cluster_id", "left")
        .select(
            F.col(id_col),
            "cluster_id",
            status_before.alias("status_before"),
            status_after.alias("status_after"),
            (
                (status_before == F.lit("dropped"))
                & (status_after == F.lit("keeper"))
            ).alias("readmitted"),
        )
    )
