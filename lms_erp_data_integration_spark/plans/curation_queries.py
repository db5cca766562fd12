"""The composed corpus-curation pipeline — quality gate, near-dup
apply, mix rebalance, final stats — as ONE driver-verified query.

Each stage is individually green elsewhere (``llm_quality_gate``,
``llm_dedup_apply``, ``llm_corpus_rebalance``), but what a real
training-data team ships is the composition; the reference's own value
was the composed pipeline (`main.py:3-5`), not its stages. The oracle
chains the exact stage oracles as CTEs, so a regression in ANY stage —
or in how they hand off — flips the final checksum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..hints import bounded_broadcast
from ..operators import dedup as dd
from .llm_queries import _STOP_SQL, quality_gate
from .registry import query


@query(
    "llm_corpus_curate",
    rf"""
WITH RECURSIVE t AS (
  SELECT doc_id, lang, source, text,
         regexp_split_to_array(trim(text), '\s+') AS w,
         regexp_split_to_array(trim(lower(text)), '\s+') AS wl
  FROM documents),
tri AS (
  SELECT doc_id, lang, source, text, w, wl,
         [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
          FOR i IN range(1, len(w) - 1)] AS tt
  FROM t),
gated AS (
  SELECT doc_id, lang, source, text, len(w) AS n_tokens
  FROM tri
  WHERE len(w) BETWEEN 20 AND 100000
    AND len(list_filter(wl, x -> x IN ({_STOP_SQL})))
        * 1.0 / greatest(len(w), 1) >= 0.05
    AND (CASE WHEN len(tt) = 0 THEN 0.0
         ELSE (len(tt) - len(list_distinct(tt))) * 1.0 / len(tt) END)
        <= 0.5),
shing AS (
  SELECT DISTINCT g.doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM gated g
  JOIN t USING (doc_id), unnest(range(1, len(w) - 1)) AS u(i)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shing GROUP BY doc_id),
cold AS (
  SELECT shingle FROM shing GROUP BY shingle
  HAVING COUNT(*) <= {dd.NGRAM_MAX_DOC_FREQ}),
cands AS (
  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
  FROM shing a
  JOIN cold c ON c.shingle = a.shingle
  JOIN shing b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
inter AS (
  SELECT p.i, p.j, COUNT(*) AS inter
  FROM cands p
  JOIN shing si ON si.doc_id = p.i
  JOIN shing sj ON sj.doc_id = p.j AND sj.shingle = si.shingle
  GROUP BY p.i, p.j),
pairs AS (
  SELECT i, j FROM inter
  JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.8),
edges AS (
  SELECT i AS src, j AS dst FROM pairs
  UNION SELECT j AS src, i AS dst FROM pairs),
reach AS (
  SELECT src AS node, dst AS target FROM edges
  UNION
  SELECT r.node, e.dst AS target
  FROM reach r JOIN edges e ON e.src = r.target),
clusters AS (
  SELECT node AS member, least(node, MIN(target)) AS cluster_id
  FROM reach GROUP BY node),
deduped AS (
  SELECT * FROM gated
  WHERE doc_id NOT IN
        (SELECT member FROM clusters WHERE member <> cluster_id)),
k AS (SELECT lang, COUNT(*) AS n_docs FROM deduped GROUP BY lang),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM k),
rates AS (
  SELECT lang,
         LEAST(1000000,
               CAST((CASE WHEN lang = 'en' THEN 400000 ELSE 150000 END
                     * total) // n_docs AS BIGINT)) AS keep_rate_ppm
  FROM k, tot),
kept AS (
  SELECT d.* FROM deduped d JOIN rates USING (lang)
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
        % 1000000 < keep_rate_ppm)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS doc_id_checksum
FROM kept GROUP BY lang, source
""",
)
def corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: Gopher-style quality gate -> exact
    n-gram-Jaccard near-dup apply (keeper = min id per connected
    component) -> deterministic per-language mix rebalance (40% en /
    15% others, md5-ppm bucket selection) -> per-(lang, source) stats
    with an exact doc_id checksum pinning the kept SET, not just its
    size.

    Stage composition notes for 100 TB: the gate is a narrow
    shuffle-free stage feeding the dedup's shingle explode directly;
    dedup cost is bounded by the posting-cap inverted index (never
    all-pairs) and runs on the gated (smaller) corpus — gating BEFORE
    dedup is the right order at scale since the gate is O(n) and
    dedup is the expensive stage. The rebalance rate table is
    language-cardinality-sized and explicitly broadcast; selection is
    a row-local md5 bucket, so the apply step adds zero shuffles.
    Expensive-tier cost class: same as ``llm_dedup_apply`` (the exact
    Jaccard baseline it shares machinery with)."""
    from ..caching import tracked_persist

    docs = Catalog(spark, sf_dir).documents
    # persisted: the gate output feeds BOTH the dedup shingle explode
    # and the post-dedup anti-join — unpersisted, the regexp-split
    # gate evaluates twice per pass
    gated = tracked_persist(
        quality_gate(spark, sf_dir).select(
            "doc_id", "lang", "source", "n_tokens"
        )
    )
    gated_text = gated.join(docs.select("doc_id", "text"), "doc_id")
    pairs = dd.ngram_jaccard_duplicates(
        gated_text, threshold=0.8, shingle_n=3
    )
    clusters = dd.duplicate_clusters(pairs.select("i", "j"))
    losers = clusters.where(F.col("member") != F.col("cluster_id")).select(
        F.col("member").alias("doc_id")
    )
    # persisted: the deduped corpus is read once to build the
    # language rate table and again by the final selection/aggregate —
    # without the cache the ENTIRE gate+dedup chain executes twice
    deduped = tracked_persist(gated.join(losers, "doc_id", "left_anti"))

    k = deduped.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    t = k.agg(F.sum("n_docs").alias("total"))
    rates = k.crossJoin(bounded_broadcast(t, "scalar-agg", "1-row total")).select(
        "lang",
        F.least(
            F.lit(1_000_000).cast("long"),
            F.expr(
                "(CASE WHEN lang = 'en' THEN 400000 ELSE 150000 END"
                " * total) div n_docs"
            ),
        ).alias("keep_rate_ppm"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10
        ).cast("long")
        % 1_000_000
    )
    kept = deduped.join(
        bounded_broadcast(rates, "enum-bounded", "one row per lang"), "lang"
    ).where(
        bucket < F.col("keep_rate_ppm")
    )
    return kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("doc_id").alias("doc_id_checksum"),
    )


def _logreg_cte_parts(
    iterations: int = 6, step_divisor: int = 2000, id_cols: str = ""
) -> tuple[list[str], "callable", str]:
    """Shared unrolled-training CTE chain (feat/m/i0..iK) for the
    logreg oracles; returns (parts, p_micro(it) -> sql, final_it).
    Split out of ``_logreg_oracle`` so the calibration oracle scores
    with the identical unrolled weights. ``id_cols`` (e.g.
    ``"doc_id, "``) threads identifier columns through t/cnt/feat for
    consumers that need per-document scores (the calibrated gate);
    the default produces byte-identical text to the id-less chain, so
    ONE function defines the training arithmetic for every logreg
    oracle — the desync-proofing the byte-identical-CTE contract
    exists for."""
    from ..operators.quality_ml import MICRO, SCALES, _STOP_MIN_MICRO
    from .llm_queries import _STOP_SQL

    c = (
        f"CAST({SCALES[0]} AS BIGINT)",
        f"(f1 - m1) // {SCALES[1]}",
        f"(f2 - m2) // {SCALES[2]}",
        f"(f3 - m3) // {SCALES[3]}",
    )

    def p_micro(it: str) -> str:
        dot = " + ".join(f"({c[j]}) * {it}.w{j}" for j in range(4))
        return (
            f"CAST(floor(1.0 / (1.0 + exp(-(({dot}) / {float(MICRO)})))"
            f" * {MICRO} + 0.5) AS BIGINT)"
        )

    parts = [
        rf"""WITH t AS (
  SELECT {id_cols}regexp_split_to_array(trim(text), '\s+') AS w,
         CAST(length(text) AS BIGINT) AS nc
  FROM documents),
cnt AS (
  SELECT {id_cols}CAST(len(w) AS BIGINT) AS nt, nc,
         CAST(len(list_filter(list_transform(w, x -> lower(x)),
                              x -> x IN ({_STOP_SQL}))) AS BIGINT) AS ns
  FROM t),
feat AS (
  SELECT {id_cols}CAST({MICRO} AS BIGINT) AS f0,
         ({MICRO} * ns) // greatest(nt, 1) AS f1,
         ({MICRO} * (nc - nt + 1)) // greatest(nt, 1) AS f2,
         least(nt, 200) * 5000 AS f3,
         CAST(CASE WHEN nt >= 20
                    AND ({MICRO} * ns) // greatest(nt, 1)
                        >= {_STOP_MIN_MICRO}
               THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM cnt),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(f1) // COUNT(*) AS BIGINT) AS m1,
         CAST(SUM(f2) // COUNT(*) AS BIGINT) AS m2,
         CAST(SUM(f3) // COUNT(*) AS BIGINT) AS m3
  FROM feat),
i0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
              CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)"""
    ]
    for k in range(iterations):
        g_cols = ", ".join(
            f"CAST(SUM(({p_micro(f'i{k}')} - y * {MICRO}) * ({c[j]}))"
            f" AS BIGINT) AS g{j}"
            for j in range(4)
        )
        parts.append(
            f"g{k} AS (\n  SELECT {g_cols}\n  FROM feat, m, i{k})"
        )
        w_cols = ", ".join(
            f"CAST(i{k}.w{j} - g{k}.g{j} // (m.n * {step_divisor})"
            f" AS BIGINT) AS w{j}"
            for j in range(4)
        )
        parts.append(
            f"i{k + 1} AS (SELECT {w_cols} FROM g{k}, m, i{k})"
        )
    return parts, p_micro, f"i{iterations}"


def _logreg_oracle(iterations: int = 6, step_divisor: int = 2000) -> str:
    """Unrolled-iteration DuckDB twin of ``train_quality_logreg``
    (the BPE/k-means precedent: every gradient step becomes a CTE
    whose integer arithmetic mirrors the engine's exactly; DuckDB
    ``//`` and Spark ``div`` both truncate toward zero)."""
    from ..operators.quality_ml import MICRO

    parts, p_micro, it = _logreg_cte_parts(iterations, step_divisor)
    parts.append(
        f"""conf AS (
  SELECT SUM(pred * y) AS tp, SUM(pred * (1 - y)) AS fp,
         SUM((1 - pred) * y) AS fn, SUM((1 - pred) * (1 - y)) AS tn
  FROM (SELECT CASE WHEN {p_micro(it)} >= {MICRO // 2}
                THEN 1 ELSE 0 END AS pred, y
        FROM feat, m, {it}))"""
    )
    sel = ", ".join(f"{it}.w{j} AS w{j}" for j in range(4))
    return (
        ",\n".join(parts)
        + f"""
SELECT {sel}, m.m1 AS mean1, m.m2 AS mean2, m.m3 AS mean3,
       CAST(conf.tp AS BIGINT) AS tp, CAST(conf.fp AS BIGINT) AS fp,
       CAST(conf.fn AS BIGINT) AS fn, CAST(conf.tn AS BIGINT) AS tn,
       m.n AS n_docs
FROM {it}, m, conf
"""
    )


_CAL_THRESHOLDS = tuple(range(100_000, 1_000_000, 100_000))


def _cal_curve_parts(
    iterations: int = 6, step_divisor: int = 2000, id_cols: str = ""
) -> list[str]:
    """Shared threshold-sweep CTE chain ending in ``curve`` (per
    threshold: confusion matrix + integer-micro precision / recall /
    F1) — ONE definition serving the calibration-curve oracle and the
    calibrate->gate composition oracle (the ``_CURVE_CTES`` contract:
    the curve and the action that consumes its chosen point cannot
    desync). Non-negative operands throughout, so DuckDB ``//`` ==
    Spark ``div``."""
    from ..operators.quality_ml import MICRO

    parts, p_micro, it = _logreg_cte_parts(
        iterations, step_divisor, id_cols
    )
    th = ", ".join(str(t) for t in _CAL_THRESHOLDS)
    parts.append(
        f"""scored AS MATERIALIZED (
  SELECT {id_cols}{p_micro(it)} AS p, y FROM feat, m, {it}),
th AS (SELECT unnest([{th}]) AS threshold_micro),
conf AS (
  SELECT threshold_micro,
         SUM(CASE WHEN p >= threshold_micro THEN y ELSE 0 END) AS tp,
         SUM(CASE WHEN p >= threshold_micro THEN 1 - y ELSE 0 END) AS fp,
         SUM(CASE WHEN p < threshold_micro THEN y ELSE 0 END) AS fn,
         SUM(CASE WHEN p < threshold_micro THEN 1 - y ELSE 0 END) AS tn
  FROM scored, th GROUP BY threshold_micro),
curve AS (
  SELECT CAST(threshold_micro AS BIGINT) AS threshold_micro,
         CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
         CAST({MICRO} * tp // greatest(tp + fp, 1) AS BIGINT)
           AS precision_micro,
         CAST({MICRO} * tp // greatest(tp + fn, 1) AS BIGINT)
           AS recall_micro,
         CAST(2 * ({MICRO} * tp // greatest(tp + fp, 1))
                * ({MICRO} * tp // greatest(tp + fn, 1))
              // greatest(({MICRO} * tp // greatest(tp + fp, 1))
                          + ({MICRO} * tp // greatest(tp + fn, 1)), 1)
              AS BIGINT) AS f1_micro
  FROM conf)"""
    )
    return parts


def _calibration_oracle(
    iterations: int = 6, step_divisor: int = 2000
) -> str:
    """Threshold-sweep twin: score every doc with the unrolled
    weights, then per operating threshold compute the confusion
    matrix and integer-micro precision/recall/F1 vs the weak labels
    (the shared ``curve`` CTE the calibrated gate also reads)."""
    parts = _cal_curve_parts(iterations, step_divisor)
    return (
        ",\n".join(parts)
        + """
SELECT threshold_micro, tp, fp, fn, tn,
       precision_micro, recall_micro, f1_micro
FROM curve ORDER BY threshold_micro
"""
    )


@query("llm_quality_classifier", _logreg_oracle())
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter (the CCNet/fastText-style stage of a
    curation pipeline): full-batch logistic regression trained ON THE
    CLUSTER over integer-scaled text features, with every gradient
    step an exact-integer aggregation — weights are bit-identical
    across partitionings, so the entire 6-step training loop is
    verified by an unrolled DuckDB twin (``_logreg_oracle``). Returns
    the learned micro-weights, the feature means, and the training
    confusion matrix at p >= 0.5.

    Scale posture (``operators/quality_ml.py``): one persisted narrow
    feature projection; each iteration is one map-side-combined
    aggregation emitting 4 longs; nothing wider than that ever
    shuffles. Float exposure is the sigmoid only, rounded to
    micro-units (the micro-nat bigram-LM precedent)."""
    from ..operators.quality_ml import train_quality_logreg

    docs = Catalog(spark, sf_dir).documents
    return train_quality_logreg(docs)


@query("llm_quality_calibration", _calibration_oracle())
def quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-threshold CALIBRATION of the learned quality filter
    (r9 verdict #6): train the same exact-integer logistic regression,
    score every document once, and sweep the decision threshold over
    0.1..0.9 — per threshold the confusion matrix vs the weak labels
    plus integer-micro precision / recall / F1. This is the curve a
    100 TB curation run reads to PICK its cut-off (recall-heavy for a
    first sweep, precision-heavy for a final pass) instead of
    defaulting to 0.5; the classifier row reports only the 0.5 point.

    Exactness: scores are the micro-rounded sigmoid (the family's one
    documented float exposure); thresholding, confusion counts, and
    the derived ratios are all BIGINT arithmetic on non-negative
    operands, so the driver hash pins the full curve.

    Scale posture: ONE scan of the persisted narrow feature frame;
    the 9 thresholds explode per row BEFORE the aggregate, so the
    shuffle carries 9 partial-sum rows per partition, not 9x the
    corpus."""
    from ..operators.quality_ml import fit_quality_logreg

    docs = Catalog(spark, sf_dir).documents
    feats, w, means, _n = fit_quality_logreg(docs)
    return quality_curve_frame(feats, w, means).orderBy(
        "threshold_micro"
    )


def quality_curve_frame(
    feats: DataFrame, w: list, means: list
) -> DataFrame:
    """The threshold-sweep metric curve over a trained feature frame
    — shared by ``llm_quality_calibration`` and the calibrate->gate
    composition (unordered; callers sort). One definition of the
    confusion/precision/recall/F1 arithmetic, mirroring the shared
    ``curve`` CTE on the oracle side."""
    from ..operators.quality_ml import _p_micro_expr

    scored = feats.select(_p_micro_expr(w, means).alias("p"), "y")
    sc = scored.select(
        "p",
        "y",
        F.explode(
            F.array(*[F.lit(t).cast("long") for t in _CAL_THRESHOLDS])
        ).alias("threshold_micro"),
    )
    conf = sc.groupBy("threshold_micro").agg(
        F.sum(F.expr("CASE WHEN p >= threshold_micro THEN y ELSE 0 END"))
        .cast("long")
        .alias("tp"),
        F.sum(
            F.expr("CASE WHEN p >= threshold_micro THEN 1 - y ELSE 0 END")
        )
        .cast("long")
        .alias("fp"),
        F.sum(F.expr("CASE WHEN p < threshold_micro THEN y ELSE 0 END"))
        .cast("long")
        .alias("fn"),
        F.sum(
            F.expr("CASE WHEN p < threshold_micro THEN 1 - y ELSE 0 END")
        )
        .cast("long")
        .alias("tn"),
    )
    from ..operators.quality_ml import MICRO

    prec = F.expr(f"{MICRO} * tp div greatest(tp + fp, 1)")
    rec = F.expr(f"{MICRO} * tp div greatest(tp + fn, 1)")
    f1 = F.expr(
        f"2 * ({MICRO} * tp div greatest(tp + fp, 1))"
        f" * ({MICRO} * tp div greatest(tp + fn, 1))"
        f" div greatest(({MICRO} * tp div greatest(tp + fp, 1))"
        f" + ({MICRO} * tp div greatest(tp + fn, 1)), 1)"
    )
    return conf.select(
        "threshold_micro",
        "tp",
        "fp",
        "fn",
        "tn",
        prec.cast("long").alias("precision_micro"),
        rec.cast("long").alias("recall_micro"),
        f1.cast("long").alias("f1_micro"),
    )


# Precision floor for the calibrate->gate composition: the chosen
# operating point is the highest-F1 sweep threshold whose precision
# meets this floor (a curation team's "don't pollute the corpus"
# constraint); if no sweep point reaches it, fall back to the global
# highest-F1 point with met_floor = 0.
QUALITY_PRECISION_FLOOR_MICRO = 800_000

# The operating-point choice CTE, shared BYTE-IDENTICALLY by the
# calibrate->gate oracle and the composed calibrated-curation oracle.
_CAL_CHOSEN_CTE = f"""chosen AS (
  SELECT COALESCE(
           (SELECT threshold_micro FROM curve
            WHERE precision_micro >= {QUALITY_PRECISION_FLOOR_MICRO}
            ORDER BY f1_micro DESC, threshold_micro LIMIT 1),
           (SELECT threshold_micro FROM curve
            ORDER BY f1_micro DESC, threshold_micro LIMIT 1)) AS th,
         CAST(CASE WHEN EXISTS (
                SELECT 1 FROM curve
                WHERE precision_micro >= {QUALITY_PRECISION_FLOOR_MICRO})
              THEN 1 ELSE 0 END AS BIGINT) AS met)"""

_CAL_GATE_ORACLE = (
    ",\n".join(_cal_curve_parts(id_cols="doc_id, "))
    + f""",
{_CAL_CHOSEN_CTE}
SELECT s.doc_id, CAST(s.p AS BIGINT) AS p_micro,
       ch.th AS chosen_threshold_micro, ch.met AS met_floor
FROM scored s, chosen ch WHERE s.p >= ch.th
"""
)


def _choose_quality_point(rows, floor_micro: int) -> tuple[int, int]:
    """The driver-side twin of ``_CAL_CHOSEN_CTE``: highest-F1 sweep
    point whose precision meets the floor (tie -> lowest threshold);
    global highest-F1 fallback with met = 0. Shared by the gate frame
    and the composed calibrated-curation frame so the two rows cannot
    disagree on the operating point."""
    qual = [
        r for r in rows
        if int(r["precision_micro"]) >= int(floor_micro)
    ]
    met = 1 if qual else 0
    pool = qual if qual else list(rows)
    chosen = sorted(
        pool,
        key=lambda r: (-int(r["f1_micro"]), int(r["threshold_micro"])),
    )[0]
    return int(chosen["threshold_micro"]), met


@query("llm_quality_calibrated_gate", _CAL_GATE_ORACLE)
def quality_calibrated_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATE -> GATE composition for the learned quality filter —
    the quality family's leg of the calibration-loop closure (the
    dedup leg is ``llm_dedup_calibrated_apply``): train the
    exact-integer logistic regression, sweep the decision threshold
    (``llm_quality_calibration``'s curve), CHOOSE the operating point
    — the highest-F1 sweep threshold whose precision meets
    ``QUALITY_PRECISION_FLOOR_MICRO`` (tie -> lowest threshold), with
    the global highest-F1 point as the ``met_floor = 0`` fallback —
    then apply the PRODUCTION gate AT that point: every document the
    classifier scores at/above the chosen threshold survives,
    carrying its micro-score and the chosen point as audit columns.

    The oracle interpolates the SAME curve CTE chain as the
    calibration row (``_cal_curve_parts`` — one definition of the
    unrolled training arithmetic and the sweep metrics, the
    ``_CURVE_CTES`` contract) and re-derives the choice as scalar
    subqueries, so Spark's driver-side decision and DuckDB must agree
    or the hash gate fails. The decision reads the
    ``len(_CAL_THRESHOLDS)``-row curve frame — bounded by the sweep
    constant, the documented closure-constant pattern. Both decision
    branches are pinned by a parameterized-floor pytest.

    Scale posture: the calibration row's cost (K narrow training
    scans + one 9-way pre-aggregate explode of the persisted feature
    frame) plus ONE more scan of that same persisted frame for the
    final filter — no new shuffle; the kept set streams straight to
    the sink."""
    return quality_calibrated_gate_frame(
        Catalog(spark, sf_dir).documents
    )


def quality_calibrated_gate_frame(
    docs: DataFrame,
    floor_micro: int = QUALITY_PRECISION_FLOOR_MICRO,
) -> DataFrame:
    """Body of ``llm_quality_calibrated_gate``, parameterized on the
    precision floor so tests pin BOTH decision branches (a zero floor
    -> every sweep point qualifies, ``met_floor = 1``; an impossible
    floor -> global-F1 fallback, ``met_floor = 0``)."""
    from ..operators.quality_ml import _p_micro_expr, fit_quality_logreg

    feats, w, means, _n = fit_quality_logreg(docs, keep=("doc_id",))
    rows = quality_curve_frame(feats, w, means).collect()
    # bounded: one row per _CAL_THRESHOLDS sweep constant
    th, met = _choose_quality_point(rows, floor_micro)
    return (
        feats.select(
            "doc_id", _p_micro_expr(w, means).alias("p_micro")
        )
        .where(F.col("p_micro") >= F.lit(th))
        .select(
            "doc_id",
            "p_micro",
            F.lit(th).cast("long").alias("chosen_threshold_micro"),
            F.lit(met).cast("long").alias("met_floor"),
        )
    )


# PSI drift threshold (module constant interpolated into the oracle):
# the industry-standard "investigate" line — PSI >= 0.1 (100000 micro).
PSI_DRIFT_MICRO = 100_000

_PSI_EDGE_COLS = ", ".join(
    f"MAX(CASE WHEN rn = ({p} * (n - 1)) // 100 + 1 THEN score END)"
    f" AS e{j}"
    for j, p in enumerate(range(10, 100, 10), 1)
)
_PSI_BUCKET_SQL = " + ".join(
    f"(CASE WHEN score >= e{j} THEN 1 ELSE 0 END)" for j in range(1, 10)
)


# PSI CTE block shared BYTE-IDENTICALLY by the per-source monitor
# oracle and the drift-gate (action) oracle — the _INDEX_DROPPED_CTES
# contract: one definition of score/edges/buckets/shares/terms, the
# monitor and the action it gates cannot desync.
_PSI_CTES = rf"""WITH t AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(text), '\s+') AS w,
         regexp_split_to_array(trim(lower(text)), '\s+') AS wl
  FROM documents),
sc AS (
  SELECT doc_id, source,
         1000000 * len(list_filter(wl, x -> x IN ({_STOP_SQL})))
           // greatest(len(w), 1) AS score
  FROM t),
samp AS (
  SELECT score, doc_id FROM (
    SELECT score, doc_id,
           row_number() OVER (ORDER BY
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
             doc_id) AS r
    FROM sc) WHERE r <= 256),
sr AS (
  SELECT score, doc_id,
         row_number() OVER (ORDER BY score, doc_id) AS rn,
         COUNT(*) OVER () AS n
  FROM samp),
ed AS (SELECT {_PSI_EDGE_COLS} FROM sr),
bk AS (
  SELECT source, CAST(1 + {_PSI_BUCKET_SQL} AS BIGINT) AS bucket
  FROM sc, ed),
srcs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
  FROM sc GROUP BY source),
grid AS (
  SELECT s.source, s.n_src, CAST(t.b AS BIGINT) AS bucket
  FROM srcs s, unnest(range(1, 11)) AS t(b)),
refc AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_ref
  FROM bk GROUP BY bucket),
reft AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sc),
srcc AS (
  SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n
  FROM bk GROUP BY source, bucket),
sh AS (
  SELECT g.source, g.bucket,
         CAST(COALESCE(r.n_ref, 0) AS BIGINT) AS n_ref,
         CAST(COALESCE(c.n, 0) AS BIGINT) AS n_src_bucket,
         CAST(GREATEST(1000000 * COALESCE(r.n_ref, 0) // reft.n, 1)
              AS BIGINT) AS ref_ppm,
         CAST(GREATEST(1000000 * COALESCE(c.n, 0) // g.n_src, 1)
              AS BIGINT) AS src_ppm
  FROM grid g CROSS JOIN reft
  LEFT JOIN refc r ON r.bucket = g.bucket
  LEFT JOIN srcc c ON c.source = g.source AND c.bucket = g.bucket),
terms AS (
  SELECT *,
         CAST((src_ppm - ref_ppm)
              * CAST(ROUND(LN(CAST(src_ppm AS DOUBLE) / ref_ppm)
                           * 1000000) AS BIGINT)
              // 1000000 AS BIGINT) AS psi_term_micro
  FROM sh)"""

_PSI_ORACLE = rf"""
{_PSI_CTES}
SELECT source, bucket, n_ref, n_src_bucket, ref_ppm, src_ppm,
       psi_term_micro,
       CAST(SUM(psi_term_micro) OVER (PARTITION BY source) AS BIGINT)
         AS psi_total_micro,
       CAST(CASE WHEN SUM(psi_term_micro) OVER (PARTITION BY source)
                      >= {PSI_DRIFT_MICRO}
                 THEN 1 ELSE 0 END AS BIGINT) AS drifted
FROM terms
ORDER BY source, bucket
"""


@query("llm_quality_psi_by_source", _PSI_ORACLE)
def quality_psi_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score DRIFT monitor — Population Stability Index per
    source against the pooled corpus, the standard production check
    that a new crawl/source's quality distribution still looks like
    the training mix (complementing ``llm_corpus_divergence``'s
    unigram KL with the score-space view the quality gate actually
    filters on). Score = stopword ratio in ppm (the gate's gibberish
    signal, integer-exact); bucket edges are the POOLED corpus's
    decile order statistics estimated from the same coordinated
    bottom-256-by-hash sample the quantile sketch uses (sketch-sized,
    mergeable — production never full-sorts for bin edges); each
    source's bucket shares (ppm, clamped >= 1 so empty cells
    contribute a finite penalty) enter
    PSI = sum((src - ref) * ln(src / ref)) with the log-ratio
    quantized to micro per bucket then integer-summed (the micro-nat
    convention of ``_DIVERGENCE_CTES``). One row per (source, bucket)
    with the term, the source's PSI total, and the verdict at the
    standard PSI >= 0.1 investigate line.

    Small-slice caveat (by design, documented): PSI inflates when a
    source's doc count is small relative to the bucket count — at
    sf0.01 most 25-doc sources read over the line while at sf0.1 none
    do; the production cadence watches slices big enough that the
    clamp never binds.

    Scale posture: scoring is one narrow projection; the edge sample
    is sketch-sized (256 rows); bucketing is a broadcast join against
    ONE 9-edge row; counts are map-side-combined to (source x 10)
    rows — nothing downstream of the scan exceeds source-cardinality
    x 10 at any corpus size."""
    return quality_psi_report(Catalog(spark, sf_dir).documents)


def psi_score_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, source, score): stopword ratio in exact ppm — pure
    stateless projections, so the SAME expression scores a streaming
    frame (the streaming twin's per-row path)."""
    from ..operators import text as tx

    return docs.select(
        "doc_id",
        "source",
        tx.stopword_count(F.col("text")).alias("ns"),
        F.size(tx.ws_tokens(F.col("text"))).alias("nt"),
    ).select(
        "doc_id",
        "source",
        F.expr("(1000000 * ns) div greatest(nt, 1)")
        .cast("long")
        .alias("score"),
    )


def psi_bucket_expr(edges: list) -> "F.Column":
    """1-based decile bucket over the score column — ONE
    definition of the bucket contract (>= comparison, 9 edges) for
    both PSI rows. edges entries are ints (the streaming twin
    bakes its driver-collected edge constants in as BIGINT literals —
    a stateless per-row expression) or Columns (the batch row passes
    the sample frame's edge columns after its broadcast join); both
    compare the same BIGINT score to the same BIGINT edges, so the
    forms are bit-equal."""
    bucket = F.lit(1)
    for e in edges:
        e_col = F.lit(int(e)) if isinstance(e, int) else e
        bucket = bucket + F.when(
            F.col("score") >= e_col, 1
        ).otherwise(0)
    return bucket.cast("long")


def quality_psi_report(docs: DataFrame) -> DataFrame:
    """Score -> sketch-edged buckets -> per-source shares -> PSI.
    Split out so tests can pin the identity PSI(corpus || corpus) = 0
    on a single-source frame."""
    from ..caching import tracked_persist

    return psi_report_from_scores(
        tracked_persist(psi_score_frame(docs))
    )


def psi_report_from_scores(sc_df: DataFrame) -> DataFrame:
    """PSI report over a prepared (doc_id, source, score) frame — the
    shared tail of ``quality_psi_report``. The capstone feeds it the
    PERSISTED logreg feature frame's f1 column instead of re-scanning
    and re-tokenizing the corpus: the PSI score (stopword-ratio ppm
    over whitespace tokens) and quality feature f1 are the same
    integer expression by definition (lowercasing before vs after a
    whitespace split is equivalent), and
    ``test_psi_score_equals_quality_f1`` pins that identity so either
    definition drifting breaks loudly instead of silently."""
    from ..operators import sketches as sk

    g = sc_df.withColumn("g", F.lit("*"))
    samp = sk.bottomk_sample(g, F.col("doc_id"), "g")
    edges = sk.sample_quantiles(
        samp, "score", F.col("doc_id"),
        list(range(10, 100, 10)), "g", prefix="e",
    )
    bk = g.join(bounded_broadcast(edges, "sketch-sized", "1 row, 9 edges"), "g").select(
        "source",
        psi_bucket_expr(
            [F.col(f"e_p{p}") for p in range(10, 100, 10)]
        ).alias("bucket"),
    )
    refc = bk.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_ref")
    )
    srcc = bk.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_src_bucket")
    )
    return psi_from_bucket_counts(srcc, refc)


def psi_from_bucket_counts(srcc: DataFrame, refc: DataFrame) -> DataFrame:
    """The PSI summary tail over (source, bucket, n_src_bucket) and
    (bucket, n_ref) count frames — ONE definition shared by the batch
    row and its streaming twin (the ``ivf_append_report`` pattern:
    duplicated tails desync silently when only one is edited).
    Totals, the complete source x 1..10 grid, ppm shares clamped
    >= 1, micro-quantized log-ratios, per-source PSI and the
    threshold verdict all live here."""
    from pyspark.sql import Window

    srcs = srcc.groupBy("source").agg(
        F.sum("n_src_bucket").cast("long").alias("n_src")
    )
    grid = srcs.select(
        "source",
        "n_src",
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("_b"),
    ).select(
        "source", "n_src", F.col("_b").cast("long").alias("bucket")
    )
    reft = refc.agg(F.sum("n_ref").cast("long").alias("n_total"))
    sh = (
        grid.crossJoin(bounded_broadcast(reft, "scalar-agg", "1-row reference total"))
        .join(bounded_broadcast(refc, "k-row", "10 buckets"), "bucket", "left")
        .join(srcc, ["source", "bucket"], "left")
        .select(
            "source",
            "bucket",
            F.coalesce(F.col("n_ref"), F.lit(0))
            .cast("long")
            .alias("n_ref"),
            F.coalesce(F.col("n_src_bucket"), F.lit(0))
            .cast("long")
            .alias("n_src_bucket"),
            F.greatest(
                F.expr("(1000000 * coalesce(n_ref, 0)) div n_total"),
                F.lit(1),
            )
            .cast("long")
            .alias("ref_ppm"),
            F.greatest(
                F.expr(
                    "(1000000 * coalesce(n_src_bucket, 0)) div n_src"
                ),
                F.lit(1),
            )
            .cast("long")
            .alias("src_ppm"),
        )
    )
    lr_micro = F.round(
        F.log(F.col("src_ppm").cast("double") / F.col("ref_ppm"))
        * 1_000_000
    ).cast("long")
    terms = (
        sh.withColumn("_lr", lr_micro)
        .withColumn(
            "psi_term_micro",
            F.expr("((src_ppm - ref_ppm) * _lr) div 1000000")
            .cast("long"),
        )
        .drop("_lr")
    )
    w = Window.partitionBy("source")
    return (
        terms.withColumn(
            "psi_total_micro",
            F.sum("psi_term_micro").over(w).cast("long"),
        )
        .withColumn(
            "drifted",
            (F.col("psi_total_micro") >= F.lit(PSI_DRIFT_MICRO))
            .cast("long"),
        )
        .orderBy("source", "bucket")
    )


_PSI_GATE_ORACLE = rf"""
{_PSI_CTES},
psis AS (
  SELECT source, CAST(SUM(psi_term_micro) AS BIGINT) AS psi_total_micro
  FROM terms GROUP BY source)
SELECT d.doc_id, d.lang, d.source, p.psi_total_micro
FROM documents d JOIN psis p ON p.source = d.source
WHERE p.psi_total_micro < {PSI_DRIFT_MICRO}
"""


@query("llm_quality_psi_gate", _PSI_GATE_ORACLE)
def quality_psi_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift -> ACTION gate — closes the quality family's
    monitor -> decide -> act loop the way the trigger rows closed
    maintenance (r11 verdict #5): sources whose quality-score PSI
    against the pooled corpus reads at or over the standard
    ``PSI_DRIFT_MICRO`` investigate line are QUARANTINED — their
    documents are excluded from the curated corpus until the drift is
    adjudicated — and every retained document carries its source's
    PSI total as the audit column. The verdict comes from the same
    ``quality_psi_report`` tail (``psi_from_bucket_counts``) the
    monitor row and its streaming twin share, and the oracle
    interpolates the SAME ``_PSI_CTES`` block as the monitor oracle
    (byte-identical), so the gate can never disagree with the monitor
    it acts on. Both decision branches are pinned by a
    parameterized-threshold pytest.

    Scale posture: the monitor's cost (narrow scoring projection +
    sketch-sized edges + (source x 10)-row counts) plus ONE join of
    the corpus against a source-cardinality verdict frame — no hint;
    AQE broadcasts the per-source aggregate from observed size, and
    the plan stays valid even if source cardinality grows with the
    corpus (the r11 hot-shingle lesson)."""
    return quality_psi_gate_frame(Catalog(spark, sf_dir).documents)


def quality_psi_gate_frame(
    docs: DataFrame, drift_micro: int = PSI_DRIFT_MICRO
) -> DataFrame:
    """Body of ``llm_quality_psi_gate``, parameterized on the drift
    line so tests pin BOTH branches (an impossible line quarantines
    everything -> empty corpus; a generous line retains everything).
    Retained = psi_total_micro < line, the complement of the monitor's
    ``drifted`` verdict at the production constant."""
    kept = psi_kept_sources(quality_psi_report(docs), drift_micro)
    return docs.join(kept, "source").select(
        "doc_id", "lang", "source", "psi_total_micro"
    )


def psi_kept_sources(report: DataFrame, drift_micro: int) -> DataFrame:
    """(source, psi_total_micro) rows for sources UNDER the drift
    line — the complement of the monitor's ``drifted`` verdict. ONE
    definition of the quarantine-set reduction, shared by the batch
    gate, the calibrated-curation capstone, and the streaming gate
    twin — three rows contractually required to agree bit-for-bit on
    the kept set (the ``psi_from_bucket_counts`` shared-tail
    contract, one level up)."""
    return (
        report.groupBy("source")
        .agg(
            F.max("psi_total_micro").cast("long").alias("psi_total_micro")
        )
        .where(F.col("psi_total_micro") < F.lit(int(drift_micro)))
    )


# ------------------------------------------------- calibrated curation

# The composed calibrated-curation oracle stitches the three family
# blocks together as NESTED derived tables (each block keeps its own
# WITH scope, so the t/feat/curve/chosen names of the quality chain
# cannot collide with the dedup chain's): the quality gate block and
# the PSI gate block are the EXACT _CAL_GATE_ORACLE / _PSI_GATE_ORACLE
# texts, and the dedup drop-set / chosen-point chains interpolate the
# same _TOKS_SHING_BODY + _CURVE_CTES + _CAL_APPLY_CTES constants the
# calibrate->apply oracle uses — every stage of the composition is
# byte-shared with the row that owns it.
from .llm_queries import (  # noqa: E402  (cycle-free: llm_queries imports nothing from this module)
    _CAL_APPLY_CTES,
    _CURVE_CTES,
    _TOKS_SHING_BODY,
    DEDUP_DROP_BUDGET_PPM,
)

_CAL_CURVE_SQL = ",\n".join(_cal_curve_parts())

_CURATE_CAL_ORACLE = rf"""
WITH q AS MATERIALIZED (
SELECT doc_id FROM (
{_CAL_GATE_ORACLE}
) gq),
dr AS MATERIALIZED (
SELECT doc_id FROM (
{_PSI_GATE_ORACLE}
) gp),
dup AS MATERIALIZED (
SELECT member AS doc_id FROM (
WITH RECURSIVE {_TOKS_SHING_BODY}
{_CURVE_CTES},
{_CAL_APPLY_CTES}
SELECT member, cluster_id FROM clusters
) gd WHERE member <> cluster_id),
qch AS (
SELECT th AS quality_threshold_micro, met AS quality_met_floor FROM (
{_CAL_CURVE_SQL},
{_CAL_CHOSEN_CTE}
SELECT ch.th, ch.met FROM chosen ch
) gqc),
dch AS (
SELECT dedup_threshold_pct, dedup_within_budget FROM (
WITH RECURSIVE {_TOKS_SHING_BODY}
{_CURVE_CTES},
{_CAL_APPLY_CTES}
SELECT cv.threshold_pct AS dedup_threshold_pct,
       CAST(CASE WHEN cv.drop_rate_ppm <= {DEDUP_DROP_BUDGET_PPM}
            THEN 1 ELSE 0 END AS BIGINT) AS dedup_within_budget
FROM cv
) gdc),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM q),
nqd AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM q JOIN dr USING (doc_id)),
ndup AS (SELECT CAST(COUNT(*) AS BIGINT) AS c
         FROM q JOIN dr USING (doc_id) JOIN dup USING (doc_id))
SELECT nd.n_docs,
       qch.quality_threshold_micro, qch.quality_met_floor,
       CAST(nd.n_docs - nq.c AS BIGINT) AS n_fail_quality,
       CAST({PSI_DRIFT_MICRO} AS BIGINT) AS psi_line_micro,
       CAST(nq.c - nqd.c AS BIGINT) AS n_drift_dropped,
       dch.dedup_threshold_pct, dch.dedup_within_budget,
       ndup.c AS n_dup_dropped,
       CAST(nqd.c - ndup.c AS BIGINT) AS n_kept
FROM nd, nq, nqd, ndup, qch, dch
"""


@query("llm_corpus_curate_calibrated", _CURATE_CAL_ORACLE)
def corpus_curate_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CURATION PIPELINE AT ITS CALIBRATED OPERATING POINTS — the
    capstone of the calibration family: the corpus is curated by the
    three production filters, each at the point its own loop chose
    (quality: highest-F1 threshold meeting the precision floor, the
    ``llm_quality_calibrated_gate`` policy; drift: sources under the
    standard PSI investigate line, the ``llm_quality_psi_gate``
    verdict; dedup: cluster-closure non-keepers at the most
    aggressive threshold within the drop budget, the
    ``llm_dedup_calibrated_apply`` policy), and the single audit row
    attributes every document to its first failing stage in the
    fixed quality -> drift -> dedup order, alongside every chosen
    operating point. The drop SETS are corpus-level (each filter is
    calibrated and evaluated on the full corpus, then intersected —
    single-pass curation semantics, not a re-calibrated cascade);
    the stage order only attributes the counts.

    The oracle nests each family's EXACT shared block as its own
    derived-table scope (``_CAL_GATE_ORACLE``, ``_PSI_GATE_ORACLE``,
    ``_TOKS_SHING_BODY + _CURVE_CTES + _CAL_APPLY_CTES``,
    ``_CAL_CHOSEN_CTE``) — nothing is re-stated, so the composition
    cannot disagree with any of the five rows it composes. All three
    driver-side decisions read sweep-constant-sized frames (9-row
    quality curve, 5-row dedup curve; the PSI line is a module
    constant) — the documented closure-constant pattern.

    Scale posture: the sum of its parts, nothing more — K narrow
    training scans + one feature-frame sweep (quality), the
    sketch-edged PSI monitor + one source-verdict join (drift), one
    exact-overlap pair pass + chosen-point closure (dedup), then ONE
    flag-join aggregate over the persisted feature frame; output is
    one row."""
    return corpus_curate_calibrated_frame(
        spark, Catalog(spark, sf_dir).documents
    )


def corpus_curate_calibrated_frame(
    spark: SparkSession,
    docs: DataFrame,
    floor_micro: int = QUALITY_PRECISION_FLOOR_MICRO,
    drift_micro: int = PSI_DRIFT_MICRO,
    budget_ppm: int = DEDUP_DROP_BUDGET_PPM,
) -> DataFrame:
    """Body of ``llm_corpus_curate_calibrated``, parameterized on all
    three policy knobs so tests pin the decision branches and the
    stage-count identity (n_docs = n_fail_quality + n_drift_dropped +
    n_dup_dropped + n_kept) independently of the corpus slice."""
    from ..caching import tracked_persist
    from ..concurrency import run_legs
    from ..operators.quality_ml import _p_micro_expr, fit_quality_logreg
    from .llm_queries import (
        _choose_dedup_threshold,
        _drops_at_threshold,
        _pairs_at_sweep_floor,
        _threshold_curve_frame,
    )

    # The quality leg (feature-frame materialization + 7 training
    # aggregates + the 9-row curve collect) and the dedup leg (the
    # sweep-floor pair materialization + the 5-row curve collect) are
    # INDEPENDENT chains of driver-blocking jobs — neither reads the
    # other's frames until the final flag-join aggregate. Run them as
    # two concurrent driver threads (optimization guide §2.6: Spark's
    # scheduler runs several jobs at once; FIFO back-fills the tail of
    # one leg with the other's tasks) so the row's wall-clock is
    # max(leg) + final aggregate instead of sum(legs). Results are
    # unchanged: each leg is deterministic and reads only its own
    # inputs; the only shared mutable state is the tracked-persist
    # list, whose appends are atomic under the GIL.
    def _quality_leg():
        # source rides the persisted feature frame (feature_frame's
        # keep tuple) — no extra corpus-sized join just to recover it;
        # the training aggregates never read it, so the weights are
        # identical
        feats, w, means, _n = fit_quality_logreg(
            docs, keep=("doc_id", "source")
        )
        qth, qmet = _choose_quality_point(
            quality_curve_frame(feats, w, means).collect(), floor_micro
        )  # bounded: one row per _CAL_THRESHOLDS sweep constant
        return feats, w, means, qth, qmet

    def _dedup_leg():
        st = tracked_persist(_pairs_at_sweep_floor(docs))
        curve = {
            int(r["threshold_pct"]): r
            for r in _threshold_curve_frame(spark, st, docs).collect()
        }  # bounded: one row per sweep constant
        return st, curve

    # shared InheritableThread-wrapped pool (concurrency.run_legs,
    # r14 ADVICE): job properties inherit into the legs and repeat
    # invocations reuse one pool instead of leaking paired JVM threads
    (feats, w, means, qth, qmet), (st, curve) = run_legs(
        _quality_leg, _dedup_leg
    )
    # the PSI leg rides the PERSISTED feature frame (score == f1 by
    # definition, pinned by test_psi_score_equals_quality_f1) instead
    # of re-scanning + re-tokenizing the corpus (r13: the r12 verdict
    # #3 shared-persist trim — one fewer full text pass); it is fully
    # lazy (no driver action), so it stays outside the thread pool and
    # evaluates inside the final aggregate as before
    kept_src = psi_kept_sources(
        psi_report_from_scores(
            feats.select("doc_id", "source", F.col("f1").alias("score"))
        ),
        drift_micro,
    ).select("source", F.lit(1).alias("_ok_src"))
    dth, dwb = _choose_dedup_threshold(curve, budget_ppm)
    drops = _drops_at_threshold(st, dth).select(
        F.col("member").alias("doc_id"), F.lit(1).alias("_dup")
    )
    flags = (
        feats.select(
            "doc_id", "source", _p_micro_expr(w, means).alias("p")
        )
        .join(kept_src, "source", "left")
        .join(drops, "doc_id", "left")
        # no hints: the source-verdict and drop-set sides are
        # corpus-dependent; AQE upgrades them from observed sizes
    )
    q_pass = f"p >= {int(qth)}"
    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.expr(f"CASE WHEN NOT ({q_pass}) THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_fail_quality"),
        F.sum(
            F.expr(
                f"CASE WHEN ({q_pass}) AND _ok_src IS NULL"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("n_drift_dropped"),
        F.sum(
            F.expr(
                f"CASE WHEN ({q_pass}) AND _ok_src = 1 AND _dup = 1"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("n_dup_dropped"),
        F.sum(
            F.expr(
                f"CASE WHEN ({q_pass}) AND _ok_src = 1 AND _dup IS NULL"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("n_kept"),
    )
    return agg.select(
        "n_docs",
        F.lit(int(qth)).cast("long").alias("quality_threshold_micro"),
        F.lit(int(qmet)).cast("long").alias("quality_met_floor"),
        "n_fail_quality",
        F.lit(int(drift_micro)).cast("long").alias("psi_line_micro"),
        "n_drift_dropped",
        F.lit(int(dth)).cast("long").alias("dedup_threshold_pct"),
        F.lit(int(dwb)).cast("long").alias("dedup_within_budget"),
        "n_dup_dropped",
        "n_kept",
    )
