"""Text-analysis operators for LLM-data pipelines (north-star surface,
SURVEY.md section 7 M7): tokenization, quality scoring, language id,
document fingerprinting.

Everything is built from JVM-side ``pyspark.sql.functions`` — zero
Python UDFs — so the whole stage is whole-stage-codegen'd and scales
linearly with the corpus: at 100 TB these are embarrassingly parallel
narrow maps over the document partitions.

Determinism contract: each expression has an exact ANSI-SQL twin
(plans/llm_queries.py) so results hash-match DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Fingerprint modulus/base: fold fits 64-bit (h < 2^31, h*131 + 127 < 2^39).
FP_MOD = 2_147_483_647
FP_BASE = 131

# Tiny marker dictionaries for the n-gram-ish language heuristic. The
# heuristic is intentionally simple and fully SQL-expressible; real
# corpora would swap in a trained model via mapInPandas.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "a"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
    "zh": ("de", "shi", "le", "bu"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization: ``split(trim(text), '\\s+')``."""
    return F.split(F.trim(text), r"\s+")


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish subword count: runs of letters, runs of digits, and
    single other non-space characters each count as one token."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), F.lit(0)))


def shingle_array(text: Column, n: int = 3) -> Column:
    """Array of n-word shingles for one document (order preserved,
    duplicates included) — pure Column expression, no shuffle.

    Built by zip_with-ing n shifted slices of the token array. The
    token split is bound ONCE as a transform lambda variable: the
    slices and the length guard reference it n+1 times, and
    interpreted HOF evaluation has no common-subexpression
    elimination, so inlining the split would re-tokenize the document
    n+1 times per row (and referencing it inside the per-shingle
    lambda would re-split once per shingle — quadratic)."""

    def build(toks):
        # greatest(.., 0) guards docs shorter than n tokens:
        # slice(_, 1, 0) is empty, and zip_with of empties stays empty
        cnt = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
        parts = [F.slice(toks, F.lit(j + 1), cnt) for j in range(n)]
        out = parts[0]
        for p in parts[1:]:
            out = F.zip_with(out, p, lambda a, b: F.concat(a, F.lit(" "), b))
        return out

    return F.element_at(F.transform(F.array(ws_tokens(text)), build), 1)


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct n-word shingles per document — the unit for Jaccard /
    MinHash dedup."""
    return df.select(
        F.col(id_col), F.explode(shingle_array(F.col(text_col), n)).alias("shingle")
    ).distinct()


def stopword_count(text: Column) -> Column:
    toks = ws_tokens(F.lower(text))
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))


def quality_exprs(text: Column) -> dict[str, Column]:
    """Quality-scoring features: length, token count, punctuation
    ratio, stopword ratio, mean token length."""
    toks = ws_tokens(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    n_punct = F.size(
        F.regexp_extract_all(text, F.lit(r"[^a-zA-Z0-9\s]"), F.lit(0))
    )
    n_stop = stopword_count(text)
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "punct_ratio": n_punct / F.greatest(n_chars, F.lit(1)),
        "stopword_ratio": n_stop / F.greatest(n_tokens, F.lit(1)),
        "mean_token_len": (n_chars - n_tokens + 1) / F.greatest(n_tokens, F.lit(1)),
    }


def language_id_expr(text: Column) -> Column:
    """Marker-word voting: per language, count marker hits among the
    first tokens; pick the max (ties broken by language code order,
    deterministic); no hits at all -> 'und'."""
    toks = ws_tokens(F.lower(text))

    def marker_hits(markers: tuple[str, ...]):
        # single-arg lambda: a second (defaulted) parameter would make
        # PySpark pass the array index into it
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = [
        (lang, marker_hits(markers)) for lang, markers in sorted(LANG_MARKERS.items())
    ]
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    # reversed so that earlier language codes win ties
    for lang, s in reversed(scores):
        expr = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint_expr(text: Column) -> Column:
    """Polynomial rolling hash over characters:
    ``h = (h * 131 + codepoint) mod (2^31 - 1)`` — an order-sensitive
    document fingerprint (unlike md5, prefix-extendable for rolling
    windows)."""
    chars = F.split(text, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * FP_BASE + F.ascii(ch)) % FP_MOD,
    )


# Tiny sentiment lexicons (EDBT'16 lexicon-scoring pattern, SURVEY M7);
# real corpora would load AFINN/VADER-style tables as a broadcast dim.
POSITIVE_WORDS = ("fast", "good", "great", "small", "big")
NEGATIVE_WORDS = ("slow", "bad", "error", "late")


def sentiment_exprs(text: Column) -> dict[str, Column]:
    """Lexicon sentiment: (pos - neg) / tokens in [-1, 1]."""
    toks = ws_tokens(F.lower(text))

    def hits(words: tuple[str, ...]) -> Column:
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    n_pos, n_neg = hits(POSITIVE_WORDS), hits(NEGATIVE_WORDS)
    return {
        "n_pos": n_pos.cast("long"),
        "n_neg": n_neg.cast("long"),
        "sentiment": (n_pos - n_neg) / F.greatest(F.size(toks), F.lit(1)),
    }


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Fixed token-window chunking with overlap (``chunk_size - stride``
    tokens shared between consecutive chunks) — the context-window
    packing step ahead of tokenization in a training-data pipeline.

    posexplode over a generated starts sequence keeps this a narrow
    per-row flatMap: no shuffle, output rows ∝ input tokens, so at
    100 TB it rides the document partitioning untouched."""
    toks = ws_tokens(F.col(text_col))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(stride)
    )
    ex = df.select(
        F.col(id_col),
        toks.alias("w"),
        F.posexplode(starts).alias("chunk_idx", "start_tok"),
    )
    chunk = F.slice(F.col("w"), F.col("start_tok") + 1, chunk_size)
    return ex.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_tok"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signal: fraction of duplicate
    tokens and duplicate word-trigrams per document. High duplicate
    fractions flag boilerplate / degenerate generations for corpus
    filtering. Pure narrow expressions — no shuffle, scales linearly."""
    toks = ws_tokens(F.col(text_col))
    tri = shingle_array(F.col(text_col), 3)

    def dup_frac(arr: Column) -> Column:
        n, nd = F.size(arr), F.size(F.array_distinct(arr))
        return F.when(n == 0, F.lit(0.0)).otherwise(
            (n - nd) / n.cast("double")
        )

    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        dup_frac(toks).alias("dup_token_frac"),
        F.size(tri).cast("long").alias("n_trigrams"),
        F.size(F.array_distinct(tri)).cast("long").alias("n_distinct_trigrams"),
        dup_frac(tri).alias("dup_trigram_frac"),
    )


def html_to_text(html: Column) -> Column:
    """Strip an HTML page to its visible text — the first step of
    every web-corpus ingest (the CCNet/C4 pipelines run exactly this
    class of transform before any quality scoring). Entirely built-in
    ``regexp_replace`` chains, so it compiles into ONE whole-stage-
    codegen'd JVM projection: script/style/head subtrees dropped
    (non-greedy, case-insensitive, dotall), comments dropped, block-
    level tags become newlines (so paragraph boundaries survive for
    the chunker), remaining tags erased, the five standard entities
    decoded, and whitespace runs collapsed."""
    t = F.regexp_replace(
        html, r"(?is)<(script|style|head|noscript)\b.*?</\1\s*>", " "
    )
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(
        t,
        r"(?i)</?(p|div|br|h[1-6]|li|ul|ol|tr|table|blockquote|section|"
        r"article|header|footer)\b[^>]*>",
        "\n",
    )
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    # &amp; must decode LAST: decoding it first would double-decode
    # nested entities (literal "&amp;lt;" means the text "&lt;").
    for ent, ch in [
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ]:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.regexp_replace(t, r"[ \t\r\f]+", " ")
    t = F.regexp_replace(t, r" ?\n[ \n]*", "\n")
    return F.regexp_replace(t, r"^\s+|\s+$", "")


def link_density_exprs(html: Column) -> dict[str, Column]:
    """Boilerplate signals from raw HTML: link density (chars inside
    <a> tags over total visible chars — navigation/footer pages score
    high) and tag-to-text ratio. Standard readability-style features,
    all JVM-side."""
    anchor_text = F.regexp_replace(
        F.concat_ws(
            " ",
            F.regexp_extract_all(
                html, F.lit(r"(?is)<a\b[^>]*>(.*?)</a\s*>"), F.lit(1)
            ),
        ),
        r"(?s)<[^>]+>",
        "",
    )
    visible = html_to_text(html)
    n_vis = F.length(visible)
    n_tags = F.size(
        F.regexp_extract_all(html, F.lit(r"(?s)<[^>]+>"), F.lit(0))
    )
    return {
        "link_density": F.when(
            n_vis > 0, F.length(anchor_text) / n_vis
        ).otherwise(F.lit(1.0)),
        "tag_ratio": F.when(
            n_vis > 0, n_tags.cast("double") / n_vis
        ).otherwise(F.lit(1.0)),
        "n_visible_chars": n_vis.cast("long"),
    }


def canonical_url(url: Column) -> Column:
    """Canonicalize a URL into the dedup key the CCNet-style pipelines
    group by: scheme and ``www.`` dropped, host lowercased, default
    ports dropped, tracking query parameters (utm_*, fbclid, gclid,
    ref) removed, remaining query keys kept in original order,
    fragment dropped, trailing slash trimmed. Pure built-ins — one
    narrow projection."""
    u = F.trim(url)
    u = F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    u = F.regexp_replace(u, r"#.*$", "")
    host = F.lower(F.regexp_extract(u, r"^([^/?]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":(80|443)$", "")
    rest = F.regexp_replace(u, r"^[^/?]*", "")
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    path = F.regexp_replace(path, r"/+$", "")
    query = F.regexp_extract(rest, r"\?(.*)$", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~p.rlike(r"^(utm_[^=]*|fbclid|gclid|ref)(=|$)"),
    )
    qs = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.concat_ws("&", kept))
    ).otherwise(F.lit(""))
    return F.concat(host, path, qs)


def train_bpe(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    end_of_word: str = "▁",
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Distributed byte-pair-encoding tokenizer training (the Sennrich
    word-level formulation): learn ``n_merges`` merge rules from a
    corpus. Returns (merges as (left, right, pair_count) in learned
    order, final word table (word, n, symbols)).

    The corpus is reduced ONCE to a word-frequency table — vocabulary-
    sized, orders of magnitude smaller than the corpus, which is what
    makes BPE training tractable at 100 TB: every merge round then
    touches only that table. Per round: adjacent symbol pairs explode
    out weighted by word count (narrow), one vocabulary-bounded
    aggregation finds the argmax pair (deterministic tie-break:
    count desc, then pair text), and the merge applies to every word
    via one left-to-right non-overlapping regexp_replace (greedy
    left-to-right is the standard BPE apply order). The single-row
    argmax is the only driver collect per round; the word table is
    localCheckpoint'ed each round so the plan does not deepen.

    ``end_of_word`` is appended as its own symbol (the paper's
    </w> marker) so merges distinguish suffixes from mid-word pairs;
    pass "" to disable."""
    import re

    words = (
        df.select(F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sym = F.concat_ws(" ", F.split(F.col("w"), ""))
    if end_of_word:
        sym = F.concat(sym, F.lit(" " + end_of_word))
    table = words.select("w", "n", sym.alias("symbols")).localCheckpoint()
    # Size the table's partitioning to ITS row count, not the corpus
    # scan's: the merge loop runs 2 stages per round over this
    # vocabulary-sized table, and inheriting the corpus partition
    # count schedules rounds of mostly-empty tasks (measured: the
    # fixed per-round cost dominates training at small vocabularies).
    # ~50k words per partition keeps tasks substantial at any scale.
    n_words = table.count()
    parts = max(1, min(table.rdd.getNumPartitions(), n_words // 50_000 + 1))
    if parts < table.rdd.getNumPartitions():
        table = table.repartition(parts).localCheckpoint()

    merges: list[tuple[str, str, int]] = []
    for round_i in range(n_merges):
        syms = F.split(F.col("symbols"), " ")
        pairs = table.where(F.size(syms) >= 2).select(
            "n",
            F.explode(
                F.zip_with(
                    F.slice(syms, 1, F.size(syms) - 1),
                    F.slice(syms, 2, F.size(syms) - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("pair"),
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, cnt = top[0]["pair"], int(top[0]["cnt"])
        left, right = pair.split(" ", 1)
        merges.append((left, right, cnt))
        pattern = (
            "(?<=^|\\s)" + re.escape(left) + " " + re.escape(right)
            + "(?=$|\\s)"
        )
        merged = (left + right).replace("\\", "\\\\").replace("$", "\\$")
        table = table.select(
            "w",
            "n",
            F.regexp_replace(
                F.col("symbols"), pattern, merged
            ).alias("symbols"),
        )
        # checkpoint every 4th round, not every round: the chained
        # regexp_replace projections stay narrow, so the only cost of
        # a deeper plan is driver-side re-planning — bounded at depth
        # 4 — while each eager localCheckpoint costs a full
        # materialization job of the word table
        if round_i % 4 == 3 or round_i == n_merges - 1:
            table = table.localCheckpoint()
    return merges, table


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
    end_of_word: str = "▁",
) -> DataFrame:
    """Encode text with learned BPE merges (the tokenizer's apply
    side): per word, repeatedly merge the present pair with the LOWEST
    merge rank until none applies — exactly the ranked-merge loop of
    standard BPE encoders. Output: (id, n_words, n_tokens, tokens as
    one space-joined string) — token COUNT is the number that feeds
    chunking/packing budgets.

    Arrow-batched ``mapInPandas`` with a per-batch word memo (Zipf's
    law makes the corpus mostly repeated words, so the memo turns the
    per-word loop into a dict hit); the merge table broadcasts via
    task closure — ranks are vocabulary-sized."""
    ranks = {(a, b): i for i, (a, b, _c) in enumerate(merges)}

    def encode_word(word: str, memo: dict) -> list[str]:
        hit = memo.get(word)
        if hit is not None:
            return hit
        syms = list(word) + ([end_of_word] if end_of_word else [])
        while len(syms) >= 2:
            best_i, best_rank = -1, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_i, best_rank = i, r
            if best_rank is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        memo[word] = syms
        return syms

    from pyspark.sql import types as T

    # The id column keeps its caller-supplied name and input type —
    # hardcoding "doc_id"/LongType would silently rename a custom
    # id_col and break non-integer ids at Arrow conversion.
    id_field = df.schema[id_col]
    schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("n_words", T.LongType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("tokens", T.StringType()),
        ]
    )

    def op(batches):
        import pandas as pd

        memo: dict = {}
        for pdf in batches:
            rows = []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                words = (text or "").lower().split()
                toks: list[str] = []
                for w in words:
                    toks.extend(encode_word(w, memo))
                rows.append(
                    {
                        id_col: i,
                        "n_words": len(words),
                        "n_tokens": len(toks),
                        "tokens": " ".join(toks),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[id_col, "n_words", "n_tokens", "tokens"]
            )

    return df.select(id_col, text_col).mapInPandas(op, schema)


def bigram_lm_scores(
    train: DataFrame,
    score: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
    alpha: float = 1.0,
) -> DataFrame:
    """Interpolated bigram language-model scoring — the distributed
    shape of the CCNet-style perplexity filter (theirs is a 5-gram
    KenLM; the pipeline shape is identical): train token statistics on
    a reference corpus, score every candidate document by its mean
    per-bigram log-probability, and threshold downstream. Probability
    model: lam * P_bi(w|p) + (1-lam) * P_uni(w), with add-``alpha``
    smoothing on both terms (so unseen bigrams AND unseen words stay
    finite).

    Scale posture: the model is two aggregations over the reference
    corpus (bigram and unigram counts — vocabulary-sized results with
    map-side partials); scoring joins candidate bigrams against the
    model on the bigram key — vocabulary-sized right side, AQE
    broadcasts it under real skew — then one groupBy(doc) mean. No
    Python touches tokens; log/exp run in codegen.

    Output: (id, n_bigrams, avg_logprob) with avg_logprob in exact
    integer micro-nats (deterministic fold: SUM of per-bigram micro
    log-probs, then integer division)."""
    def bigrams(df: DataFrame, keep_id: bool):
        toks = ws_tokens(F.lower(F.col(text_col)))
        cols = [F.col(id_col)] if keep_id else []
        ex = df.select(
            *cols,
            F.explode(
                F.zip_with(
                    F.slice(toks, 1, F.size(toks) - 1),
                    F.slice(toks, 2, F.size(toks) - 1),
                    lambda a, b: F.struct(a.alias("p"), b.alias("w")),
                )
            ).alias("bg"),
        )
        return ex.select(*cols, F.col("bg.p").alias("p"), F.col("bg.w").alias("w"))

    tb = bigrams(train, keep_id=False)
    bi = tb.groupBy("p", "w").agg(F.count(F.lit(1)).alias("n_bi"))
    uni = tb.groupBy("p").agg(F.count(F.lit(1)).alias("n_p"))
    tot_row = tb.count()
    vocab = uni.count()

    model = bi.join(uni, "p").select(
        "p", "w", "n_bi", "n_p",
    )

    sb = bigrams(score, keep_id=True)
    j = sb.join(model, ["p", "w"], "left").join(
        uni.select("p", F.col("n_p").alias("n_p_all")), "p", "left"
    )
    n_bi = F.coalesce(F.col("n_bi"), F.lit(0)).cast("double")
    n_p = F.coalesce(
        F.col("n_p"), F.col("n_p_all"), F.lit(0)
    ).cast("double")
    p_bi = (n_bi + F.lit(alpha)) / (n_p + F.lit(alpha) * vocab)
    # unigram prob of w: join once more on w as the unigram key
    uw = uni.select(F.col("p").alias("w"), F.col("n_p").alias("n_w"))
    j = j.join(uw, "w", "left")
    p_uni = (
        F.coalesce(F.col("n_w"), F.lit(0)).cast("double") + F.lit(alpha)
    ) / F.lit(float(tot_row + alpha * vocab))
    logp = F.log(F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni)
    micro = F.floor(logp * 1_000_000 + F.lit(0.5)).cast("long")
    return (
        j.select(F.col(id_col), micro.alias("_logp_micro"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("_logp_micro").alias("sum_logprob_micro"),
            F.expr("sum(_logp_micro) div count(*)").alias(
                "avg_logprob_micro"
            ),
        )
    )


def render_chat_template(
    messages: Column,
    bos: str = "<s>",
    eos: str = "</s>",
) -> Column:
    """Render an array<struct<role string, content string>> of chat
    turns into a single training string — the SFT-data formatting step
    (the shape of the public ChatML/Llama-style templates: a tagged
    block per turn, terminated per-turn so loss masks can re-find the
    boundaries). Pure built-in transform + concat_ws: one codegen'd
    projection, no UDF between raw conversations and packed sequences."""
    turn = lambda m: F.concat(  # noqa: E731
        F.lit("<|"), m["role"], F.lit("|>"), m["content"], F.lit(eos)
    )
    return F.concat(F.lit(bos), F.concat_ws("", F.transform(messages, turn)))


def chat_turn_stats(messages: Column) -> dict[str, Column]:
    """Per-conversation screening stats for SFT corpora: turn count,
    whether roles alternate user/assistant after an optional system
    head, and the assistant-content fraction (all-assistant ~1.0 is
    synthetic monologue; ~0.0 has nothing to learn from)."""
    n = F.size(messages)
    body = F.filter(messages, lambda m: m["role"] != F.lit("system"))
    pairs_ok = F.aggregate(
        F.zip_with(
            F.slice(body, 1, F.greatest(F.size(body) - 1, F.lit(0))),
            F.slice(body, 2, F.greatest(F.size(body) - 1, F.lit(0))),
            lambda a, b: (a["role"] != b["role"]).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    asst_chars = F.aggregate(
        F.filter(messages, lambda m: m["role"] == F.lit("assistant")),
        F.lit(0),
        lambda acc, m: acc + F.length(m["content"]),
    )
    total_chars = F.aggregate(
        messages, F.lit(0), lambda acc, m: acc + F.length(m["content"])
    )
    return {
        "n_turns": n.cast("long"),
        "roles_alternate": pairs_ok
        == F.greatest(F.size(body) - 1, F.lit(0)),
        "assistant_char_frac": F.when(
            total_chars > 0, asst_chars / total_chars
        ).otherwise(F.lit(0.0)),
    }


def assistant_spans(
    messages: Column,
    bos: str = "<s>",
    eos: str = "</s>",
) -> Column:
    """Character spans [start, end) of each ASSISTANT turn's content
    inside the string `render_chat_template` produces — the loss-mask
    input for SFT training (loss on assistant tokens only). Computed
    directly from the structured turns with a running-offset fold
    (struct accumulator in `aggregate`), so the spans are exact by
    construction rather than re-parsed from the rendered text."""
    tag_len = lambda m: (  # noqa: E731  <|role|> prefix length
        F.length(m["role"]) + F.lit(4)
    )
    init = F.struct(
        F.lit(len(bos)).cast("int").alias("off"),
        F.array().cast(
            "array<struct<start int, end int>>"
        ).alias("spans"),
    )

    def step(acc, m):
        start = acc["off"] + tag_len(m)
        end = start + F.length(m["content"])
        span = F.struct(
            start.cast("int").alias("start"), end.cast("int").alias("end")
        )
        return F.struct(
            (end + F.lit(len(eos))).cast("int").alias("off"),
            F.when(
                m["role"] == F.lit("assistant"),
                F.concat(acc["spans"], F.array(span)),
            )
            .otherwise(acc["spans"])
            .alias("spans"),
        )

    return F.aggregate(messages, init, step, lambda acc: acc["spans"])
