"""Reference BPE trainer: the expected output of ``llm_bpe_train_vocab``.

The row's registered oracle is a literal pinned on one fixed corpus,
so on generated documents it cannot serve. This is the same Sennrich
word-level training in plain Python: lower-cased whitespace tokens,
each word spelled as characters plus the end-of-word symbol ``▁``;
every round merges the most frequent adjacent pair (ties: the pair
text ``"left right"`` ascending), greedily left to right and without
overlap. On the engine's own sf0.01 test corpus it reproduces the
pinned literal exactly.
"""

from __future__ import annotations

from collections import Counter

EOW = "▁"


def train(texts, n_merges: int = 16) -> list[tuple[int, str, str, int]]:
    """(merge_rank, lhs, rhs, pair_count) for the first ``n_merges``
    merges learned from ``texts``."""
    words = Counter(w for t in texts for w in t.lower().split())
    table = {w: list(w) + [EOW] for w in words}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for w, syms in table.items():
            n = words[w]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )
        merges.append((rank, left, right, cnt))
        for w, syms in table.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    merged.append(left + right)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            table[w] = merged
    return merges


def expected(data_dir: str):
    """(columns, rows) the row must return over ``data_dir``."""
    import pyarrow.parquet as pq

    texts = pq.read_table(f"{data_dir}/documents.parquet", columns=["text"])
    return (
        ["merge_rank", "lhs", "rhs", "pair_count"],
        train(texts.column("text").to_pylist()),
    )
