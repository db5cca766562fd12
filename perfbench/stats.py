"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics


class TooFewSamples(ValueError):
    """A percentile was asked for with too few samples beyond it."""


def percentile(values: list[float], q: float, min_tail: int = 10) -> float:
    """The ``q``-th percentile (0 < q < 100, inclusive method) of
    ``values``. Refuses (raises :class:`TooFewSamples`) unless at least
    ``min_tail`` samples lie strictly beyond it, so a tail percentile
    is never read off a handful of samples."""
    if not 0 < q < 100:
        raise ValueError(f"q must be in (0, 100), got {q}")
    if len(values) < 2:
        raise TooFewSamples(f"{len(values)} samples")
    cut = statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]
    beyond = sum(1 for v in values if v > cut)
    if beyond < min_tail:
        raise TooFewSamples(
            f"p{q:g} of {len(values)} samples has {beyond} beyond it,"
            f" need {min_tail}"
        )
    return cut
