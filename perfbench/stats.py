"""Order statistics and mix checks shared by the workloads."""

from __future__ import annotations

import math

# A reported tail percentile needs at least this many samples beyond it.
TAIL_SAMPLES = 10


def nearest_rank(values, pct: float) -> float:
    """The nearest-rank ``pct``-th percentile of ``values``."""
    xs = sorted(values)
    return xs[max(1, math.ceil(pct / 100 * len(xs))) - 1]


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile above the median with at least
    ``TAIL_SAMPLES`` of ``n`` samples beyond its nearest rank, or None
    when ``n`` is too small for any (fewer than 2 * TAIL_SAMPLES)."""
    for pct in range(99, 49, -1):
        if n - math.ceil(pct / 100 * n) >= TAIL_SAMPLES:
            return pct
    return None


def median_band(mix: dict, typical_ms: dict) -> tuple[str, float]:
    """(op kind holding the median, distance from the median to the
    nearer edge of that kind's band).

    Ops are ranked by latency; if each kind's latencies sit in their own
    mode, ordered by ``typical_ms``, kind k occupies the rank band between
    the summed shares of the faster kinds and that sum plus its own share
    ``mix[k]``. A median close to a band edge is set by the noisy extremes
    of two modes, so callers require a margin.
    """
    total = sum(mix.values())
    lo = 0.0
    for kind in sorted(mix, key=lambda k: typical_ms[k]):
        hi = lo + mix[kind] / total
        if lo <= 0.5 < hi:
            return kind, min(0.5 - lo, hi - 0.5)
        lo = hi
    raise ValueError("empty mix")


def mix_weights(kinds: list[str], mix: dict) -> list[float]:
    """Weight per sample so that each op kind carries its share of the
    declared ``mix``, however many of its ops a run reached. Kinds with no
    sample drop out and the rest are renormalized."""
    counts = {k: kinds.count(k) for k in set(kinds)}
    total = sum(mix[k] for k in counts)
    return [mix[k] / total / counts[k] for k in kinds]


def weighted_quantile(samples: list[tuple[str, float]], mix: dict,
                      q: float) -> tuple[str, float]:
    """(kind, latency) of the op at quantile ``q`` of the latency
    distribution of the declared ``mix``: the first op, by latency, at
    which the cumulative mix weight reaches ``q``."""
    ranked = sorted(samples, key=lambda s: s[1])
    weights = mix_weights([k for k, _ in ranked], mix)
    cum = 0.0
    for (kind, value), w in zip(ranked, weights):
        cum += w
        if cum >= q - 1e-12:
            return kind, value
    return ranked[-1]


def central_share(samples: list[tuple[str, float]], mix: dict) -> float:
    """Measured form of :func:`median_band`: the share of the mix weight
    between the 40th and 60th percentile that belongs to the kind of the
    median op (1.0 when the median sits well inside one mode)."""
    mid, _ = weighted_quantile(samples, mix, 0.5)
    ranked = sorted(samples, key=lambda s: s[1])
    weights = mix_weights([k for k, _ in ranked], mix)
    lo, inside, same = 0.0, 0.0, 0.0
    for (kind, _), w in zip(ranked, weights):
        part = max(0.0, min(lo + w, 0.6) - max(lo, 0.4))
        inside += part
        same += part if kind == mid else 0.0
        lo += w
    return same / inside if inside else 1.0
