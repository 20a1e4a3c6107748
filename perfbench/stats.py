"""Order statistics and the two-sided comparison rule of the benchmark.

Pure Python, no Spark: the compare command and the tests import this
without starting a JVM.
"""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) with the same method as
    ``statistics.quantiles(values, n=4)`` (exclusive); one sample is its
    own quartiles."""
    if not values:
        raise ValueError("quartiles of no samples")
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median (0 when the
    median is 0 and the quartiles agree, inf when only the median is 0)."""
    q1, q2, q3 = quartiles(values)
    if q2 == 0:
        return 0.0 if q3 == q1 else math.inf
    return (q3 - q1) / abs(q2)


def percentile(values: list[float], p: float, min_beyond: int = 10) -> float:
    """The p-th percentile (nearest rank), refused unless at least
    ``min_beyond`` samples lie beyond it: a p90 needs 100 samples, a p99
    1000. Below that the tail is a handful of samples and not a
    percentile worth reporting."""
    if not 0 < p < 100:
        raise ValueError(f"percentile must be in (0, 100), got {p}")
    n = len(values)
    rank = max(1, math.ceil(n * p / 100))
    if n - rank < min_beyond:
        raise ValueError(
            f"p{p:g} of {n} samples has {n - rank} beyond it; "
            f"need at least {min_beyond}"
        )
    return float(sorted(values)[rank - 1])


def highest_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """(p, value) for the highest of p50/p90/p99/p99.9 that has at least
    ``min_beyond`` samples beyond it, or None when not even p50 has."""
    best = None
    for p in (50, 90, 99, 99.9):
        try:
            best = (p, percentile(values, p, min_beyond))
        except ValueError:
            break
    return best


def verdict(
    base: list[float],
    change: list[float],
    better: str,
    bound: float | None,
) -> tuple[str, int, int]:
    """Compare two sets of runs of one metric on one workload.

    Returns (verdict, wins, pairs) where a pair is (base[i], change[i])
    and a win is the change reading strictly better. Verdicts:

    * ``better``: the change wins at least nine tenths of the pairs and
      the medians differ by more than the base's interquartile distance;
    * ``worse``: the change's median is worse than the base's by more
      than ``bound`` (a share of the base median), with the base's own
      spread within the bound — or every change run reads worse than
      every base run;
    * ``unresolved``: the spread of either side is wider than the bound
      and neither of the above is certain;
    * ``same``: otherwise.

    A metric without a bound (per-layer metrics) is never ``worse`` or
    ``unresolved`` by the bound test, only ``better``/``same`` or worse
    by total separation.
    """
    if better not in ("higher", "lower"):
        raise ValueError(f"better must be 'higher' or 'lower', got {better!r}")
    if not base or not change:
        raise ValueError("verdict needs runs on both sides")
    sign = 1.0 if better == "higher" else -1.0
    n = min(len(base), len(change))
    wins = sum(1 for a, b in zip(base[:n], change[:n]) if sign * (b - a) > 0)
    losses = sum(1 for a, b in zip(base[:n], change[:n]) if sign * (b - a) < 0)
    bq1, bmed, bq3 = quartiles(base)
    cmed = median(change)
    gain = sign * (cmed - bmed)
    if wins >= 0.9 * n and gain > (bq3 - bq1):
        return "better", wins, n
    if better == "higher":
        all_worse = max(change) < min(base)
    else:
        all_worse = min(change) > max(base)
    if losses >= 0.9 * n and all_worse:
        return "worse", wins, n
    if bound is None:
        return "same", wins, n
    noisy = spread(base) > bound or spread(change) > bound
    if -gain > bound * abs(bmed):
        return ("unresolved" if noisy else "worse"), wins, n
    if noisy:
        return "unresolved", wins, n
    return "same", wins, n
