"""The benchmark's own arithmetic: typical latency, tail percentile,
failure share, span self time and the metric-name grammar. Pure functions, tested in
``perfbench/tests``."""

from __future__ import annotations

import math
import re
import statistics
from collections.abc import Iterable, Mapping, Sequence

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
TAIL_MIN_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    """A metric name starts with a letter or digit and is at most 64 of
    ``[A-Za-z0-9_.-]``."""
    return NAME_RE.fullmatch(name) is not None


def tail_percentile(values: Sequence[float]) -> tuple[float, float] | None:
    """(percentile, value) for the highest percentile that still has at
    least ten samples above it, or None when the sample cannot support
    one (ten samples or fewer).

    With ``n`` sorted samples the value at 1-based rank ``k`` has
    ``n - k`` samples beyond it, so the rank is ``n - 10`` and the
    percentile ``100 * (n - 10) / n``."""
    n = len(values)
    k = n - TAIL_MIN_BEYOND
    if k < 1:
        return None
    return 100.0 * k / n, sorted(values)[k - 1]


def median_gmean(by_kind: Mapping[str, Sequence[float]]) -> float:
    """Each op kind's median latency, then their geometric mean.

    A mixed workload's op kinds differ in latency by more than they vary,
    so a median over all its ops falls between clusters and jumps with
    the order of two values; this gives every kind the same weight. With
    one kind it is the median."""
    if not by_kind or not all(by_kind.values()):
        raise ValueError("no latencies")
    logs = [math.log(statistics.median(v)) for v in by_kind.values()]
    return math.exp(sum(logs) / len(logs))


def failed_frac(attempted: int, failed: int) -> float:
    """Failed ops over attempted ops; an op that fails its correctness
    check counts as failed."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def covered(interval: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``children``
    (each clipped to ``interval``)."""
    lo, hi = interval
    clipped = sorted(
        (max(lo, a), min(hi, b)) for a, b in children if min(hi, b) > max(lo, a)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(interval: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (interval[1] - interval[0]) - covered(interval, children)
