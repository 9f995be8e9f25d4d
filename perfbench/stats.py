"""Pure statistics the benchmark reports; unit-tested on synthetic data."""

from __future__ import annotations

import math
import statistics

#: percentiles considered for a tail figure, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values) -> tuple[float, str, int]:
    """``(value, label, n)`` for the highest ladder percentile that has at
    least ten samples beyond it, i.e. ``n * (1 - p/100) >= 10``.

    With fewer than 20 samples no percentile qualifies and the maximum
    is reported, labelled ``max``."""
    n = len(values)
    best = None
    for p in TAIL_LADDER:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            best = p
    if best is None:
        return max(values), "max", n
    label = f"p{best:g}"
    return percentile(values, best), label, n


def query_medians(timings) -> dict[str, float]:
    """Each query's median time, from ``(name, seconds)`` per run of it."""
    by_name: dict[str, list[float]] = {}
    for name, secs in timings:
        by_name.setdefault(name, []).append(secs)
    return {name: statistics.median(xs) for name, xs in by_name.items()}


def failed_frac(attempted: int, errors: int, timeouts: int, wrong: int) -> float:
    """Operations that errored, timed out or returned a wrong result,
    over operations attempted. An operation counts once even when it is
    in more than one class, so the classes must be disjoint."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    failed = errors + timeouts + wrong
    if failed > attempted:
        raise ValueError(f"{failed} failures out of {attempted} attempts")
    return failed / attempted


def row_latencies(files, lo: float = -math.inf, hi: float = math.inf) -> list[float]:
    """Newest-event latency of every result row whose newest event was
    created in ``[lo, hi)``.

    ``files`` holds ``(mtime, last_created_values)`` per changelog file the
    sink wrote: a row's latency is the time its file landed minus the
    creation time of the newest event that contributed to it."""
    out = []
    for mtime, created in files:
        out.extend(mtime - c for c in created if lo <= c < hi)
    return out


def pending_at(t: float, landings, consumed) -> int:
    """Events in files landed at or before ``t`` that are not in the set
    ``consumed`` of files already read; ``landings`` is
    ``[(landed_at, file, events)]``."""
    return sum(n for at, f, n in landings if at <= t and f not in consumed)


def backlog_always_present(batches, landings, t0: float, t1: float) -> bool:
    """True when the pipeline never waited for input during ``[t0, t1)``.

    ``batches`` holds ``(start, end, files)`` per micro-batch in order,
    ``files`` being the set of landed files the batch read. Every batch
    that starts inside the window must find unread input already landed
    when it starts, and at least one must start there."""
    consumed: set = set()
    started_inside = 0
    for start, end, files in batches:
        if t0 <= start < t1:
            started_inside += 1
            if pending_at(start, landings, consumed) <= 0:
                return False
        consumed |= set(files)
    return started_inside > 0
