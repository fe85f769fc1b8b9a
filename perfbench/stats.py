"""Summary statistics the benchmark reports."""

from __future__ import annotations

#: a tail percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def tail(values: list[float]) -> tuple[int, float]:
    """The highest whole percentile with ``MIN_BEYOND`` samples above it.

    Returns ``(percentile, value)`` by the nearest-rank rule: the value
    at rank ``ceil(p/100 * n)`` of the sorted samples, with
    ``n - rank >= MIN_BEYOND``.
    """
    n = len(values)
    if n <= MIN_BEYOND:
        raise ValueError(f"{n} samples leave no percentile with {MIN_BEYOND} beyond it")
    p = 100 * (n - MIN_BEYOND) // n
    rank = -(-p * n // 100)  # ceil(p * n / 100)
    return p, sorted(values)[rank - 1]


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    covered, edge = 0.0, span["start"]
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], edge), min(c["end"], span["end"])
        if hi > lo:
            covered += hi - lo
            edge = hi
    return span["end"] - span["start"] - covered
