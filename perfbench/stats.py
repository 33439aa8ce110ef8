"""The benchmark's arithmetic, kept free of Spark so it can be unit-tested.

Every end-to-end number the benchmark prints is computed by one of the
functions below; ``test_stats.py`` pins each of them, so a change to the
harness cannot move a metric silently.
"""

from __future__ import annotations

import collections
import math
import statistics
from collections.abc import Iterable, Sequence


class TooFewSamples(ValueError):
    """A percentile was asked of fewer samples than it needs."""


def samples_needed(q: float, beyond: int = 10) -> int:
    """Smallest sample count with at least ``beyond`` samples above the
    ``q``-quantile (0 < q < 1): p99 needs 1000, p50 needs 20."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile must lie in (0, 1), got {q}")
    return math.ceil(beyond / (1.0 - q) - 1e-9)


def percentile(values: Sequence[float], q: float, beyond: int = 10) -> float:
    """Linear-interpolated ``q``-quantile of ``values``.

    Refuses (``TooFewSamples``) unless at least ``beyond`` samples lie
    above the quantile, so a tail figure is never read off a handful of
    points. ``beyond=0`` turns the guard off (medians of a few passes).
    """
    n = len(values)
    if n == 0:
        raise TooFewSamples("no samples")
    if beyond and n < samples_needed(q, beyond):
        raise TooFewSamples(
            f"p{q * 100:g} needs {samples_needed(q, beyond)} samples, got {n}"
        )
    s = sorted(values)
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 0.5, beyond=0)


def geomean(values: Iterable[float]) -> float:
    """Geometric mean of positive values."""
    vals = list(values)
    if not vals:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in vals):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def line_latencies(
    scheduled: Sequence[float], cumulative: Sequence[int], emitted: Sequence[float]
) -> list[float]:
    """Emit latency of every line consumed by the listed batches.

    ``scheduled[i]`` is when line ``i`` was due to be sent;
    ``cumulative[b]`` is the total count of lines consumed once batch
    ``b`` is done and ``emitted[b]`` is when its sink call returned. Lines
    are consumed in send order, so batch ``b`` holds lines
    ``[cumulative[b-1], cumulative[b])``. A line's latency is the emit time
    of its batch minus its due time, so a generator that fell behind still
    charges the wait.
    """
    if len(cumulative) != len(emitted):
        raise ValueError("one emit time per batch")
    if any(b < a for a, b in zip(cumulative, cumulative[1:])):
        raise ValueError("cumulative offsets must not decrease")
    out: list[float] = []
    prev = 0
    for total, t_emit in zip(cumulative, emitted):
        out.extend(t_emit - scheduled[line] for line in range(prev, total))
        prev = total
    return out


def tag_counts(lines: Iterable[str]) -> collections.Counter:
    """Occurrences of each ``#`` token, tokenizing exactly as the
    program does: split on single spaces, keep ``#``-prefixed tokens."""
    c: collections.Counter = collections.Counter()
    for line in lines:
        c.update(t for t in line.split(" ") if t.startswith("#"))
    return c


def count_identity_errors(
    window_sums: dict[str, int], occurrences: collections.Counter, windows_per_row: int = 2
) -> list[str]:
    """Check the trending table against its input: with a 10 s window
    sliding 5 s every arrival lies in exactly two windows, so for each
    tag the sum of ``cnt`` over windows equals twice its occurrences.
    Returns one message per broken tag (empty when the table is right)."""
    problems = []
    for tag in sorted(set(window_sums) | set(occurrences)):
        want = windows_per_row * occurrences.get(tag, 0)
        got = window_sums.get(tag, 0)
        if got != want:
            problems.append(f"{tag}: sum(cnt)={got}, expected {want}")
    return problems


class Outcomes:
    """Attempted and failed operations, with the reason for each failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, why: str) -> None:
        self.attempted += 1
        self.failures.append(why)

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def iqr_share(values: Sequence[float]) -> float:
    """Distance between the first and third quartile over the median,
    as ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
