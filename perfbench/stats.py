"""Pure helpers of the benchmark: percentiles, metric names, failure
accounting and the result line. No Spark here, so the self-tests run in a
plain interpreter."""

from __future__ import annotations

import json
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
# a tail percentile is reported only with at least this many samples beyond it
TAIL_SAMPLES = 10


def check_name(name: str) -> str:
    if not NAME_RE.fullmatch(name) or len(name) > 64:
        raise ValueError(f"bad metric name {name!r}")
    return name


def nearest_rank(samples: list[float], p: float) -> float:
    """The ``p``-th percentile by the nearest-rank rule."""
    if not samples:
        raise ValueError("no samples")
    s = sorted(samples)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def supported_percentile(n: int, want: int) -> int:
    """The highest percentile ``<= want`` that leaves at least
    ``TAIL_SAMPLES`` of ``n`` samples beyond it, but never below the median:
    with fewer than ``2 * TAIL_SAMPLES`` samples the median is reported."""
    if n <= 0:
        raise ValueError("no samples")
    best = math.floor(100 * (n - TAIL_SAMPLES) / n)
    return max(50, min(want, best))


def tail(samples: list[float], want: int) -> tuple[int, float, int]:
    """``(percentile used, value, sample count)`` for a wanted tail."""
    p = supported_percentile(len(samples), want)
    return p, nearest_rank(samples, p), len(samples)


def median(samples: list[float]) -> float:
    return statistics.median(samples)


class Tally:
    """Failure accounting: every timed or checked operation is attempted
    once; an exception or a wrong answer marks it failed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:300])

    def check(self, good: bool, what: str) -> bool:
        if good:
            self.ok()
        else:
            self.fail(what)
        return good

    @property
    def ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def result_line(tally: Tally, metrics: dict[str, tuple[float, str]]) -> str:
    """The contract's last stdout line. ``correct`` needs at least one
    attempted operation and no failed one."""
    return json.dumps({
        "correct": tally.attempted > 0 and tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {check_name(k): {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    })
