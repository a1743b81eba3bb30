"""Order statistics the benchmark reports, and the result checker.

Kept free of Spark so the tests can import it on their own.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field
from typing import Optional

TAIL_MIN_BEYOND = 10
MASK = 0xFFFFFFFFFFFFFFFF


def _beta_cf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for aa in (
            m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
            -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1)),
        ):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def beta_cdf(x: float, a: float, b: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x)
    )
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def quantile(samples: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a Beta-weighted mean of
    all order statistics rather than the one or two nearest ``q``.

    A run's operations are a mix of statements or queries whose latencies
    differ, so the sorted samples come in clusters with gaps between them.
    The plain sample median sits on one sample and jumps across a gap when a
    single operation changes rank; this estimate moves smoothly, so it
    repeats between runs and moves in proportion when one operation kind
    gets faster or slower."""
    xs = sorted(samples)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = (n + 1) * q, (n + 1) * (1.0 - q)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def tail(samples: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> Optional[dict]:
    """The highest percentile that still has ``min_beyond`` samples above it.

    With ``n`` sorted samples, the value at index ``n - 1 - min_beyond`` is the
    highest one with ``min_beyond`` samples beyond it; it sits at percentile
    ``100 * (n - min_beyond) / n``, which is estimated with ``quantile``.
    Returns None when there are not enough samples to have any such value."""
    n = len(samples)
    if n <= min_beyond:
        return None
    q = (n - min_beyond) / n
    return {
        "value": quantile(samples, q),
        "percentile": round(100.0 * q, 2),
        "samples": n,
        "beyond": min_beyond,
    }


def half_drift_pct(samples: list[float]) -> float:
    """Median of the first half against the second half of a window, in
    percent of the whole window's median (positive: the run sped up)."""
    if len(samples) < 4:
        return 0.0
    h = len(samples) // 2
    first, second = statistics.median(samples[:h]), statistics.median(samples[h:])
    return 100.0 * (first - second) / statistics.median(samples)


def pass_drift_pct(samples: list[float], pass_len: int) -> float:
    """First pass against last pass of a sequence that repeats the same
    operations every ``pass_len`` samples, in percent of their mean."""
    first, last = sum(samples[:pass_len]), sum(samples[-pass_len:])
    return 200.0 * (first - last) / (first + last)


@dataclass
class Expected:
    """What one statement must return: a row count, optionally an
    order-insensitive checksum of the rows, and a map from key to row hash
    for results that may be any subset of the table (a LIMIT without ORDER
    BY)."""

    rows: int
    checksum: Optional[int] = None
    known_rows: Optional[dict] = None
    key: Optional[str] = None


def row_hash(row: dict, columns: list[str]) -> int:
    """Hash of one row's values in ``columns`` order (stable within one
    process, which computes both the expectation and the check)."""
    return hash(tuple(row[c] for c in columns)) & MASK


@dataclass
class Drain:
    """Everything the client saw for one statement: every reply status, the
    rows of every frame, and whether the last frame said ``done``."""

    statuses: list[int] = field(default_factory=list)
    columns: list[str] = field(default_factory=list)
    rows: list[dict] = field(default_factory=list)
    done: bool = False


def check_drain(drain: Drain, exp: Expected) -> Optional[str]:
    """None when the drain is a complete, correct result; otherwise the
    reason the operation counts as failed."""
    bad = [s for s in drain.statuses if s != 200]
    if bad or not drain.statuses:
        return f"http status {bad or 'none'}"
    if not drain.done:
        return f"truncated drain: {len(drain.rows)} rows and no done frame"
    if len(drain.rows) != exp.rows:
        return f"row count {len(drain.rows)} != expected {exp.rows}"
    cols = sorted(drain.columns)
    if exp.checksum is not None:
        got = sum(row_hash(r, cols) for r in drain.rows) & MASK
        if got != exp.checksum:
            return "checksum mismatch"
    if exp.known_rows is not None:
        for r in drain.rows:
            if exp.known_rows.get(r[exp.key]) != row_hash(r, cols):
                return f"row {exp.key}={r[exp.key]!r} is not in the table"
    return None


def expected_from_rows(rows: list[dict]) -> Expected:
    """Expectation for a statement whose full answer is ``rows``."""
    if not rows:
        return Expected(rows=0, checksum=0)
    cols = sorted(rows[0])
    checksum = sum(row_hash(r, cols) for r in rows) & MASK
    return Expected(rows=len(rows), checksum=checksum)
