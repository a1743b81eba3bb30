"""Tests of the benchmark's own statistics and result checker.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from stats import (  # noqa: E402
    Drain,
    Expected,
    check_drain,
    expected_from_rows,
    beta_cdf,
    half_drift_pct,
    pass_drift_pct,
    quantile,
    row_hash,
    tail,
)

ROWS = [{"id": i, "v": float(i) / 4, "s": f"r{i}"} for i in range(25)]


def _drain(rows, statuses=(200,), done=True) -> Drain:
    return Drain(statuses=list(statuses), columns=["id", "v", "s"], rows=list(rows), done=done)


@pytest.mark.parametrize("n", [11, 12, 20, 49, 100, 1000])
def test_tail_keeps_ten_samples_beyond(n):
    samples = [float(i) for i in range(n)]
    t = tail(samples)
    assert sum(1 for x in samples if x > t["value"]) == 10
    assert t["samples"] == n and t["beyond"] == 10
    assert t["percentile"] == pytest.approx(100.0 * (n - 10) / n, abs=0.01)


def test_tail_is_the_highest_such_percentile():
    samples = [float(i) for i in range(100)]
    t = tail(samples)
    # one step higher would leave only nine samples beyond it
    assert t["percentile"] == 90.0
    assert t["value"] == pytest.approx(89.5, abs=1e-6)


def test_tail_ignores_input_order_and_needs_eleven_samples():
    assert tail([3.0, 1.0, 2.0] * 4)["value"] == tail(sorted([3.0, 1.0, 2.0] * 4))["value"]
    assert tail([1.0] * 10) is None


def test_beta_cdf_matches_closed_forms():
    # I_x(1, 1) = x; integer a, b: P(Binomial(a + b - 1, x) >= a)
    assert beta_cdf(0.3, 1, 1) == pytest.approx(0.3)
    assert beta_cdf(0.4, 2, 3) == pytest.approx(1 - 0.6**4 - 4 * 0.4 * 0.6**3)
    assert beta_cdf(0.3, 5.5, 7.5) + beta_cdf(0.7, 7.5, 5.5) == pytest.approx(1.0)
    assert beta_cdf(0.0, 2, 3) == 0.0 and beta_cdf(1.0, 2, 3) == 1.0


def test_quantile_is_order_free_and_exact_on_symmetric_samples():
    for n in (1, 2, 5, 20, 21):
        assert quantile([float(i) for i in range(n)][::-1], 0.5) == pytest.approx((n - 1) / 2)
    assert quantile([3.0] * 7, 0.9) == pytest.approx(3.0)


def test_quantile_moves_smoothly_across_a_gap():
    # two clusters of ten: the sample median is either cluster's edge
    # depending on one sample; the estimate moves by a fraction of the gap
    low, high = [1.0] * 10, [2.0] * 10
    a = quantile(low + high, 0.5)
    b = quantile(low[:-1] + [2.0] + high, 0.5)
    assert 1.0 < a < b < 2.0 and b - a < 0.2


def test_half_drift_and_pass_drift_sign():
    assert half_drift_pct([2.0] * 5 + [1.0] * 5) > 0  # sped up
    assert half_drift_pct([1.0] * 10) == 0.0
    # two passes of the same three operations, the second one 20% faster
    assert pass_drift_pct([1.0, 2.0, 3.0, 0.8, 1.6, 2.4], 3) == pytest.approx(200 * 1.2 / 10.8)


def test_checker_accepts_the_full_answer_in_any_order():
    exp = expected_from_rows(ROWS)
    assert check_drain(_drain(reversed(ROWS)), exp) is None


def test_checker_flags_wrong_row_count():
    exp = expected_from_rows(ROWS)
    assert "row count" in check_drain(_drain(ROWS[:-1]), exp)
    assert "row count" in check_drain(_drain(ROWS + ROWS[:1]), exp)


def test_checker_flags_truncated_drain():
    exp = expected_from_rows(ROWS)
    # the client stopped before a frame said done
    assert "truncated" in check_drain(_drain(ROWS[:10], done=False), exp)
    # a fetch failed mid-drain
    assert "status" in check_drain(_drain(ROWS[:10], statuses=(200, 500), done=False), exp)


def test_checker_flags_wrong_values():
    exp = expected_from_rows(ROWS)
    changed = [dict(r) for r in ROWS]
    changed[3]["v"] = 99.0
    assert check_drain(_drain(changed), exp) == "checksum mismatch"
    assert check_drain(_drain(ROWS), exp) is None


def test_checker_checks_subset_answers_against_known_rows():
    known = {r["id"]: row_hash(r, ["id", "s", "v"]) for r in ROWS}
    exp = Expected(rows=5, known_rows=known, key="id")
    assert check_drain(_drain(ROWS[7:12]), exp) is None
    forged = [dict(r) for r in ROWS[7:12]]
    forged[0]["s"] = "other"
    assert "not in the table" in check_drain(_drain(forged), exp)
