"""Unit tests for the offline changepoint/trend module: AMOC exact
between-variance argmax vs a Fraction brute force, Mann–Kendall S and
tie-corrected variance vs a pairwise reference, and Pettitt's
changepoint vs a brute-force reference."""

from __future__ import annotations

import random
from fractions import Fraction

from pyspark.sql import Row

from pyreshaper_spark.operators.changepoint import (
    amoc_changepoint,
    mann_kendall,
    pettitt,
)

DAY = 86400
HOUR = 3600


def _tier(spark, series):
    """series: dict[(source, day_idx)] -> list of (hour_idx, value)."""
    rows = [
        Row(source=s, bucket_s=d * DAY + h * HOUR, sum_n_tok=v)
        for (s, d), pts in series.items()
        for h, v in pts
    ]
    return spark.createDataFrame(rows)


def _amoc_ref(pts):
    """Brute-force AMOC on [(x, v)] sorted by x: returns (t, x_last_left,
    gain Fraction) with earliest-split tie-break."""
    pts = sorted(pts)
    n = len(pts)
    best = None
    for t in range(1, n):
        sl = sum(v for _, v in pts[:t])
        sr = sum(v for _, v in pts[t:])
        a = (sl * (n - t) - sr * t) ** 2
        g = Fraction(a, t * (n - t) * n)
        if best is None or g > best[2]:
            best = (t, pts[t - 1][0], g, a, t * (n - t) * n)
    return best


def _mk_ref(pts):
    """(S, n, var18) brute force."""
    pts = sorted(pts)
    vs = [v for _, v in pts]
    n = len(vs)
    s = sum(
        (vs[j] > vs[i]) - (vs[j] < vs[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    tie18 = sum(t * (t - 1) * (2 * t + 5) for t in Counter(vs).values())
    return s, n, n * (n - 1) * (2 * n + 5) - tie18


def test_amoc_step_series(spark):
    # clean step: 5 low hours then 5 high hours -> split at t=5
    pts = [(h, 10) for h in range(5)] + [(h, 100) for h in range(5, 10)]
    out = amoc_changepoint(
        _tier(spark, {("a", 0): pts}), DAY, HOUR
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.source, r.bucket_s, r.n_pts, r.cp_t, r.cp_x) == (
        "a", 0, 10, 5, 4
    )
    t, x, g, a, b = _amoc_ref(pts)
    assert int(r.gain_num) == a and int(r.gain_den) == b


def test_amoc_constant_series_earliest_tie(spark):
    # all equal -> every split has gain 0 -> earliest split wins
    pts = [(h, 7) for h in range(4)]
    r = amoc_changepoint(_tier(spark, {("a", 0): pts}), DAY, HOUR).collect()
    assert len(r) == 1
    assert (r[0].cp_t, int(r[0].gain_num)) == (1, 0)


def test_amoc_single_point_group_dropped(spark):
    out = amoc_changepoint(
        _tier(spark, {("a", 0): [(0, 5)], ("b", 0): [(0, 1), (1, 9)]}),
        DAY, HOUR,
    ).collect()
    assert {r.source for r in out} == {"b"}


def test_amoc_fuzz_vs_fraction_reference(spark):
    rng = random.Random(20260820)
    series = {}
    refs = {}
    for gi in range(30):
        src = f"s{gi % 7}"
        day = gi // 7
        n = rng.randint(2, 24)
        hours = rng.sample(range(24), n)
        pts = [(h, rng.randint(0, 10**6)) for h in sorted(hours)]
        series[(src, day)] = pts
        refs[(src, day * DAY)] = _amoc_ref(pts)
    out = amoc_changepoint(_tier(spark, series), DAY, HOUR).collect()
    assert len(out) == len(refs)
    for r in out:
        t, x, g, a, b = refs[(r.source, r.bucket_s)]
        assert (r.cp_t, r.cp_x, int(r.gain_num), int(r.gain_den)) == (
            t, x, a, b
        ), (r.source, r.bucket_s)


def test_amoc_domain_guard_fires_before_comparison_overflow(spark):
    # the argmax cross-multiply A_j*B_i must fit decimal(38,0): the
    # guard bound is sqrt((1e38-1)/B_max), NOT 1e18 — a value in the
    # gap would overflow the comparison to NULL under non-ANSI and
    # silently return several "best" rows (review finding)
    import pytest

    from pyreshaper_spark.operators.changepoint import _amoc_d_bound

    bound = _amoc_d_bound(24)
    assert 1.6e17 < bound < 1.8e17  # 12*12*24 = 3456 denominator max
    ok = _tier(spark, {("a", 0): [(0, bound - 5), (1, 0)]})
    r = amoc_changepoint(ok, DAY, HOUR).collect()
    assert len(r) == 1 and int(r[0].gain_num) == (bound - 5) ** 2
    bad = _tier(spark, {("a", 0): [(0, bound + 1), (1, 0)]})
    with pytest.raises(Exception, match="decimal|amoc_changepoint"):
        amoc_changepoint(bad, DAY, HOUR).collect()


def test_mann_kendall_vs_reference(spark):
    rng = random.Random(7)
    series = {}
    refs = {}
    for gi in range(20):
        src = f"s{gi % 5}"
        day = gi // 5
        n = rng.randint(2, 24)
        hours = rng.sample(range(24), n)
        # small value range -> plenty of ties to exercise tie18
        pts = [(h, rng.randint(0, 5)) for h in sorted(hours)]
        series[(src, day)] = pts
        refs[(src, day * DAY)] = _mk_ref(pts)
    out = mann_kendall(_tier(spark, series), DAY, HOUR).collect()
    assert len(out) == len(refs)
    for r in out:
        s, n, var18 = refs[(r.source, r.bucket_s)]
        assert (r.s_stat, r.n_pts, r.var18) == (s, n, var18)
        assert r.trend == (s > 0) - (s < 0)


def test_mann_kendall_monotone_series(spark):
    pts = [(h, h * 10) for h in range(8)]
    r = mann_kendall(_tier(spark, {("a", 0): pts}), DAY, HOUR).collect()[0]
    n = 8
    assert r.s_stat == n * (n - 1) // 2  # every pair ascending
    assert r.var18 == n * (n - 1) * (2 * n + 5)  # no ties
    assert r.trend == 1


def _pettitt_ref(pts):
    """Brute force: (t, x_last_left, U_t) with max |U|, earliest tie."""
    pts = sorted(pts)
    vs = [v for _, v in pts]
    n = len(vs)
    best = None
    for t in range(1, n):
        u = sum(
            (vs[j] > vs[i]) - (vs[j] < vs[i])
            for i in range(t)
            for j in range(t, n)
        )
        if best is None or abs(u) > abs(best[2]):
            best = (t, pts[t - 1][0], u)
    return best


def test_pettitt_step_series(spark):
    pts = [(h, 10) for h in range(5)] + [(h, 100) for h in range(5, 10)]
    r = pettitt(_tier(spark, {("a", 0): pts}), DAY, HOUR).collect()
    assert len(r) == 1
    # split at t=5: every (low, high) pair crosses ascending -> U = 25
    assert (r[0].cp_t, r[0].cp_x, r[0].u_stat) == (5, 4, 25)


def test_pettitt_fuzz_vs_reference(spark):
    rng = random.Random(99)
    series = {}
    refs = {}
    for gi in range(25):
        src = f"s{gi % 5}"
        day = gi // 5
        n = rng.randint(2, 24)
        hours = rng.sample(range(24), n)
        pts = [(h, rng.randint(0, 8)) for h in sorted(hours)]
        series[(src, day)] = pts
        refs[(src, day * DAY)] = _pettitt_ref(pts)
    out = pettitt(_tier(spark, series), DAY, HOUR).collect()
    assert len(out) == len(refs)
    for r in out:
        t, x, u = refs[(r.source, r.bucket_s)]
        assert (r.cp_t, r.cp_x, r.u_stat) == (t, x, u), (
            r.source, r.bucket_s
        )
