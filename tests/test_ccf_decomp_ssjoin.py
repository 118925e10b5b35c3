"""CCF moments vs a brute-force reference, and seasonal decomposition
vs a hand-rolled centered-MA reference."""

from __future__ import annotations

import random
from collections import defaultdict



def _tier(spark, rows):
    return spark.createDataFrame(
        rows, "source string, bucket_s long, sum_n_tok long"
    )


def test_ccf_moments_brute_force(spark):
    from pyreshaper_spark.operators.correlate import source_ccf_moments

    rng = random.Random(5)
    w = 600
    series = {
        s: {b * w: rng.randint(0, 1000) for b in sorted(
            rng.sample(range(40), 25))}
        for s in ("a", "b", "c")
    }
    rows = [
        (s, t, v) for s, d in series.items() for t, v in d.items()
    ]
    max_lag = 3
    want = defaultdict(lambda: [0, 0, 0, 0, 0, 0])
    for sa, da in series.items():
        for sb, db in series.items():
            if sa == sb:
                continue
            for lag in range(max_lag + 1):
                for t, x in da.items():
                    y = db.get(t + lag * w)
                    if y is None:
                        continue
                    m = want[(sa, sb, lag)]
                    m[0] += 1
                    m[1] += x
                    m[2] += y
                    m[3] += x * y
                    m[4] += x * x
                    m[5] += y * y
    out = source_ccf_moments(_tier(spark, rows), max_lag, w).collect()
    got = {
        (r["source_a"], r["source_b"], r["lag"]): [
            r["n_buckets"], int(r["sx"]), int(r["sy"]),
            int(r["sxy"]), int(r["sxx"]), int(r["syy"]),
        ]
        for r in out
    }
    assert got == dict(want)


def test_ccf_finish_best_lag(spark):
    from pyreshaper_spark.operators.correlate import (
        ccf_finish,
        source_ccf_moments,
    )

    # b is exactly a shifted by 2 buckets -> best_lag = 2 with r = 1
    w = 600
    vals = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8]
    rows = [("a", i * w, v) for i, v in enumerate(vals)]
    rows += [("b", (i + 2) * w, v) for i, v in enumerate(vals)]
    m = source_ccf_moments(_tier(spark, rows), 3, w)
    fin = {
        (r["source_a"], r["source_b"], r["lag"]):
            (r["pearson_r"], r["best_lag"])
        for r in ccf_finish(m).collect()
    }
    r_ab, best = fin[("a", "b", 2)]
    assert abs(r_ab - 1.0) < 1e-12
    assert best == 2
    for (sa, sb, lag), (_, bl) in fin.items():
        if sa == "a":
            assert bl == 2


def _ref_decompose(series, period):
    """series: list of (bucket, v) dense-contiguous; returns
    {phase: (n, sum_det)} with det = 2p*(v - centered 2xMA)."""
    p = period
    k = p // 2
    n = len(series)
    out = defaultdict(lambda: [0, 0])
    for i, (b, v) in enumerate(series):
        if p % 2 == 0:
            lo1, hi1 = i - k, i + k - 1
            lo2, hi2 = i - k + 1, i + k
        else:
            lo1, hi1 = i - k, i + k
            lo2, hi2 = lo1, hi1
        if lo1 < 0 or lo2 < 0 or hi1 >= n or hi2 >= n:
            continue
        s1 = sum(v2 for _, v2 in series[lo1 : hi1 + 1])
        s2 = sum(v2 for _, v2 in series[lo2 : hi2 + 1])
        d = 2 * p * v - (s1 + s2)
        phase = (b // 600) % p
        out[phase][0] += 1
        out[phase][1] += d
    return {ph: tuple(m) for ph, m in out.items()}


def test_seasonal_decompose_reference(spark):
    from pyreshaper_spark.operators.gapfill import seasonal_decompose

    rng = random.Random(9)
    for period in (6, 7):  # even (2xMA) and odd (plain MA) paths
        series = [
            (b * 600, 100 + 10 * (b % period) + rng.randint(0, 5))
            for b in range(50)
        ]
        rows = [("a", t, v) for t, v in series]
        want = _ref_decompose(series, period)
        got = {
            r["phase"]: (r["n_obs"], int(r["sum_det"]))
            for r in seasonal_decompose(
                _tier(spark, rows), 600, period
            ).collect()
        }
        assert got == want, f"period={period}"


def test_seasonal_decompose_pure_seasonal_signal(spark):
    from pyreshaper_spark.operators.gapfill import seasonal_decompose

    # pure period-4 signal, no trend: seasonal component recovers the
    # pattern exactly (detrended mean per phase = value - overall mean)
    pat = [10, 30, 20, 40]
    rows = [("a", b * 600, pat[b % 4]) for b in range(40)]
    out = seasonal_decompose(_tier(spark, rows), 600, 4).collect()
    mean = sum(pat) / len(pat)
    for r in out:
        comp = int(r["sum_det"]) / (r["n_obs"] * 2 * 4)
        assert comp == pat[r["phase"]] - mean

