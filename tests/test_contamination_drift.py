from __future__ import annotations

from fractions import Fraction


from pyreshaper_spark.operators.drift import (
    histogram_drift_tvd,
    tvd_finish,
)


def _tvd_ref(cur: dict[int, int], prev: dict[int, int]) -> Fraction:
    tc, tp = sum(cur.values()), sum(prev.values())
    bins = set(cur) | set(prev)
    return Fraction(
        sum(abs(cur.get(b, 0) * tp - prev.get(b, 0) * tc) for b in bins),
        2 * tc * tp,
    )


def test_drift_tvd_exact_rational(spark):
    # bucket 0: {0:4, 50:6}; bucket 86400: {0:2, 100:3}; bucket 2*86400
    # has no predecessor data gap -> paired with 86400
    rows = []
    data = {
        0: {0: 4, 50: 6},
        86400: {0: 2, 100: 3},
        3 * 86400: {0: 5},  # gap: no bucket at 2*86400 -> emits nothing
    }
    for b, bins in data.items():
        for lo, cnt in bins.items():
            rows.append(("s0", b, lo, cnt))
    hist = spark.createDataFrame(
        rows, "source string, bucket_s long, bin_lo long, cnt long"
    )
    out = histogram_drift_tvd(hist, 86400).collect()
    assert len(out) == 1  # only 86400 has a direct predecessor
    r = out[0]
    want = _tvd_ref(data[86400], data[0])
    got = Fraction(int(r["tvd_num"]), int(r["tvd_den"]))
    assert got == want
    assert r["n_bins"] == 3  # bins 0, 50, 100
    f = tvd_finish(histogram_drift_tvd(hist, 86400)).collect()[0]
    assert abs(f["tvd"] - float(want)) < 1e-12


def test_drift_tvd_identical_distributions_zero(spark):
    rows = [("s0", b, lo, c) for b in (0, 86400) for lo, c in
            [(0, 3), (50, 7)]]
    hist = spark.createDataFrame(
        rows, "source string, bucket_s long, bin_lo long, cnt long"
    )
    out = histogram_drift_tvd(hist, 86400).collect()
    assert len(out) == 1 and int(out[0]["tvd_num"]) == 0


def test_ks_drift_hand_case(spark):
    from pyreshaper_spark.operators.drift import ks_drift, ks_finish

    # bucket 0: values [1,1,2,3]; bucket 86400: values [2,3,3,3]
    # ECDF diffs at union support {1,2,3}: |2/4-0|=1/2, |3/4-1/4|=1/2,
    # |1-1|=0  ->  D = 1/2, num = 8 (cum*4 scale), den = 16
    rows = [("s0", 0, v) for v in (1, 1, 2, 3)] + [
        ("s0", 86400, v) for v in (2, 3, 3, 3)
    ]
    seq = spark.createDataFrame(
        rows, "source string, event_s long, n_tok int"
    )
    out = ks_drift(seq, 86400).collect()
    assert len(out) == 1
    r = out[0]
    assert Fraction(int(r["ks_num"]), int(r["ks_den"])) == Fraction(1, 2)
    f = ks_finish(ks_drift(seq, 86400)).collect()[0]
    assert abs(f["ks_d"] - 0.5) < 1e-12


def test_ks_drift_identical_is_zero(spark):
    from pyreshaper_spark.operators.drift import ks_drift

    rows = [("s0", b, v) for b in (0, 86400) for v in (5, 7, 7, 9)]
    seq = spark.createDataFrame(
        rows, "source string, event_s long, n_tok int"
    )
    out = ks_drift(seq, 86400).collect()
    assert len(out) == 1 and int(out[0]["ks_num"]) == 0


def test_lagged_corr_moments_alignment(spark):
    from pyreshaper_spark.operators.correlate import source_corr_moments

    # y(t+1h) == x(t) exactly -> lagged moments see a perfect pairing
    tier = spark.createDataFrame(
        [("a", 0, 10), ("a", 3600, 20),
         ("b", 3600, 10), ("b", 7200, 20)],
        "source string, bucket_s long, sum_n_tok long",
    )
    out = source_corr_moments(tier, lag_s=3600).collect()
    by_pair = {(r["source_a"], r["source_b"]): r for r in out}
    ab = by_pair[("a", "b")]
    # pairs: (x=10, y=10), (x=20, y=20)
    assert (ab["n_buckets"], int(ab["sx"]), int(ab["sy"]),
            int(ab["sxy"])) == (2, 30, 30, 500)
    # reverse direction exists and is different (only 1 aligned bucket:
    # b at t=3600 (10) with a at t=7200 -> none; b@3600 pairs a@7200?
    # a has no 7200 bucket, so only b@... -> ("b","a") pairs b(t) with
    # a(t+1h): t=0 absent, so no rows — assert absence
    assert ("b", "a") not in by_pair


def test_drift_disjoint_distributions_is_one(spark):
    rows = [("s0", 0, 0, 5), ("s0", 86400, 50, 9)]
    hist = spark.createDataFrame(
        rows, "source string, bucket_s long, bin_lo long, cnt long"
    )
    r = histogram_drift_tvd(hist, 86400).collect()[0]
    assert Fraction(int(r["tvd_num"]), int(r["tvd_den"])) == 1
