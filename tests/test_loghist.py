"""Log2-histogram sketch family (rollup.bucket_log_hist): bin-mapping
invariants, quantile containment vs the true order statistic, and
cascade exactness."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pyreshaper_spark.fixtures import sequences_df
from pyreshaper_spark.operators.rollup import (
    bucket_log_hist,
    log_bin_bounds_expr,
    log_bin_expr,
    log_hist_cascade,
    log_hist_quantile,
)

SF = "/root/testdata/sf0.001"


def test_log_bin_mapping_invariants(spark):
    """Over 0..4096 plus large int32 values: the bin id is monotone in
    the value, the inverse bounds contain the value, and the bin width
    is ≤ lo/4 (the 25 %-wide bucket that caps quantile error at 12.5 %
    midpoint)."""
    vals = list(range(4097)) + [
        2**31 - 1, 2**31 - 2, 10**9, 123_456_789, 65_535, 65_536,
        # past int32 and past 2^34: regression for the INT-literal
        # shiftleft wrap (shift amount taken mod 32) in the bounds
        2**31, 2**34 + 5, 2**40 + 7, 10**15, 2**62, 2**63 - 1,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    lo_e, hi_e = log_bin_bounds_expr("bin")
    rows = (
        df.select("x", F.expr(log_bin_expr("x")).alias("bin"))
        .select("x", "bin", F.expr(lo_e).alias("lo"), F.expr(hi_e).alias("hi"))
        .collect()
    )
    got = {r.x: (r.bin, r.lo, r.hi) for r in rows}
    for v in vals:
        b, lo, hi = got[v]
        assert lo <= v <= hi, (v, lo, hi)
        if lo >= 4:
            assert (hi - lo + 1) * 4 <= lo + (hi - lo + 1), (v, lo, hi)
            # width = 2^(b-3) and lo >= 2^(b-1) => width <= lo/3 overall;
            # precise: width*4 <= lo+width  <=>  3*width <= lo
            assert 3 * (hi - lo + 1) <= lo + (hi - lo + 1)
        # monotone: bin ids sorted by value are non-decreasing
    seq = sorted(vals)
    bins = [got[v][0] for v in seq]
    assert bins == sorted(bins)
    # exact below 4: values 0..3 are their own bins
    for v in range(4):
        assert got[v] == (v, v, v)
    # adjacent bins tile the integer line (no gaps/overlap) up to 4096
    by_bin = {}
    for v in range(4097):
        by_bin.setdefault(got[v][0], []).append(v)
    edges = sorted((min(vs), max(vs)) for vs in by_bin.values())
    for (lo1, hi1), (lo2, _hi2) in zip(edges, edges[1:]):
        assert lo2 == hi1 + 1


def test_quantile_contained_and_cascade_exact(spark):
    seq = sequences_df(spark, SF).cache()
    hist = bucket_log_hist(seq, 3600)
    q90 = log_hist_quantile(hist, 9, 10)
    bounds = {
        (r.source, r.bucket_s): (r.q_lo, r.q_hi, r.total)
        for r in q90.collect()
    }
    # true exact p90: ceil-rank order statistic per (source, 1h bucket)
    truth = (
        seq.select(
            "source",
            (F.col("event_s") - F.pmod("event_s", F.lit(3600))).alias(
                "bucket_s"
            ),
            "n_tok",
        )
        .groupBy("source", "bucket_s")
        .agg(F.sort_array(F.collect_list("n_tok")).alias("xs"))
        .collect()
    )
    assert bounds
    for r in truth:
        xs = r.xs
        p90 = xs[math.ceil(len(xs) * 9 / 10) - 1]
        lo, hi, total = bounds[(r.source, r.bucket_s)]
        assert total == len(xs)
        assert lo <= p90 <= hi, (r.source, r.bucket_s, p90, lo, hi)

    # cascade: 10m sketch merged to 1h equals the direct 1h sketch
    fine = bucket_log_hist(seq, 600)
    merged = {
        tuple(r) for r in log_hist_cascade(fine, 3600).collect()
    }
    direct = {tuple(r) for r in hist.collect()}
    assert merged == direct
    seq.unpersist()

