"""hod_band exact order statistics and tok_skipgram vs brute force."""

from __future__ import annotations

import math
import random
from collections import Counter


def test_hod_band_order_stats(spark):
    from pyreshaper_spark.operators.rollup import hod_band

    rng = random.Random(13)
    rows = []
    series = {}
    for src in ("a", "b"):
        for hod in range(4):
            vals = [rng.randint(0, 1000) for _ in range(rng.randint(1, 9))]
            series[(src, hod)] = sorted(vals)
            rows += [
                (src, day * 86400 + hod * 3600, v)
                for day, v in enumerate(vals)
            ]
    tier = spark.createDataFrame(
        rows, "source string, bucket_s long, sum_n_tok long"
    )
    out = {
        (r["source"], r["hod"]): r for r in hod_band(tier).collect()
    }
    for key, vals in series.items():
        n = len(vals)
        r = out[key]
        assert r["n_days"] == n
        for col, (qn, qd) in (("p10", (1, 10)), ("p50", (1, 2)),
                              ("p90", (9, 10))):
            assert r[col] == vals[math.ceil(n * qn / qd) - 1], (key, col)


def test_hod_band_pre_epoch(spark):
    from pyreshaper_spark.operators.rollup import hod_band

    # pre-epoch bucket: pmod must keep hod in [0, 24)
    tier = spark.createDataFrame(
        [("a", -86400 + 7200, 5)],
        "source string, bucket_s long, sum_n_tok long",
    )
    r = hod_band(tier).collect()[0]
    assert r["hod"] == 2 and r["p50"] == 5


def test_tok_skipgram_brute_force(spark):
    from pyreshaper_spark.operators.vocab import tok_skipgram

    rng = random.Random(17)
    docs = [
        ("d%d" % i, rng.choice("ab"),
         [rng.randint(0, 6) for _ in range(rng.randint(0, 12))])
        for i in range(30)
    ]
    seq = spark.createDataFrame(
        docs, "doc_id string, source string, tokens array<int>"
    )
    w, min_count = 3, 2
    want = Counter()
    for _, src, toks in docs:
        for i, t1 in enumerate(toks):
            for j in range(i + 1, min(i + 1 + w, len(toks))):
                want[(src, t1, toks[j])] += 1
    want = {k: c for k, c in want.items() if c >= min_count}
    got = {
        (r["source"], r["t1"], r["t2"]): r["c_xy"]
        for r in tok_skipgram(seq, w, min_count).collect()
    }
    assert got == want


def test_hod_anomaly_against_band(spark):
    from pyreshaper_spark.operators.rollup import hod_anomaly, hod_band

    rng = random.Random(21)
    # 25 days: p10 rank = ceil(2.5) = 3, so values BELOW p10 exist
    # (at n=10 the p10 order statistic is the minimum and the strict
    # is_low flag can never fire)
    rows = [
        ("a", day * 86400 + hod * 3600, rng.randint(0, 100))
        for day in range(25)
        for hod in range(24)
    ]
    tier = spark.createDataFrame(
        rows, "source string, bucket_s long, sum_n_tok long"
    )
    band = {
        (r["source"], r["hod"]): (r["p10"], r["p90"])
        for r in hod_band(tier).collect()
    }
    out = hod_anomaly(tier).collect()
    assert len(out) == len(rows)
    for r in out:
        hod = (r["bucket_s"] % 86400) // 3600
        p10, p90 = band[(r["source"], hod)]
        assert (r["p10"], r["p90"]) == (p10, p90)
        assert r["is_low"] == (r["value"] < p10)
        assert r["is_high"] == (r["value"] > p90)
    # flags fire on both sides somewhere in a 10-day random fixture
    assert any(r["is_low"] for r in out) and any(r["is_high"] for r in out)
