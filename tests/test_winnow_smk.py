"""Seasonal Mann–Kendall, day-discord and token-collocation unit tests."""

from __future__ import annotations

import random
from collections import Counter

from pyspark.sql import Row

from pyreshaper_spark.operators.changepoint import seasonal_mann_kendall

DAY = 86400
HOUR = 3600


def _tier(spark, rows):
    return spark.createDataFrame(
        [Row(source=s, bucket_s=b, sum_n_tok=v) for s, b, v in rows]
    )


def _smk_ref(pts, period=DAY, fine=HOUR):
    """Brute force: per-phase MK summed. pts = [(bucket_s, v)]."""
    by_ph: dict[int, list] = {}
    for b, v in pts:
        by_ph.setdefault((b % period) // fine, []).append((b, v))
    s_tot, var18, n_tot = 0, 0, 0
    for pts_g in by_ph.values():
        vs = [v for _, v in sorted(pts_g)]
        n = len(vs)
        n_tot += n
        s_tot += sum(
            (vs[j] > vs[i]) - (vs[j] < vs[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        tie = sum(
            t * (t - 1) * (2 * t + 5) for t in Counter(vs).values()
        )
        var18 += n * (n - 1) * (2 * n + 5) - tie
    return s_tot, var18, n_tot


def test_smk_diurnal_cycle_is_not_a_trend(spark):
    # pure diurnal pattern repeated identically across days: every
    # phase series is constant -> S = 0, var18 = 0 (all ties)
    rows = [
        ("a", d * DAY + h * HOUR, 100 + h * 10)
        for d in range(4)
        for h in range(6)
    ]
    r = seasonal_mann_kendall(_tier(spark, rows), DAY, HOUR).collect()[0]
    assert (r.s_stat, r.var18, r.trend) == (0, 0, 0)
    # plain MK over the same data would see the within-day ramp


def test_smk_cross_day_growth_detected(spark):
    # +1 every day on every phase: every phase series strictly rises
    rows = [
        ("a", d * DAY + h * HOUR, 100 + h * 10 + d)
        for d in range(4)
        for h in range(6)
    ]
    r = seasonal_mann_kendall(_tier(spark, rows), DAY, HOUR).collect()[0]
    # 6 phases x C(4,2)=6 ascending pairs
    assert (r.s_stat, r.trend) == (36, 1)
    assert r.var18 == 6 * (4 * 3 * 13)  # no ties per phase


def test_day_discords_outlier_day(spark):
    from pyreshaper_spark.operators.seriessim import day_discords

    rows = []
    for d in range(4):
        for h in range(4):
            v = 10 if d < 3 else 1000      # day 3 is the discord
            rows.append(("a", d * DAY + h * HOUR, v))
    out = day_discords(_tier(spark, rows), m=2).collect()
    assert [r.day_s for r in sorted(out, key=lambda r: r.drank)][0] \
        == 3 * DAY
    top = [r for r in out if r.drank == 1][0]
    # d2 vs any normal day: 4 slots x (1000-10)^2
    assert int(top.d2) == 4 * 990 * 990


def test_day_discords_matches_knn_rank1(spark):
    from pyreshaper_spark.operators.seriessim import (
        day_discords,
        day_profile_knn,
    )

    rng = random.Random(5)
    rows = [
        ("s", d * DAY + h * HOUR, rng.randint(0, 100))
        for d in range(5)
        for h in rng.sample(range(24), rng.randint(1, 6))
    ]
    nn1 = {
        (r.source, r.day_s): int(r.d2)
        for r in day_profile_knn(_tier(spark, rows), k=1).collect()
    }
    disc = day_discords(_tier(spark, rows), m=100).collect()
    assert {(r.source, r.day_s): int(r.d2) for r in disc} == nn1
    # ranks strictly follow descending d2 with day tie-break
    ordered = sorted(disc, key=lambda r: r.drank)
    keys = [(-int(r.d2), r.day_s) for r in ordered]
    assert keys == sorted(keys)


def test_tok_collocations_reference(spark):
    from fractions import Fraction

    from pyreshaper_spark.operators.vocab import tok_collocations

    docs = [
        [1, 2, 1, 2, 1, 2],      # 1->2 collocates strongly
        [3, 4, 5, 6, 3, 7, 8],
        [1, 2, 9, 9, 1, 2],
    ]
    seq = spark.createDataFrame(
        [Row(doc_id=str(i), source="s", tokens=t)
         for i, t in enumerate(docs)]
    )
    got = {
        (r.t1, r.t2): (r.c_xy, r.c_x, r.c_y, r.lift_ppm)
        for r in tok_collocations(
            seq, window=2, min_pair=2, min_lift_ppm=1
        ).collect()
    }
    # brute-force pair space
    pairs = Counter()
    for t in docs:
        for i in range(len(t)):
            for j in range(i + 1, min(i + 3, len(t))):
                pairs[(t[i], t[j])] += 1
    n = sum(pairs.values())
    lm, rm = Counter(), Counter()
    for (a, b), c in pairs.items():
        lm[a] += c
        rm[b] += c
    for (a, b), c in pairs.items():
        if c < 2:
            continue
        lift = Fraction(c * 1_000_000 * n, lm[a] * rm[b])
        want = (c, lm[a], rm[b], int(lift))
        assert got[(a, b)] == want, (a, b)
    assert set(got) == {k for k, c in pairs.items() if c >= 2}


def test_smk_fuzz_vs_reference(spark):
    rng = random.Random(42)
    rows, by_src = [], {}
    for si in range(6):
        src = f"s{si}"
        pts = []
        for d in range(rng.randint(1, 5)):
            for h in rng.sample(range(24), rng.randint(1, 24)):
                b = d * DAY + h * HOUR
                v = rng.randint(0, 6)
                pts.append((b, v))
                rows.append((src, b, v))
        by_src[src] = pts
    out = seasonal_mann_kendall(_tier(spark, rows), DAY, HOUR).collect()
    assert len(out) == len(by_src)
    for r in out:
        s, var18, n = _smk_ref(by_src[r.source])
        assert (r.s_stat, r.var18, r.n_pts) == (s, var18, n), r.source
