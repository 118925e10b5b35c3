"""Theil–Sen exactness vs a Fraction reference, SAX motif counts vs a
brute-force scan, and OOV rate vs a Counter reference."""

from __future__ import annotations

import itertools
import random
from collections import Counter
from fractions import Fraction

from pyreshaper_spark.operators.rollup import (
    theilsen,
    theilsen_finish,
)


def _tier(spark, rows):
    return spark.createDataFrame(
        rows, "source string, bucket_s long, sum_n_tok long"
    )


def _ref_theilsen(pts):
    """Lower/upper-median pairwise slope as exact Fractions."""
    slopes = sorted(
        Fraction(vb - va, xb - xa)
        for (xa, va), (xb, vb) in itertools.combinations(pts, 2)
    )
    n = len(slopes)
    return slopes[(n + 1) // 2 - 1], slopes[n // 2]


def test_theilsen_vs_fraction_reference(spark):
    rng = random.Random(7)
    day = 86400
    rows = []
    expect = {}
    for src in ("a", "b"):
        for d in range(2):
            hours = sorted(rng.sample(range(24), rng.randint(3, 24)))
            pts = [(h, rng.randint(-1000, 100000)) for h in hours]
            rows += [
                (src, d * day + h * 3600, v) for h, v in pts
            ]
            expect[(src, d * day)] = _ref_theilsen(pts)
    out = theilsen(_tier(spark, rows), 86400, 3600).collect()
    assert len(out) == len(expect)
    for r in out:
        lo, hi = expect[(r["source"], r["bucket_s"])]
        den = r["slope_den"]
        assert Fraction(int(r["slope_lo"]), den) == lo
        assert Fraction(int(r["slope_hi"]), den) == hi
    fin = {
        (r["source"], r["bucket_s"]): r["slope_per_s"]
        for r in theilsen_finish(
            theilsen(_tier(spark, rows), 86400, 3600), 3600
        ).collect()
    }
    for key, (lo, hi) in expect.items():
        want = float((lo + hi) / 2) / 3600.0
        assert abs(fin[key] - want) < 1e-9 * max(1.0, abs(want))


def test_theilsen_outlier_robust_vs_least_squares(spark):
    # a clean slope-100 line with one wild outlier: Theil–Sen stays on
    # the line (LS, by construction, cannot)
    rows = [("a", h * 3600, 100 * h) for h in range(24)]
    rows[12] = ("a", 12 * 3600, 10_000_000)
    r = theilsen(_tier(spark, rows), 86400, 3600).collect()[0]
    den = r["slope_den"]
    assert Fraction(int(r["slope_lo"]), den) == 100
    assert Fraction(int(r["slope_hi"]), den) == 100


def test_sax_motifs_brute_force(spark):
    from pyreshaper_spark.operators.symbolic import sax_motifs, sax_symbols

    rng = random.Random(11)
    rows = [
        (src, h * 3600, rng.randint(0, 50))
        for src in ("a", "b")
        for h in range(40)
    ]
    tier = _tier(spark, rows)
    sym = {
        s: "".join(
            r["letter"]
            for r in sorted(
                sax_symbols(tier).filter(f"source = '{s}'").collect(),
                key=lambda r: r["frame_s"],
            )
        )
        for s in ("a", "b")
    }
    m = 4
    want = Counter()
    for s, word in sym.items():
        for i in range(len(word) - m + 1):
            want[(s, word[i : i + m])] += 1
    want = {k: c for k, c in want.items() if c >= 2}
    got = {
        (r["source"], r["motif"]): r["cnt"]
        for r in sax_motifs(tier, m=m).collect()
    }
    assert got == want


def test_oov_rate_counter_reference(spark):
    from pyreshaper_spark.operators.vocab import oov_rate

    rng = random.Random(3)
    rows = [
        (rng.choice("ab"), rng.randint(0, 7199), rng.randint(0, 49))
        for _ in range(4000)
    ]
    tok = spark.createDataFrame(
        rows, "source string, event_s long, token long"
    )
    top_v = 10
    counts = Counter(t for _, _, t in rows)
    # deterministic top-V: count desc, token asc
    vocab = {
        t
        for t, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            :top_v
        ]
    }
    want = {}
    for s, e, t in rows:
        key = (s, e - e % 3600)
        n, o = want.get(key, (0, 0))
        want[key] = (n + 1, o + (t not in vocab))
    got = {
        (r["source"], r["bucket_s"]): (r["n_occ"], r["n_oov"])
        for r in oov_rate(tok, 3600, top_v).collect()
    }
    assert got == want
