"""SAX symbolization + LTTB (centroid-anchored) downsample."""

import random
from fractions import Fraction

import pytest

from pyreshaper_spark.operators.rollup import lttb_downsample
from pyreshaper_spark.operators.symbolic import sax_breakpoints, sax_words


def test_sax_breakpoints_are_order_statistics(spark):
    # 8 values per source → quartile cut ranks ceil(k*8/4) = 2, 4, 6
    vals = {"a": [5, 1, 9, 3, 7, 2, 8, 4], "b": [10, 10, 10, 10, 20, 20, 20, 20]}
    rows = [
        (s, 600 * i, v) for s, vs in vals.items() for i, v in enumerate(vs)
    ]
    tier = spark.createDataFrame(
        rows, "source string, bucket_s long, sum_n_tok long"
    )
    got = {
        (r["source"], r["k"]): r["b"]
        for r in sax_breakpoints(tier).collect()
    }
    for s, vs in vals.items():
        srt = sorted(vs)
        for k in (1, 2, 3):
            assert got[(s, k)] == srt[(k * 8 + 3) // 4 - 1], (s, k)


def test_sax_word_order_and_symbols(spark):
    # one source, 8 hourly frames over 2 "days" of width 4h; values
    # chosen so the quartile bands are unambiguous: sorted = 1..8,
    # breakpoints (ranks 2,4,6) = 2,4,6 → symbols: v<=2 a, <=4 b, <=6 c
    vals = [3, 1, 8, 6, 2, 7, 4, 5]
    tier = spark.createDataFrame(
        [("s", 3600 * i, v) for i, v in enumerate(vals)],
        "source string, bucket_s long, sum_n_tok long",
    )
    got = {
        r["bucket_s"]: (r["sax_word"], r["n_frames"])
        for r in sax_words(tier, word_w=4 * 3600).collect()
    }
    # frames 0-3 → word 1; frames 4-7 → word 2, letters in TIME order
    assert got[0] == ("badc", 4)
    assert got[4 * 3600] == ("adbc", 4)


def test_sax_ties_stay_in_lower_band(spark):
    # all-equal series: every breakpoint == v → v > b never holds →
    # every symbol is 'a' (both engines agree on ties by construction)
    tier = spark.createDataFrame(
        [("s", 600 * i, 7) for i in range(10)],
        "source string, bucket_s long, sum_n_tok long",
    )
    words = sax_words(tier, word_w=6000).collect()
    assert all(set(r["sax_word"]) == {"a"} for r in words)


@pytest.mark.parametrize("alphabet", [2, 3, 6])
def test_sax_alphabet_width(spark, alphabet):
    rng = random.Random(42)
    tier = spark.createDataFrame(
        [("s", 600 * i, rng.randrange(1000)) for i in range(64)],
        "source string, bucket_s long, sum_n_tok long",
    )
    words = sax_words(tier, word_w=1 << 40, alphabet=alphabet).collect()
    assert len(words) == 1
    w = words[0]["sax_word"]
    assert len(w) == 64
    used = set(w)
    letters = "abcdefghijklmnopqrstuvwxyz"[:alphabet]
    assert used <= set(letters)
    # empirical quartiles → every band is hit on a 64-point random draw
    assert used == set(letters)


def _lttb_brute(rows, coarse_w):
    """Exact-Fraction reference of the centroid-anchored definition."""
    by_src = {}
    for s, x, y in rows:
        by_src.setdefault(s, []).append((x, y))
    out = {}
    for s, pts in by_src.items():
        buckets = {}
        for x, y in pts:
            buckets.setdefault(x - x % coarse_w, []).append((x, y))
        cbs = sorted(buckets)
        for i, cb in enumerate(cbs):
            cand = sorted(buckets[cb])
            if i == 0:
                out[(s, cb)] = cand[0]
            elif i == len(cbs) - 1:
                out[(s, cb)] = cand[-1]
            else:
                prev = buckets[cbs[i - 1]]
                nxt = buckets[cbs[i + 1]]
                ax = Fraction(sum(x for x, _ in prev), len(prev))
                ay = Fraction(sum(y for _, y in prev), len(prev))
                cx = Fraction(sum(x for x, _ in nxt), len(nxt))
                cy = Fraction(sum(y for _, y in nxt), len(nxt))
                best = max(
                    cand,
                    key=lambda p: (
                        abs((ax - cx) * (p[1] - ay) - (ax - p[0]) * (cy - ay)),
                        -p[0],
                    ),
                )
                out[(s, cb)] = best
    return out


def test_lttb_matches_fraction_reference_fuzz(spark):
    rng = random.Random(0x17B)
    rows = []
    for s in ("a", "b", "c"):
        t = 0
        for _ in range(rng.randrange(5, 40)):
            t += rng.randrange(1, 1200)
            rows.append((s, t, rng.randrange(0, 10**6)))
    tier = spark.createDataFrame(
        rows, "source string, bucket_s long, sum_n_tok long"
    )
    got = {
        (r["source"], r["bucket_s"]): (r["sel_s"], r["sel_v"])
        for r in lttb_downsample(tier, 3600).collect()
    }
    assert got == _lttb_brute(rows, 3600)


def test_lttb_endpoint_rule_and_spike(spark):
    # 3 coarse buckets: first emits its earliest point, last its
    # latest, and the interior bucket keeps the spike (largest
    # triangle against flat neighbors)
    rows = [("s", x, 10) for x in (0, 600, 1200, 3600, 4200, 7200, 7800)]
    rows[4] = ("s", 4200, 99)  # interior spike
    tier = spark.createDataFrame(
        rows, "source string, bucket_s long, sum_n_tok long"
    )
    got = {
        r["bucket_s"]: (r["sel_s"], r["sel_v"])
        for r in lttb_downsample(tier, 3600).collect()
    }
    assert got[0] == (0, 10)          # first bucket → earliest
    assert got[3600] == (4200, 99)    # interior → spike
    assert got[7200] == (7800, 10)    # last bucket → latest


def test_lttb_single_bucket_series(spark):
    tier = spark.createDataFrame(
        [("s", 600, 5), ("s", 1200, 6)],
        "source string, bucket_s long, sum_n_tok long",
    )
    got = lttb_downsample(tier, 3600).collect()
    assert len(got) == 1
    assert (got[0]["sel_s"], got[0]["sel_v"]) == (600, 5)


def test_lttb_differs_from_ltob_where_anchors_matter(spark):
    """The centroid anchor is not the point-neighbor anchor: build a
    case where the immediate-neighbor triangle (LTOB) and the
    neighborhood-centroid triangle (LTTB) pick different points, to
    pin that the two operators are genuinely distinct."""
    from pyreshaper_spark.operators.rollup import ltob_downsample

    # interior bucket [3600, 7200): LTOB's point-neighbor triangle at
    # 5400 (long x-gaps to 1800 and 6600) beats 6600, while against
    # the bucket CENTROIDS the 99-spike at 6600 dominates (found by
    # seeded search over the two exact references)
    rows = [
        ("s", 0, 63), ("s", 1200, 87), ("s", 1800, 68),
        ("s", 5400, 54), ("s", 6600, 99),
        ("s", 8400, 40), ("s", 9600, 59),
    ]
    tier = spark.createDataFrame(
        rows, "source string, bucket_s long, sum_n_tok long"
    )
    lttb = {
        r["bucket_s"]: r["sel_s"]
        for r in lttb_downsample(tier, 3600).collect()
    }
    ltob = {
        r["bucket_s"]: r["sel_s"]
        for r in ltob_downsample(tier, 3600).collect()
    }
    assert lttb[3600] != ltob[3600]
    assert lttb[3600] == _lttb_brute(rows, 3600)[("s", 3600)][0]
