"""Cross-source mixture divergence: token-distribution TVD
(operators/vocab.py::source_token_tvd), verified against a brute-force
python reference on hand-built fixtures."""

from __future__ import annotations

from collections import Counter
from fractions import Fraction

from pyreshaper_spark.operators.vocab import source_token_tvd


def _tok(spark, rows):
    # rows: (source, token) — event_s is irrelevant to the TVD
    return spark.createDataFrame(
        [(s, 0, t) for s, t in rows], "source string, event_s long, token long"
    )


def _brute_tvd(rows):
    by = {}
    for s, t in rows:
        by.setdefault(s, []).append(t)
    out = {}
    srcs = sorted(by)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            ca, cb = Counter(by[a]), Counter(by[b])
            na, nb = len(by[a]), len(by[b])
            tvd = sum(
                abs(Fraction(ca.get(t, 0), na) - Fraction(cb.get(t, 0), nb))
                for t in set(ca) | set(cb)
            ) / 2
            out[(a, b)] = (tvd, na, nb)
    return out


def test_tvd_matches_brute_force_fractions(spark):
    rows = (
        [("a", t) for t in [1, 1, 2, 3, 3, 3]]
        + [("b", t) for t in [1, 2, 2, 2, 4]]
        + [("c", t) for t in [7, 7, 8]]          # disjoint from a, b
        + [("d", t) for t in [1, 1, 2, 3, 3, 3]]  # identical mix to a
    )
    got = {
        (r["src_a"], r["src_b"]): (int(r["tvd_num"]), r["n_a"], r["n_b"])
        for r in source_token_tvd(_tok(spark, rows)).collect()
    }
    want = _brute_tvd(rows)
    assert set(got) == set(want)
    for pair, (num, na, nb) in got.items():
        tvd, wna, wnb = want[pair]
        assert (na, nb) == (wna, wnb)
        # engine ships 2*n_a*n_b*TVD — compare as exact fractions
        assert Fraction(num, 2 * na * nb) == tvd, pair
    # identical distributions → zero; fully disjoint → exactly one
    assert got[("a", "d")][0] == 0
    assert Fraction(got[("a", "c")][0], 2 * 6 * 3) == 1


def test_tvd_plan_broadcasts_totals_no_cartesian(spark):
    rows = [("a", 1), ("a", 2), ("b", 1), ("c", 9)]
    plan = (
        source_token_tvd(_tok(spark, rows))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
