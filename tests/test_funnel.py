from __future__ import annotations

import datetime as dt

from pyreshaper_spark.operators.funnel import (
    cohort_retention,
    funnel,
    type_pivot,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _events(spark, rows):
    """rows: (user_id, minutes_after_t0, event_type)"""
    data = [
        (u, T0 + dt.timedelta(minutes=m), t) for u, m, t in rows
    ]
    return spark.createDataFrame(
        data, "user_id long, ts timestamp_ntz, event_type string"
    )


def test_funnel_ordering_and_dropoff(spark):
    ev = _events(spark, [
        # u1 completes in order
        (1, 0, "view"), (1, 5, "click"), (1, 9, "purchase"),
        # u2: click BEFORE view -> does not chain; depth 1
        (2, 3, "click"), (2, 4, "view"),
        # u3: view+click, no purchase -> depth 2
        (3, 0, "view"), (3, 1, "click"),
        # u4: never views -> absent from funnel output
        (4, 0, "purchase"),
    ])
    out = {r["user_id"]: r["depth"] for r in funnel(ev).collect()}
    assert out == {1: 3, 2: 1, 3: 2}


def test_funnel_within_window(spark):
    ev = _events(spark, [
        (1, 0, "view"), (1, 200, "click"),   # click 200 min after view
    ])
    assert funnel(ev).collect()[0]["depth"] == 2
    assert funnel(ev, within_s=3600).collect()[0]["depth"] == 1


def test_funnel_picks_earliest_chain(spark):
    ev = _events(spark, [
        (1, 10, "view"), (1, 2, "view"),           # t1 = min = 2min
        (1, 5, "click"), (1, 1, "click"),          # click@1 < t1: skip
    ])
    r = funnel(ev).collect()[0]
    assert r["t_2"] - r["t_1"] == 3 * 60 * 1_000_000  # click@5 chained


def test_cohort_retention_matrix(spark):
    day = 24 * 60
    ev = _events(spark, [
        (1, 0, "view"), (1, day, "view"), (1, 2 * day, "view"),
        (2, 0, "view"), (2, 2 * day, "view"),
        (3, day, "view"),
    ])
    got = {
        (r["cohort_day"], r["k_day"]): r["n_users"]
        for r in cohort_retention(ev).collect()
    }
    d0 = min(c for c, _ in got)  # epoch day of T0
    assert got == {
        (d0, 0): 2, (d0, 1): 1, (d0, 2): 2,
        (d0 + 1, 0): 1,
    }


def test_type_pivot_counts(spark):
    ev = _events(spark, [
        (1, 0, "view"), (2, 1, "view"), (1, 2, "click"),
        (1, 61, "error"),
    ])
    got = {r["bucket_s"]: r for r in type_pivot(ev, 3600).collect()}
    assert len(got) == 2
    b0, b1 = sorted(got)
    assert (got[b0]["n_view"], got[b0]["n_click"], got[b0]["n_error"],
            got[b0]["n_purchase"], got[b0]["n_signup"]) == (2, 1, 0, 0, 0)
    assert got[b1]["n_error"] == 1 and b1 - b0 == 3600


def test_ab_test_flag_matches_float_z(spark):
    """The cross-multiplied significance flag must equal the float
    two-proportion z-test on constructed variants, including the
    degenerate edges (no conversions anywhere / everyone converts)."""
    import math

    from pyreshaper_spark.operators.funnel import ab_test

    # find user ids for each variant (same md5 split as the operator)
    import hashlib

    def variant(u):
        h = int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16)
        return "A" if h % 2 == 0 else "B"

    a_users = [u for u in range(200) if variant(u) == "A"][:50]
    b_users = [u for u in range(200) if variant(u) == "B"][:50]

    def mk(c_a, c_b, goal):
        rows = []
        for i, u in enumerate(a_users):
            rows.append((u, goal if i < c_a else "noise"))
        for i, u in enumerate(b_users):
            rows.append((u, goal if i < c_b else "noise"))
        return spark.createDataFrame(rows, "user_id long, event_type string")

    cases = [(40, 10), (30, 25), (0, 0), (50, 50), (50, 0), (26, 24)]
    for c_a, c_b in cases:
        out = {
            r["goal"]: r
            for r in ab_test(mk(c_a, c_b, "buy"), ("buy",)).collect()
        }["buy"]
        assert (out["n_a"], out["n_b"]) == (50, 50)
        assert (out["c_a"], out["c_b"]) == (c_a, c_b)
        n_a = n_b = 50
        C, N = c_a + c_b, n_a + n_b
        if C == 0 or C == N:
            want = False
        else:
            p = C / N
            z = (c_a / n_a - c_b / n_b) / math.sqrt(
                p * (1 - p) * (1 / n_a + 1 / n_b)
            )
            want = abs(z) >= 1.96
        assert out["significant"] == want, (c_a, c_b)
