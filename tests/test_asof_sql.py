"""as-of join, grouped top-k, SQL view registration."""

from __future__ import annotations

from pyreshaper_spark.operators.asof import asof_join, topk_per_series


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [("a", 10), ("a", 25), ("a", 5), ("b", 10)],
        "source string, bucket_s long",
    )
    right = spark.createDataFrame(
        [("a", 10, 100), ("a", 20, 200), ("b", 50, 500)],
        "source string, bucket_s long, v long",
    )
    got = {
        (r["source"], r["bucket_s"]): r["asof_v"]
        for r in asof_join(left, right, ("v",)).collect()
    }
    assert got == {("a", 5): None, ("a", 10): 100, ("a", 25): 200,
                   ("b", 10): None}


def test_asof_join_duplicate_left_rows(spark):
    """k left rows sharing (key, time) must yield exactly k output rows
    (the old join-back produced k×k)."""
    left = spark.createDataFrame(
        [("a", 10, "x"), ("a", 10, "y"), ("a", 10, "z"), ("a", 30, "w")],
        "source string, bucket_s long, tag string",
    )
    right = spark.createDataFrame(
        [("a", 5, 50), ("a", 20, 200)],
        "source string, bucket_s long, v long",
    )
    rows = asof_join(left, right, ("v",)).collect()
    assert len(rows) == 4
    got = sorted((r["bucket_s"], r["tag"], r["asof_v"]) for r in rows)
    assert got == [(10, "x", 50), (10, "y", 50), (10, "z", 50),
                   (30, "w", 200)]


def test_topk_per_series(spark):
    tier = spark.createDataFrame(
        [("a", i * 60, (i * 7) % 5 + i) for i in range(10)]
        + [("b", i * 60, 100 - i) for i in range(5)],
        "source string, bucket_s long, sum_n_tok long",
    )
    r = topk_per_series(tier, k=2)
    rows = sorted((x["source"], x["rank"], x["bucket_s"]) for x in r.collect())
    assert len(rows) == 4
    b_top = [x for x in rows if x[0] == "b"]
    assert b_top == [("b", 1, 0), ("b", 2, 60)]  # 100, 99


def test_register_views(spark, tmp_path):
    from pyreshaper_spark.config import RunConfig, TierSpec
    from pyreshaper_spark.fixtures import sequences_df
    from pyreshaper_spark.plans.pipeline import run_pipeline
    from pyreshaper_spark.sql import register_views

    seq_path = str(tmp_path / "seq")
    sequences_df(spark, "/root/testdata/sf0.001").write.parquet(seq_path)
    cfg = RunConfig(
        input_path=seq_path, output_path=str(tmp_path / "wh"),
        tiers=(TierSpec("1m", 60),), nsalt=2,
        source_limit=2,
    )
    run_pipeline(spark, cfg, str(tmp_path / "ck.json"))
    names = register_views(spark, cfg)
    assert {"sequences", "tier_1m", "meta_source", "series_enc"} <= set(names)
    n = spark.sql(
        "SELECT count(*) c FROM tier_1m JOIN meta_source USING (source)"
    ).collect()[0]["c"]
    assert n > 0


def test_asof_forward_and_tolerance(spark):
    from pyreshaper_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 100, 1), ("a", 250, 2), ("a", 900, 3)],
        "source string, bucket_s long, cnt long",
    )
    right = spark.createDataFrame(
        [("a", 200, 10), ("a", 300, 20)],
        "source string, bucket_s long, v long",
    )
    fwd = {
        r["bucket_s"]: r["asof_v"]
        for r in asof_join(
            left, right, ("v",), direction="forward"
        ).collect()
    }
    assert fwd == {100: 10, 250: 20, 900: None}
    back_tol = {
        r["bucket_s"]: r["asof_v"]
        for r in asof_join(
            left, right, ("v",), tolerance_s=100
        ).collect()
    }
    # 100: nothing before; 250: 200 within 100s; 900: 300 too far → null
    assert back_tol == {100: None, 250: 10, 900: None}


def test_asof_join_null_right_values_row_semantics(spark):
    """As-of is ROW semantics: the value comes from the matched right
    row even when that value is NULL — it must never fall back to an
    older row's non-null value (DuckDB native ASOF / pandas merge_asof
    behavior). Regression for per-column last(ignorenulls) carries."""
    left = spark.createDataFrame(
        [("a", 110), ("a", 60)], "source string, bucket_s long",
    )
    right = spark.createDataFrame(
        [("a", 50, 7), ("a", 100, None)],
        "source string, bucket_s long, v long",
    )
    got = {
        r["bucket_s"]: r["asof_v"]
        for r in asof_join(left, right, ("v",)).collect()
    }
    # 110 matches the t=100 row whose v is NULL → NULL, not 7
    assert got == {60: 7, 110: None}
    # tolerance: matched time in-window but its value NULL stays NULL;
    # the out-of-window older value must never leak in
    tol = {
        r["bucket_s"]: r["asof_v"]
        for r in asof_join(left, right, ("v",), tolerance_s=20).collect()
    }
    assert tol == {60: 7, 110: None}


def test_asof_join_property_vs_bruteforce(spark):
    """Fuzz asof_join against a brute-force reference: for every left
    row the matched right row is the nearest in the direction (ties on
    time resolved to ANY right row at that time is not allowed — the
    operator must take the value from the matched row, and at equal
    times the window's last right row in (time, tag) order is the max
    time ≤ t, which the reference reproduces by taking the LAST right
    row at the matched time in input order after a stable sort)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    row = st.tuples(
        st.integers(min_value=0, max_value=40),          # time
        st.one_of(st.none(), st.integers(0, 9)),          # value
    )

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(st.integers(0, 40), min_size=1, max_size=12),  # left ts
        st.lists(row, min_size=1, max_size=12),                  # right
        st.sampled_from(["backward", "forward", "nearest"]),
        st.sampled_from([None, 5, 15]),
    )
    def check(lts, rrows, direction, tol):
        # unique right times: at duplicate times the window picks the
        # last-sorted right row — dedup keeps semantics deterministic
        rmap = {}
        for t, v in rrows:
            rmap[t] = v
        rs = sorted(rmap.items())
        left = spark.createDataFrame(
            [("k", t) for t in lts], "source string, bucket_s long"
        )
        right = spark.createDataFrame(
            [("k", t, v) for t, v in rs],
            "source string, bucket_s long, v long",
        )
        got = {}
        for r in asof_join(
            left, right, ("v",), direction=direction, tolerance_s=tol
        ).collect():
            got.setdefault(r["bucket_s"], r["asof_v"])
        for t in lts:
            if direction == "nearest":
                # tolerance masks EACH side before the distance pick;
                # backward wins exact-distance ties
                back = [(rt, rv) for rt, rv in rs if rt <= t
                        and (tol is None or t - rt <= tol)]
                fwd = [(rt, rv) for rt, rv in rs if rt >= t
                       and (tol is None or rt - t <= tol)]
                b = max(back) if back else None
                f = min(fwd) if fwd else None
                if b is None:
                    want = f[1] if f else None
                elif f is None or (t - b[0]) <= (f[0] - t):
                    want = b[1]
                else:
                    want = f[1]
                assert got[t] == want, (t, direction, tol, rs)
                continue
            if direction == "backward":
                cand = [(rt, rv) for rt, rv in rs if rt <= t]
                match = max(cand) if cand else None
            else:
                cand = [(rt, rv) for rt, rv in rs if rt >= t]
                match = min(cand) if cand else None
            want = None
            if match is not None and (tol is None or abs(t - match[0]) <= tol):
                want = match[1]
            assert got[t] == want, (t, direction, tol, rs)

    check()


def test_asof_nearest_semantics(spark):
    """nearest: closer side wins, backward wins exact ties, tolerance
    masks each side BEFORE the pick (a too-far backward row must not
    shadow an in-window forward row)."""
    left = spark.createDataFrame(
        [("a", 100), ("a", 250), ("a", 290), ("a", 600)],
        "source string, bucket_s long",
    )
    right = spark.createDataFrame(
        [("a", 200, 10), ("a", 300, 20)],
        "source string, bucket_s long, v long",
    )
    near = {
        r["bucket_s"]: r["asof_v"]
        for r in asof_join(
            left, right, ("v",), direction="nearest"
        ).collect()
    }
    # 100→200(d100); 250 tie d50/d50 → backward 200; 290→300(d10);
    # 600→300 (only side)
    assert near == {100: 10, 250: 10, 290: 20, 600: 20}
    near_tol = {
        r["bucket_s"]: r["asof_v"]
        for r in asof_join(
            left, right, ("v",), direction="nearest", tolerance_s=60
        ).collect()
    }
    # 100: both sides too far → None; 600: 300 too far → None
    assert near_tol == {100: None, 250: 10, 290: 20, 600: None}


def test_asof_join_multi_value_cols_same_row(spark):
    """All carried value columns come from the SAME matched row."""
    left = spark.createDataFrame(
        [("a", 110)], "source string, bucket_s long",
    )
    right = spark.createDataFrame(
        [("a", 50, 7, None), ("a", 100, None, 9)],
        "source string, bucket_s long, v long, u long",
    )
    r = asof_join(left, right, ("v", "u")).collect()[0]
    assert (r["asof_v"], r["asof_u"]) == (None, 9)
