"""Gap-fill + LOCF semantics on the gappy fixture (FIXTURES.md F2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyreshaper_spark.fixtures import sequences_df
from pyreshaper_spark.operators.gapfill import gapfill, gapfill_locf, gapfill_spine
from pyreshaper_spark.operators.rollup import rollup_tier0
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def gappy_tier(spark):
    seq = sequences_df(spark, SF_SMOKE, variant="gappy")
    return rollup_tier0(seq, 60).cache()


def test_spine_is_dense(gappy_tier):
    spine = gapfill_spine(gappy_tier, 60)
    stats = (
        spine.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            ((F.max("bucket_s") - F.min("bucket_s")) / 60 + 1).alias("expect"),
        )
        .filter(F.col("n") != F.col("expect"))
    )
    assert stats.count() == 0


def test_gapfill_reinstates_missing_buckets(gappy_tier):
    filled = gapfill(gappy_tier, 60)
    holes = filled.filter(F.col("filled"))
    # src1 had minute-buckets ≡3 (mod 5) deleted → holes must exist there
    assert holes.filter(F.col("source") == "src1").count() > 0
    # every hole row: cnt=0, null aggregates
    bad = holes.filter(
        (F.col("cnt") != 0)
        | F.col("sum_n_tok").isNotNull()
        | F.col("min_n_tok").isNotNull()
    )
    assert bad.count() == 0
    # non-hole rows are untouched original aggregates
    assert (
        filled.filter(~F.col("filled")).count() == gappy_tier.count()
    )


def test_locf_carries_forward_and_only_forward(gappy_tier):
    out = gapfill_locf(gappy_tier, 60).orderBy("source", "bucket_s")
    rows = out.filter(F.col("source") == "src1").collect()
    last_seen = None
    for r in rows:
        if r["sum_n_tok"] is not None:
            last_seen = r["sum_n_tok"]
            assert r["sum_n_tok_locf"] == r["sum_n_tok"]
        else:
            # leading nulls stay null; later holes carry the last value
            assert r["sum_n_tok_locf"] == last_seen


def test_rate_delta_lag_semantics(gappy_tier):
    from pyreshaper_spark.operators.gapfill import rate_delta

    out = rate_delta(gappy_tier.select("source", "bucket_s", "sum_n_tok"))
    rows = out.filter(F.col("source") == "src1").orderBy("bucket_s").collect()
    assert rows[0]["delta"] is None and rows[0]["dt_s"] is None
    for prev, cur in zip(rows, rows[1:]):
        assert cur["delta"] == cur["sum_n_tok"] - prev["sum_n_tok"]
        assert cur["dt_s"] == cur["bucket_s"] - prev["bucket_s"]
        # gappy fixture: some gaps are wider than one bucket
    assert any(r["dt_s"] and r["dt_s"] > 60 for r in rows[1:])


# --------------------------------------------------------------------------
# Time-weighted average + gap detection
# --------------------------------------------------------------------------

def test_time_weighted_semantics(spark):
    """Hand-computed LOCF-weighted average on an irregular series:
    segments clamp at the coarse-bucket boundary; the last point of a
    source holds for one fine width."""
    from pyreshaper_spark.operators.gapfill import time_weighted

    rows = [
        # src1, coarse bucket 0 (width 100, fine width 10)
        ("src1", 0, 5),     # holds [0, 30) → dt 30
        ("src1", 30, 7),    # holds [30, 100) clamp at 100 → dt 70
        ("src1", 110, 9),   # last point → dt 10 (one fine width)
        ("src2", 95, 4),    # holds [95, 100) clamp → dt 5
    ]
    tier = spark.createDataFrame(rows, "source string, bucket_s long, sum_n_tok long")
    out = {
        (r.source, r.bucket_s): (r.tw_num, r.tw_den)
        for r in time_weighted(tier, 10, 100).collect()
    }
    assert out == {
        ("src1", 0): (5 * 30 + 7 * 70, 100),
        ("src1", 100): (9 * 10, 10),
        ("src2", 0): (4 * 5, 5),
    }


def test_detect_gaps_finds_exact_runs(spark):
    from pyreshaper_spark.operators.gapfill import detect_gaps

    rows = [("a", 0), ("a", 600), ("a", 2400), ("a", 3000), ("b", 0), ("b", 1200)]
    tier = spark.createDataFrame(rows, "source string, bucket_s long")
    got = {
        (r.source, r.gap_start, r.gap_end, r.n_missing)
        for r in detect_gaps(tier, 600).collect()
    }
    assert got == {("a", 1200, 2400, 2), ("b", 600, 1200, 1)}


def test_detect_gaps_matches_gapfill_filled_count(spark):
    """Invariant vs gap-fill: total missing buckets reported by
    detect_gaps == number of spine rows gapfill marks filled."""
    from pyreshaper_spark.fixtures import sequences_df
    from pyreshaper_spark.operators.gapfill import detect_gaps, gapfill
    from pyreshaper_spark.operators.rollup import rollup_all_tiers
    from tests.conftest import SF_SMOKE

    seq = sequences_df(spark, SF_SMOKE, variant="gappy")
    tier = rollup_all_tiers(seq, [60, 600])[600]
    n_missing = (
        detect_gaps(tier, 600).agg(F.sum("n_missing")).collect()[0][0]
    )
    n_filled = gapfill(tier, 600).filter("filled").count()
    assert n_missing == n_filled


def test_cusum_equals_naive_recursion(spark):
    """The window formulation S_t = C_t - min_{j<=t} C_j must equal
    Page's recursion S_t = max(0, S_{t-1} + (x_t - mean)) exactly
    (scaled by n to stay integer), on irregular pseudo-random series."""
    import random

    from pyreshaper_spark.operators.gapfill import cusum_detect

    rng = random.Random(11)
    rows = []
    for s in range(3):
        t = 0
        for _ in range(rng.randint(5, 40)):
            t += rng.randint(1, 5) * 600
            rows.append((f"s{s}", t, rng.randint(0, 1000)))
    df = spark.createDataFrame(
        rows, "source string, bucket_s long, sum_n_tok long"
    )
    got = {
        (r["source"], r["bucket_s"]): (r["cusum_num"], r["n"], r["flag"])
        for r in cusum_detect(df, h=100).collect()
    }
    by_src: dict[str, list] = {}
    for s, b, v in rows:
        by_src.setdefault(s, []).append((b, v))
    for s, pts in by_src.items():
        pts.sort()
        n = len(pts)
        total = sum(v for _, v in pts)
        s_num = 0
        for b, v in pts:
            s_num = max(0, s_num + (n * v - total))  # n·S_t
            assert got[(s, b)] == (s_num, n, s_num > n * 100), (s, b)


def test_cusum_fixed_batch_matches_recursion(spark):
    from pyspark.sql import Row

    from pyreshaper_spark.operators.gapfill import cusum_fixed

    W = 600
    vals = [100, 150, 30, 200, 90, 300, 10, 10, 10, 500]
    tier = spark.createDataFrame(
        [Row(source="a", bucket_s=i * W, sum_n_tok=v)
         for i, v in enumerate(vals)]
    )
    out = {
        r.bucket_s: (r.cusum, r.flag)
        for r in cusum_fixed(tier, mu=100, h=150).collect()
    }
    s = 0
    for i, v in enumerate(vals):
        s = max(0, s + v - 100)
        assert out[i * W] == (s, s > 150), i


def test_interarrival_tie_and_bucket_attribution(spark):
    from pyreshaper_spark.operators.gapfill import interarrival

    df = spark.createDataFrame(
        [("a", 10), ("a", 10), ("a", 70), ("a", 130), ("b", 5)],
        "source string, event_s long",
    )
    got = {
        (r["source"], r["bucket_s"]):
            (r["n_gaps"], r["sum_dt_s"], r["min_dt_s"], r["max_dt_s"])
        for r in interarrival(df, 60).collect()
    }
    # gaps: (10,10)->0 @bucket0, (10,70)->60 @bucket60, (70,130)->60 @bucket120
    assert got == {
        ("a", 0): (1, 0, 0, 0),
        ("a", 60): (1, 60, 60, 60),
        ("a", 120): (1, 60, 60, 60),
    }


def test_rolling_median_order_stats(spark):
    import random

    from pyreshaper_spark.operators.gapfill import rolling_median

    rng = random.Random(5)
    rows = [("s", 600 * i, rng.randint(0, 100)) for i in range(25)]
    df = spark.createDataFrame(
        rows, "source string, bucket_s long, sum_n_tok long"
    )
    got = {
        r["bucket_s"]: (r["med_lo"], r["med_hi"], r["win_n"])
        for r in rolling_median(df, k=6).collect()
    }
    vals = [v for _, _, v in rows]
    for i, (_, b, _) in enumerate(rows):
        win = sorted(vals[max(0, i - 5): i + 1])
        n = len(win)
        lo, hi = win[(n + 1) // 2 - 1], win[n // 2]
        assert got[b] == (lo, hi, n), b


def test_uptime_islands_complement_detect_gaps(spark):
    """Islands and gap runs are complements: every island's end+gap
    aligns with detect_gaps, and islands exactly cover the present
    buckets."""
    from pyreshaper_spark.operators.gapfill import detect_gaps, uptime_islands

    rows = [("a", b) for b in (0, 600, 1200, 3000, 3600, 9000)]
    df = spark.createDataFrame(rows, "source string, bucket_s long")
    df = df.withColumn("sum_n_tok", F.lit(1))
    isl = sorted(
        (r["up_start"], r["up_end"], r["n_buckets"])
        for r in uptime_islands(df, 600).collect()
    )
    assert isl == [(0, 1800, 3), (3000, 4200, 2), (9000, 9600, 1)]
    gaps = sorted(
        (r["gap_start"], r["gap_end"])
        for r in detect_gaps(df, 600).collect()
    )
    assert gaps == [(1800, 3000), (4200, 9000)]


def test_slo_burn_counts(spark):
    from pyreshaper_spark.operators.rollup import slo_burn

    df = spark.createDataFrame(
        [("a", 0, 50), ("a", 3600, 90), ("a", 90000, 99), ("b", 0, 10)],
        "source string, bucket_s long, sum_n_tok long",
    )
    got = {
        (r["source"], r["bucket_s"]): (r["n_bad"], r["n_buckets"], r["worst"])
        for r in slo_burn(df, 86400, 80).collect()
    }
    assert got == {
        ("a", 0): (1, 2, 90),
        ("a", 86400): (1, 1, 99),
        ("b", 0): (0, 1, 10),
    }


def test_uptime_islands_property(spark):
    """Property: islands partition the present buckets — every present
    bucket falls in exactly one island, islands are maximal (no two
    adjacent islands touch), and n_buckets sums to the bucket count."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyreshaper_spark.operators.gapfill import uptime_islands

    @settings(max_examples=12, deadline=None)
    @given(
        st.sets(st.integers(min_value=0, max_value=60), min_size=1,
                max_size=30)
    )
    def check(buckets):
        rows = [("s", 600 * b) for b in sorted(buckets)]
        df = spark.createDataFrame(rows, "source string, bucket_s long")
        isl = sorted(
            (r["up_start"], r["up_end"], r["n_buckets"])
            for r in uptime_islands(df, 600).collect()
        )
        assert sum(n for _, _, n in isl) == len(buckets)
        covered = set()
        prev_end = None
        for start, end, n in isl:
            assert end - start == 600 * n  # islands are gap-free runs
            run = set(range(start, end, 600))
            assert run <= {600 * b for b in buckets}
            assert not (run & covered)
            covered |= run
            if prev_end is not None:
                assert start > prev_end  # maximality: a gap separates
            prev_end = end
        assert covered == {600 * b for b in buckets}

    check()


def test_snaive_eval_hand_computed(spark):
    """Forecast-skill components on a 4-bucket, season=2 series:
    actual [10, 13, 11, 20] → season preds for b2,b3 = [10, 13]
    (|err| 1, 7); naive-1 preds for b1..b3 = [10, 13, 11]
    (|err| 3, 2, 9)."""
    from pyreshaper_spark.operators.gapfill import snaive_eval

    tier = spark.createDataFrame(
        [("s", 0, 10), ("s", 60, 13), ("s", 120, 11), ("s", 180, 20)],
        "source string, bucket_s long, sum_n_tok long",
    )
    r = snaive_eval(tier, 60, season_buckets=2).collect()[0]
    assert (r["n_eval"], r["abs_err_sum"], r["abs_err_max"]) == (2, 8, 7)
    assert (r["n_naive1"], r["naive1_err_sum"]) == (3, 14)


def test_level_shift_flags_exactly_the_step(spark):
    """A clean 10→50 step at bucket 6 with k=3, thresh=30: only the
    boundary point sees full windows whose means differ by ≥30 (pre
    10, post 50); one bucket either side the windows straddle the step
    and dilute below threshold; edges never flag (partial windows)."""
    from pyreshaper_spark.operators.gapfill import level_shift

    rows = [("s", b, 10 if b < 6 else 50) for b in range(12)]
    tier = spark.createDataFrame(
        rows, "source string, bucket_s long, sum_n_tok long"
    )
    got = {
        r["bucket_s"]: r["shift_flag"]
        for r in level_shift(tier, k=3, thresh=30).collect()
    }
    assert got == {b: (b == 6) for b in range(12)}
