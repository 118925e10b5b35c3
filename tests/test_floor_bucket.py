"""Time-bucket FLOOR semantics over the full int64 domain.

The bucketing contract is floor (``date_trunc`` of a pre-epoch instant
goes back in time), implemented as ``x − pmod(x, w)`` on the Spark side
(:func:`rollup.floor_to`) and spelled the same way in the DuckDB oracle
(:func:`rollup.floor_sql`) because DuckDB's integer ``//`` truncates
toward zero. These tests pin three hazards the naive
``(x / w).cast("long") * w`` carries:

* negative (pre-epoch) timestamps land one bucket HIGH under
  truncation;
* double division is inexact past 2^53 — the int64 domain is wider;
* cascade re-bucketing must compose (floor∘floor ≡ floor when the fine
  width divides the coarse one) including across zero.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from pyreshaper_spark.operators.rollup import (
    bucket_trend_sql,
    bucket_trend,
    floor_py,
    floor_sql,
    floor_to,
    rollup_cascade,
    rollup_tier0,
)
from tests.conftest import rows_set

# negatives, zero boundary, exact multiples, and beyond-2^53 values
EVENTS = [
    -7, -600, -601, -1, 0, 1, 599, 600, 1201,
    -(2**53) - 1237, 2**53 + 1,  # double division misrounds here
    2**62, -(2**62),
]
COLS = ["source", "bucket_s", "cnt", "sum_n_tok", "min_n_tok", "max_n_tok"]


@pytest.fixture(scope="module")
def adversarial(spark):
    rows = [("s0", int(e), 10 + i) for i, e in enumerate(EVENTS)]
    return spark.createDataFrame(rows, "source string, event_s long, n_tok int")


def test_floor_to_matches_python_floor(spark, adversarial):
    got = {
        r["event_s"]: r["b"]
        for r in adversarial.select(
            "event_s", floor_to(F.col("event_s"), 600).alias("b")
        ).collect()
    }
    for e in EVENTS:
        assert got[e] == (e // 600) * 600, e  # Python // floors


def test_floor_sql_matches_python_floor():
    con = duckdb.connect()
    vals = ", ".join(f"({e})" for e in EVENTS)
    rows = con.sql(
        f"SELECT x, {floor_sql('x', 600)} FROM (VALUES {vals}) t(x)"
    ).fetchall()
    assert rows, "empty"
    for x, b in rows:
        assert b == (x // 600) * 600, x
    # and the hazard this guards against is real: bare // truncates
    assert con.sql("SELECT (-7) // 600").fetchone()[0] == 0


def test_bucket_floor_twins_agree(spark):
    """Spark floor_to, DuckDB floor_sql and the driver-side floor_py
    give the same bucket for negative, zero, width-boundary and large
    int64 event times, at every tier width."""
    events = EVENTS + [
        -3600, -3601, 3599, 3600, 86399, 86400, -86401,
        2**63 - 1, -(2**63) + 86400,
    ]
    widths = [60, 600, 3600, 86400]
    df = spark.createDataFrame([(e,) for e in events], "x long")
    got_spark = {
        (r["x"], w): r[f"b{w}"]
        for r in df.select(
            "x", *(floor_to(F.col("x"), w).alias(f"b{w}") for w in widths)
        ).collect()
        for w in widths
    }
    con = duckdb.connect()
    vals = ", ".join(f"({e}::BIGINT)" for e in events)
    cols = ", ".join(floor_sql("x", w) for w in widths)
    got_sql = {
        (r[0], w): b
        for r in con.sql(
            f"SELECT x, {cols} FROM (VALUES {vals}) t(x)"
        ).fetchall()
        for w, b in zip(widths, r[1:])
    }
    for e in events:
        for w in widths:
            want = (e // w) * w
            assert floor_py(e, w) == want, (e, w)
            assert got_spark[(e, w)] == want, (e, w)
            assert got_sql[(e, w)] == want, (e, w)


def test_tier0_negative_domain_matches_oracle(adversarial):
    tier = rollup_tier0(adversarial, 600).select(
        *(F.col(c).cast("long").alias(c) if c != "source" else c for c in COLS)
    )
    con = duckdb.connect()
    vals = ", ".join(
        f"('s0', {int(e)}, {10 + i})" for i, e in enumerate(EVENTS)
    )
    oracle = con.sql(
        f"""SELECT source, {floor_sql('event_s', 600)} AS bucket_s,
                   count(*) AS cnt,
                   CAST(sum(n_tok) AS BIGINT) AS sum_n_tok,
                   CAST(min(n_tok) AS BIGINT) AS min_n_tok,
                   CAST(max(n_tok) AS BIGINT) AS max_n_tok
            FROM (VALUES {vals}) t(source, event_s, n_tok)
            GROUP BY 1, 2"""
    ).fetchall()
    assert rows_set(tier, COLS) == {tuple(str(v) for v in r) for r in oracle}


def test_cascade_composes_across_zero(adversarial):
    """floor(floor(x, 60), 600) == floor(x, 600) — including the
    negative side, where truncating division would break composition."""
    via_cascade = rollup_cascade(rollup_tier0(adversarial, 60), 600)
    direct = rollup_tier0(adversarial, 600)
    assert rows_set(via_cascade, COLS) == rows_set(direct, COLS)


def test_trend_index_nonnegative_pre_epoch(spark):
    """The within-bucket index t must stay in [0, n_fine) for negative
    buckets: both engines agree and the slope of a clean ramp over a
    pre-epoch hour is positive."""
    rows = [("s0", -3600 + 600 * i, 100 * i) for i in range(6)]
    tier = spark.createDataFrame(
        rows, "source string, bucket_s long, sum_n_tok long"
    )
    got = bucket_trend(tier, coarse_s=3600, fine_s=600)
    [r] = got.collect()
    assert r["bucket_s"] == -3600 and r["st"] == 0 + 1 + 2 + 3 + 4 + 5
    assert r["slope_num"] > 0
    con = duckdb.connect()
    vals = ", ".join(f"('s0', {b}, {v})" for _, b, v in rows)
    sql = (
        f"WITH rel AS (SELECT * FROM (VALUES {vals}) "
        "t(source, bucket_s, sum_n_tok))"
        + bucket_trend_sql("rel", 3600, 600)
    )
    oracle = {tuple(str(v) for v in r) for r in con.sql(sql).fetchall()}
    cols = [d[0] for d in con.sql(sql).description]
    assert rows_set(got.select(*cols), cols) == oracle


def test_floor_sql_hypothesis_fuzz():
    """Property fuzz: floor_sql == Python floor division for random
    int64 values and widths (DuckDB-only — no Spark session needed)."""
    import random

    import duckdb

    rng = random.Random(20260818)
    con = duckdb.connect()
    cases = []
    for _ in range(300):
        w = rng.choice([1, 2, 7, 60, 600, 3600, 86400, 1 << 31])
        x = rng.choice([
            rng.randrange(-(2**63), 2**63 - 1),
            rng.randrange(-(2**20), 2**20),
            0, -1, 1, 2**53, -(2**53),
        ])
        # keep |floored| inside int64 (the engine's domain contract)
        if x - (x % w) < -(2**63) + w:
            continue
        cases.append((x, w))
    vals = ", ".join(f"({x}, {w})" for x, w in cases)
    got = con.sql(
        "SELECT x, w, "
        "((x) - ((((x) % w) + w) % w)) AS b "
        f"FROM (VALUES {vals}) t(x, w)"
    ).fetchall()
    for x, w, b in got:
        assert b == (x // w) * w, (x, w)
