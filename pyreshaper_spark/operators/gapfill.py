"""Gap-fill spine + last-observation-carried-forward (LOCF) fill.

Reference analog: a time-series output file has one slot per time step
whether or not a variable had data there; the graft mandates explicit
gap-fill (``sequence() + explode`` spine, left-outer join back) and
LOCF via ``last(..., ignorenulls=True)`` over an ordered window
[BASELINE.json:6].

Scale notes:

* The spine is generated from the per-source (min, max) bucket range —
  a tiny aggregate (|sources| rows) exploded to |sources| × |buckets|
  rows. The explode happens AFTER the aggregate, so it never touches
  raw data.
* The spine ⟕ aggregate join is an equi-join on (source, bucket_s). At
  tier granularity both sides are small relative to raw input; AQE
  picks broadcast when one side fits. No skew concern: the spine is
  uniform by construction.
* The LOCF window partitions by source and orders by bucket — one
  shuffle on source, bounded state (running last value), vectorized by
  Tungsten's window exec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyreshaper_spark.operators.rollup import AGG_COLS, floor_sql, floor_to


def gapfill_spine(tier: DataFrame, width_s: int) -> DataFrame:
    """Dense (source, bucket_s) spine from each source's observed range."""
    return (
        tier.groupBy("source")
        .agg(F.min("bucket_s").alias("min_b"), F.max("bucket_s").alias("max_b"))
        .select(
            "source",
            F.explode(
                F.sequence("min_b", "max_b", F.lit(width_s).cast("long"))
            ).alias("bucket_s"),
        )
    )


def gapfill(tier: DataFrame, width_s: int) -> DataFrame:
    """Left-outer join the dense spine onto the tier aggregate.

    Missing buckets appear with cnt=0, null sum/min/max and
    ``filled=true`` — mirroring the reference's presence of every time
    step in an output file.
    """
    spine = gapfill_spine(tier, width_s)
    joined = spine.join(tier, on=["source", "bucket_s"], how="left_outer")
    return joined.select(
        "source",
        "bucket_s",
        F.coalesce("cnt", F.lit(0)).alias("cnt"),
        "sum_n_tok",
        "min_n_tok",
        "max_n_tok",
        F.col("cnt").isNull().alias("filled"),
    )


def locf(filled_tier: DataFrame, value_cols: tuple[str, ...] = ("sum_n_tok",)) -> DataFrame:
    """Carry the last non-null observation forward within each source.

    Adds ``<col>_locf`` columns. Buckets before a source's first
    observation remain null (nothing to carry). Order is semantic:
    the window always orders by bucket_s — never relies on incidental
    partition layout.
    """
    w = (
        Window.partitionBy("source")
        .orderBy("bucket_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = filled_tier
    for c in value_cols:
        out = out.withColumn(f"{c}_locf", F.last(c, ignorenulls=True).over(w))
    return out


def gapfill_locf(tier: DataFrame, width_s: int) -> DataFrame:
    """Convenience: spine → left-outer join → LOCF on sum_n_tok."""
    return locf(gapfill(tier, width_s))


def interpolate(filled_tier: DataFrame, value_col: str = "sum_n_tok") -> DataFrame:
    """Linear interpolation across gaps (TimescaleDB ``interpolate``).

    Emits the interpolated value as an EXACT integer rational
    (``interp_num`` / ``interp_den``) instead of a float — division
    order can differ between engines, numerators cannot:

        num = prev·(next_b − b) + next·(b − prev_b),  den = next_b − prev_b

    Observed buckets carry (value, 1); leading/trailing gaps (no
    neighbor on one side) stay null — nothing to interpolate toward.
    Two windows (backward last, forward first) over the same
    (source, bucket) ordering — one shuffle total.
    """
    w_back = (
        Window.partitionBy("source")
        .orderBy("bucket_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("source")
        .orderBy("bucket_s")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v = F.col(value_col)
    obs_b = F.when(v.isNotNull(), F.col("bucket_s"))
    out = (
        filled_tier.withColumn("prev_v", F.last(v, ignorenulls=True).over(w_back))
        .withColumn("prev_b", F.last(obs_b, ignorenulls=True).over(w_back))
        .withColumn("next_v", F.first(v, ignorenulls=True).over(w_fwd))
        .withColumn("next_b", F.first(obs_b, ignorenulls=True).over(w_fwd))
    )
    has_both = F.col("prev_b").isNotNull() & F.col("next_b").isNotNull()
    num = F.when(v.isNotNull(), v).otherwise(
        F.when(
            has_both,
            F.col("prev_v") * (F.col("next_b") - F.col("bucket_s"))
            + F.col("next_v") * (F.col("bucket_s") - F.col("prev_b")),
        )
    )
    den = F.when(v.isNotNull(), F.lit(1).cast("long")).otherwise(
        F.when(has_both, F.col("next_b") - F.col("prev_b"))
    )
    return out.select(
        "source", "bucket_s", "cnt", value_col, "filled",
        num.cast("long").alias("interp_num"),
        den.cast("long").alias("interp_den"),
    )


def interpolate_sql(relation: str, value_col: str = "sum_n_tok") -> str:
    """DuckDB rendering of :func:`interpolate` over an existing relation
    (CTE or view) yielding source, bucket_s, cnt, <value_col>, filled.
    Returns a CTE continuation + final SELECT — append after the
    caller's WITH chain as ``", " + interpolate_sql("filled")``."""
    return f"""
nb AS (
  SELECT *,
    last_value({value_col} IGNORE NULLS) OVER (
      PARTITION BY source ORDER BY bucket_s
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
    last_value(CASE WHEN {value_col} IS NOT NULL THEN bucket_s END IGNORE NULLS)
      OVER (PARTITION BY source ORDER BY bucket_s
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_b,
    first_value({value_col} IGNORE NULLS) OVER (
      PARTITION BY source ORDER BY bucket_s
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
    first_value(CASE WHEN {value_col} IS NOT NULL THEN bucket_s END IGNORE NULLS)
      OVER (PARTITION BY source ORDER BY bucket_s
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_b
  FROM {relation}
)
SELECT source, bucket_s, cnt, {value_col}, filled,
  CAST(CASE WHEN {value_col} IS NOT NULL THEN {value_col}
       WHEN prev_b IS NOT NULL AND next_b IS NOT NULL
       THEN prev_v * (next_b - bucket_s) + next_v * (bucket_s - prev_b)
       END AS BIGINT) AS interp_num,
  CAST(CASE WHEN {value_col} IS NOT NULL THEN 1
       WHEN prev_b IS NOT NULL AND next_b IS NOT NULL THEN next_b - prev_b
       END AS BIGINT) AS interp_den
FROM nb
"""


__all__ = [
    "gapfill_spine", "gapfill", "locf", "gapfill_locf", "interpolate",
    "interpolate_sql", "AGG_COLS",
]


def rolling_agg(
    tier: DataFrame, k: int, value_col: str = "sum_n_tok"
) -> DataFrame:
    """Trailing k-bucket rolling aggregate per source over a (gap-filled
    or sparse) tier: rolling sum + observation count + running max —
    the moving-average / smoothing query every monitoring stack runs
    over continuous aggregates. Exact integers only (consumers derive
    the average as roll_sum/roll_n — no float in the comparable
    output).

    One window over the existing (source, bucket_s) ordering — a
    single shuffle on source, O(k) bounded frame state per partition.
    """
    w = (
        Window.partitionBy("source")
        .orderBy("bucket_s")
        .rowsBetween(-(k - 1), Window.currentRow)
    )
    return tier.select(
        "source",
        "bucket_s",
        F.col(value_col),
        F.sum(value_col).over(w).alias("roll_sum"),
        F.count(value_col).over(w).alias("roll_n"),
        F.max(value_col).over(w).alias("roll_max"),
    )


def rolling_agg_sql(relation: str, k: int, value_col: str = "sum_n_tok") -> str:
    """DuckDB twin of :func:`rolling_agg` over a named relation."""
    return f"""
SELECT source, bucket_s, {value_col},
       CAST(sum({value_col}) OVER w AS BIGINT) AS roll_sum,
       count({value_col}) OVER w               AS roll_n,
       max({value_col}) OVER w                 AS roll_max
FROM {relation}
WINDOW w AS (PARTITION BY source ORDER BY bucket_s
             ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW)
"""


def _slope_den(k: int) -> int:
    """Constant OLS denominator for positions 0..k−1:
    ``k·Σp² − (Σp)²`` — positive for k ≥ 2."""
    p1 = k * (k - 1) // 2
    p2 = (k - 1) * k * (2 * k - 1) // 6
    return k * p2 - p1 * p1


def rolling_slope(
    tier: DataFrame, k: int, value_col: str = "sum_n_tok"
) -> DataFrame:
    """Trailing-k ordinary-least-squares slope per source — the rolling
    trend detector ("is this feed ramping?") behind every dashboard's
    trend arrow. Exact integers: over the last k observations at
    positions p = 0..k−1 (oldest..newest), the OLS slope is
    ``(k·Σ(p·y) − Σp·Σy) / (k·Σp² − (Σp)²)``; the denominator is a
    constant of k, so the comparable output is the integer numerator
    plus that constant — consumers divide, no float ever leaves the
    engine. A positive ``slope_num`` means rising.

    Emitted only where the full k-lag history exists (NULL otherwise),
    so a short head never masquerades as a flat trend. Positions are
    observation ranks, not calendar offsets — run over a gap-filled
    tier for calendar semantics (composes with :func:`gapfill_locf`).

    One window over the tier's own (source, bucket_s) ordering: k
    explicit lags, single shuffle on source, same discipline as
    :func:`ewma_binary`.
    """
    if k < 2:
        raise ValueError(f"rolling_slope needs k >= 2, got {k}")
    w = Window.partitionBy("source").orderBy("bucket_s")
    v = F.col(value_col)
    num = F.lit(0).cast("long")
    sy = F.lit(0).cast("long")
    oldest = None
    for i in range(k):
        # lag i is the value at position p = k−1−i (newest: i=0 → p=k−1)
        li = v if i == 0 else F.lag(value_col, i).over(w)
        p = k - 1 - i
        num = num + li * F.lit(k * p)
        sy = sy + li
        oldest = li
    p1 = k * (k - 1) // 2
    num = num - F.lit(p1) * sy
    full = oldest.isNotNull()
    return tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        v.cast("long").alias(value_col),
        F.when(full, num).cast("long").alias("slope_num"),
        F.lit(_slope_den(k)).cast("long").alias("slope_den"),
    )


def rolling_slope_sql(
    relation: str, k: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`rolling_slope` over a named relation."""
    if k < 2:
        raise ValueError(f"rolling_slope_sql needs k >= 2, got {k}")
    terms = []
    p1 = k * (k - 1) // 2
    for i in range(k):
        expr = (
            value_col
            if i == 0
            else (
                f"lag({value_col}, {i}) OVER "
                f"(PARTITION BY source ORDER BY bucket_s)"
            )
        )
        terms.append(f"({expr}) * {k * (k - 1 - i) - p1}")
    oldest = (
        f"lag({value_col}, {k - 1}) OVER "
        f"(PARTITION BY source ORDER BY bucket_s)"
    )
    return f"""
SELECT source,
       CAST(bucket_s AS BIGINT)    AS bucket_s,
       CAST({value_col} AS BIGINT) AS {value_col},
       CAST(CASE WHEN ({oldest}) IS NOT NULL
                 THEN {' + '.join(terms)} END AS BIGINT) AS slope_num,
       CAST({_slope_den(k)} AS BIGINT) AS slope_den
FROM {relation}
"""


def rate_delta(tier: DataFrame, value_col: str = "sum_n_tok") -> DataFrame:
    """Counter delta between consecutive buckets per source (PromQL
    ``increase`` over a continuous aggregate): ``delta = v − lag(v)``,
    ``dt_s = bucket_s − lag(bucket_s)``. Consumers derive the rate as
    delta/dt_s — exact integers only in the comparable output; the
    first bucket of each source has null delta/dt_s (no predecessor).

    One lag window on the (source, bucket_s) ordering every other
    tier-level analytic here already uses — a single small shuffle.
    """
    w = Window.partitionBy("source").orderBy("bucket_s")
    v = F.col(value_col)
    return tier.select(
        "source",
        "bucket_s",
        v,
        (v - F.lag(v).over(w)).cast("long").alias("delta"),
        (F.col("bucket_s") - F.lag("bucket_s").over(w))
        .cast("long")
        .alias("dt_s"),
    )


def rate_delta_sql(relation: str, value_col: str = "sum_n_tok") -> str:
    """DuckDB twin of :func:`rate_delta` over a named relation."""
    return f"""
SELECT source, bucket_s, {value_col},
       CAST({value_col} - lag({value_col}) OVER w AS BIGINT) AS delta,
       CAST(bucket_s - lag(bucket_s) OVER w AS BIGINT)       AS dt_s
FROM {relation}
WINDOW w AS (PARTITION BY source ORDER BY bucket_s)
"""


def counter_rate(tier: DataFrame, value_col: str = "sum_n_tok") -> DataFrame:
    """Reset-corrected counter increase — full PromQL ``increase``
    semantics on top of :func:`rate_delta`: when a monotone counter
    goes DOWN between samples the process restarted, so the true
    increase for that interval is the new value itself (counter
    restarted from 0), not the negative delta. Output adds
    ``increase`` (reset-corrected, null on each source's first bucket)
    and a ``reset`` flag.

    Same single lag window as :func:`rate_delta` — reset correction is
    a row-local CASE on top, no extra shuffle.
    """
    w = Window.partitionBy("source").orderBy("bucket_s")
    v = F.col(value_col)
    pv = F.lag(value_col).over(w)
    reset = pv.isNotNull() & (v < pv)
    return tier.select(
        "source",
        "bucket_s",
        v,
        F.when(pv.isNull(), F.lit(None))
        .when(reset, v)
        .otherwise(v - pv)
        .cast("long")
        .alias("increase"),
        reset.alias("reset"),
        (F.col("bucket_s") - F.lag("bucket_s").over(w))
        .cast("long")
        .alias("dt_s"),
    )


def counter_rate_sql(relation: str, value_col: str = "sum_n_tok") -> str:
    """DuckDB twin of :func:`counter_rate` over a named relation."""
    v, pv = value_col, f"lag({value_col}) OVER w"
    return f"""
SELECT source, bucket_s, {v},
       CAST(CASE WHEN {pv} IS NULL THEN NULL
                 WHEN {v} < {pv} THEN {v}
                 ELSE {v} - {pv} END AS BIGINT)        AS increase,
       ({pv} IS NOT NULL AND {v} < {pv})               AS reset,
       CAST(bucket_s - lag(bucket_s) OVER w AS BIGINT) AS dt_s
FROM {relation}
WINDOW w AS (PARTITION BY source ORDER BY bucket_s)
"""


# --------------------------------------------------------------------------
# Time-weighted average — irregular samples → duration-weighted rollup
# --------------------------------------------------------------------------

def time_weighted(
    tier: DataFrame,
    fine_w: int,
    coarse_w: int,
    value_col: str = "sum_n_tok",
) -> DataFrame:
    """Time-weighted average of a (possibly gappy) fine tier into coarse
    buckets — the TimescaleDB ``time_weight``/``average`` analog with
    LOCF (step-function) semantics.

    Each fine-tier point holds its value from ``bucket_s`` until the
    next point of the same source, clamped to the end of the point's
    coarse bucket (segments never bleed across the coarse boundary; a
    source's last point holds for one fine width). Output is the EXACT
    integer rational ``(tw_num, tw_den)`` = (Σ value·dt, Σ dt) so the
    oracle compare has no float division; consumers divide.

    One lag-family window (lead over (source, bucket_s)) + one hash
    aggregate — same shuffle count as :func:`rate_delta`, so it scales
    identically: the window partitions by source, the aggregate by
    (source, coarse bucket).
    """
    w = Window.partitionBy("source").orderBy("bucket_s")
    b = F.col("bucket_s")
    coarse = floor_to(b, coarse_w)
    hold_until = F.least(
        F.coalesce(F.lead("bucket_s").over(w), b + fine_w),
        coarse + coarse_w,
    )
    v = F.col(value_col)
    return (
        tier.select(
            "source",
            coarse.alias("cbucket_s"),
            v.alias("v"),
            (hold_until - b).cast("long").alias("dt"),
        )
        .groupBy("source", F.col("cbucket_s").alias("bucket_s"))
        .agg(
            (F.sum(F.col("v") * F.col("dt"))).cast("long").alias("tw_num"),
            F.sum("dt").cast("long").alias("tw_den"),
        )
    )


def time_weighted_sql(
    relation: str, fine_w: int, coarse_w: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`time_weighted` over a named relation."""
    return f"""
SELECT source, bucket_s,
       CAST(sum(v * dt) AS BIGINT) AS tw_num,
       CAST(sum(dt) AS BIGINT)     AS tw_den
FROM (
  SELECT source,
         {floor_sql('bucket_s', coarse_w)} AS bucket_s,
         {value_col}                           AS v,
         least(coalesce(lead(bucket_s) OVER (PARTITION BY source
                                             ORDER BY bucket_s),
                        bucket_s + {fine_w}),
               {floor_sql('bucket_s', coarse_w)} + {coarse_w})
         - bucket_s                            AS dt
  FROM {relation}
)
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Gap detection — report missing-bucket runs instead of filling them
# --------------------------------------------------------------------------

def detect_gaps(tier: DataFrame, width_s: int) -> DataFrame:
    """Missing-bucket runs per source in a tier: one row per gap with
    ``gap_start`` (first missing bucket), ``gap_end`` (first present
    bucket after the run, exclusive) and ``n_missing``. The monitoring
    face of gap-fill — report holes rather than patching them.

    Same single lag window as :func:`rate_delta`; the filter keeps only
    boundary rows so output is O(gaps), never O(buckets).
    """
    w = Window.partitionBy("source").orderBy("bucket_s")
    prev = F.lag("bucket_s").over(w)
    return (
        tier.select("source", "bucket_s", prev.alias("prev_s"))
        .filter(F.col("bucket_s") - F.col("prev_s") > width_s)
        .select(
            "source",
            (F.col("prev_s") + width_s).cast("long").alias("gap_start"),
            F.col("bucket_s").cast("long").alias("gap_end"),
            # integer div, not `/`: the gap is a non-negative multiple
            # of width (buckets are width-aligned), so div is exact
            # over the full int64 range where double division is not
            (F.expr(f"(bucket_s - prev_s) div {width_s}") - 1)
            .cast("long")
            .alias("n_missing"),
        )
    )


def detect_gaps_sql(relation: str, width_s: int) -> str:
    """DuckDB twin of :func:`detect_gaps` over a named relation."""
    return f"""
SELECT source,
       CAST(prev_s + {width_s} AS BIGINT)                  AS gap_start,
       CAST(bucket_s AS BIGINT)                            AS gap_end,
       CAST((bucket_s - prev_s) // {width_s} - 1 AS BIGINT) AS n_missing
FROM (
  SELECT source, bucket_s,
         lag(bucket_s) OVER (PARTITION BY source ORDER BY bucket_s) AS prev_s
  FROM {relation}
)
WHERE bucket_s - prev_s > {width_s}
"""


# --------------------------------------------------------------------------
# Anomaly flag — exact integer z-score test against a trailing window
# --------------------------------------------------------------------------

def anomaly_zflag(
    tier: DataFrame,
    k: int = 6,
    z_num: int = 3,
    z_den: int = 1,
    min_n: int = 3,
    value_col: str = "sum_n_tok",
) -> DataFrame:
    """Flag buckets whose value deviates more than z = z_num/z_den
    population standard deviations from the TRAILING ``k`` buckets
    (current bucket excluded — no self-contamination), per source.

    The z-test is algebraically cleared of square roots and divisions:

        |v − s/n| > z·σ  ⇔  (v·n − s)²·z_den² > z_num²·(n·ss − s²)

    so the comparison is EXACT integer/decimal arithmetic — no float
    drift, hence oracle-checkable (a float z-score never is). The
    squares are computed in decimal(38,0): at 10^12-scale bucket values
    (v ≈ 1e12) the square is ~1e24, far past int64. One rolling window
    (n, Σv, Σv²) per source — same single-exchange shape as
    :func:`rolling_agg`. Buckets with fewer than ``min_n`` trailing
    points are never flagged (variance of a near-empty window is
    noise).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("bucket_s")
        .rowsBetween(-k, -1)
    )
    v = F.col(value_col)
    vd = v.cast("decimal(18,0)")
    n = F.count(value_col).over(w)
    s = F.sum(vd).over(w).cast("decimal(18,0)")
    ss = F.sum(vd * vd).over(w).cast("decimal(38,0)")
    nd = n.cast("decimal(18,0)")
    dev = (vd * nd - s).cast("decimal(18,0)")
    lhs = (dev * dev).cast("decimal(38,0)") * F.lit(z_den * z_den)
    # n ≤ k (tiny), so n·ss stays within the 38-digit cap even with ss
    # near 10^25 at extreme scale
    var_term = (nd * ss - (s * s).cast("decimal(38,0)")).cast("decimal(38,0)")
    rhs = F.lit(z_num * z_num).cast("decimal(38,0)") * var_term
    return tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        v.cast("long").alias(value_col),
        n.cast("long").alias("roll_n"),
        (
            (n >= min_n) & (lhs > rhs)
        ).alias("is_anomaly"),
    )


def anomaly_zflag_sql(
    relation: str,
    k: int = 6,
    z_num: int = 3,
    z_den: int = 1,
    min_n: int = 3,
    value_col: str = "sum_n_tok",
) -> str:
    """DuckDB twin of :func:`anomaly_zflag` over a named tier relation.

    Internal arithmetic uses HUGEINT (exact 128-bit) — DuckDB's decimal
    width rules reject the chained products, and only the boolean/long
    outputs are hash-compared, so internal types just need exactness
    (Spark's side uses decimal(38,0), identical integer values).
    """
    return f"""
SELECT source,
       CAST(bucket_s AS BIGINT)    AS bucket_s,
       CAST({value_col} AS BIGINT) AS {value_col},
       CAST(n AS BIGINT)           AS roll_n,
       (n >= {min_n} AND
        (v * n - s) * (v * n - s) * {z_den * z_den}
        > {z_num * z_num} * (n * ss - s * s)) AS is_anomaly
FROM (
  SELECT source, bucket_s, {value_col},
         CAST({value_col} AS HUGEINT) AS v,
         CAST(count({value_col}) OVER w AS HUGEINT) AS n,
         CAST(coalesce(sum(CAST({value_col} AS HUGEINT)) OVER w, 0)
              AS HUGEINT) AS s,
         CAST(coalesce(sum(CAST({value_col} AS HUGEINT)
                         * CAST({value_col} AS HUGEINT)) OVER w, 0)
              AS HUGEINT) AS ss
  FROM {relation}
  WINDOW w AS (PARTITION BY source ORDER BY bucket_s
               ROWS BETWEEN {k} PRECEDING AND 1 PRECEDING)
)
"""


# --------------------------------------------------------------------------
# Seasonal diff — compare each bucket to the same bucket one period ago
# --------------------------------------------------------------------------

def seasonal_diff(
    tier: DataFrame, period_s: int, value_col: str = "sum_n_tok"
) -> DataFrame:
    """Value minus the value one season earlier (PromQL ``offset`` /
    same-hour-yesterday comparison): a bucket-keyed self-join, NOT a
    row lag — gaps in the series must not shift the comparison point.

    Left join on (source, bucket_s − period_s): prior-season value and
    delta are NULL when that bucket is missing. Equi-join on the tier's
    own keys — co-partitioned with the tier's layout at scale.
    """
    v = F.col(value_col)
    prev = tier.select(
        "source",
        (F.col("bucket_s") + period_s).cast("long").alias("bucket_s"),
        v.cast("long").alias("prev_v"),
    )
    cur = tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        v.cast("long").alias(value_col),
    )
    return cur.join(prev, ["source", "bucket_s"], "left").select(
        "source", "bucket_s", value_col, "prev_v",
        (F.col(value_col) - F.col("prev_v")).cast("long").alias("season_delta"),
    )


def seasonal_diff_sql(
    relation: str, period_s: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`seasonal_diff` over a named tier relation."""
    return f"""
SELECT c.source,
       CAST(c.bucket_s AS BIGINT)        AS bucket_s,
       CAST(c.{value_col} AS BIGINT)     AS {value_col},
       CAST(p.{value_col} AS BIGINT)     AS prev_v,
       CAST(c.{value_col} - p.{value_col} AS BIGINT) AS season_delta
FROM {relation} c
LEFT JOIN {relation} p
  ON c.source = p.source AND c.bucket_s = p.bucket_s + {period_s}
"""


def snaive_eval(
    tier: DataFrame, width_s: int, season_buckets: int,
    value_col: str = "sum_n_tok",
) -> DataFrame:
    """Seasonal-naive forecast-skill readout per source — the standard
    sanity floor for any forecasting on the rolled-up series: predict
    each bucket with the value one season earlier, and report the
    exact-integer MASE components against the one-bucket naive:

        MASE = (abs_err_sum / n_eval) / (naive1_err_sum / n_naive1)

    (left to the consumer so no float leaves the engine). Both
    comparison points are bucket-keyed self-joins (gaps must not shift
    them — same rule as :func:`seasonal_diff`), equi-joins on the
    tier's own keys, one source-keyed aggregate. Buckets without the
    required ancestor are excluded identically in both engines.
    """
    v = F.col(value_col).cast("long")

    def shifted(off_buckets: int, alias: str) -> DataFrame:
        return tier.select(
            "source",
            (F.col("bucket_s") + off_buckets * width_s)
            .cast("long").alias("bucket_s"),
            v.alias(alias),
        )

    cur = tier.select(
        "source", F.col("bucket_s").cast("long").alias("bucket_s"),
        v.alias("actual"),
    )
    season = cur.join(shifted(season_buckets, "pred"), ["source", "bucket_s"])
    naive1 = cur.join(shifted(1, "prev1"), ["source", "bucket_s"])
    s = season.groupBy("source").agg(
        F.count("*").alias("n_eval"),
        F.sum(F.abs(F.col("actual") - F.col("pred"))).alias("abs_err_sum"),
        F.max(F.abs(F.col("actual") - F.col("pred"))).alias("abs_err_max"),
    )
    n1 = naive1.groupBy("source").agg(
        F.count("*").alias("n_naive1"),
        F.sum(F.abs(F.col("actual") - F.col("prev1"))).alias("naive1_err_sum"),
    )
    return s.join(n1, "source")


def snaive_eval_sql(
    relation: str, width_s: int, season_buckets: int,
    value_col: str = "sum_n_tok",
) -> str:
    """DuckDB twin of :func:`snaive_eval` over a named tier relation."""
    return f"""
SELECT s.source, s.n_eval, s.abs_err_sum, s.abs_err_max,
       n.n_naive1, n.naive1_err_sum
FROM (
  SELECT c.source, count(*) AS n_eval,
         CAST(sum(abs(c.{value_col} - p.{value_col})) AS BIGINT)
           AS abs_err_sum,
         CAST(max(abs(c.{value_col} - p.{value_col})) AS BIGINT)
           AS abs_err_max
  FROM {relation} c
  JOIN {relation} p
    ON c.source = p.source
   AND c.bucket_s = p.bucket_s + {season_buckets * width_s}
  GROUP BY 1
) s
JOIN (
  SELECT c.source, count(*) AS n_naive1,
         CAST(sum(abs(c.{value_col} - p.{value_col})) AS BIGINT)
           AS naive1_err_sum
  FROM {relation} c
  JOIN {relation} p
    ON c.source = p.source AND c.bucket_s = p.bucket_s + {width_s}
  GROUP BY 1
) n USING (source)
"""


# --------------------------------------------------------------------------
# Exponential smoothing — exact binary-weight EWMA over the last k buckets
# --------------------------------------------------------------------------

def ewma_binary(
    tier: DataFrame, k: int, value_col: str = "sum_n_tok"
) -> DataFrame:
    """α = 1/2 exponentially-weighted moving average truncated at ``k``
    lags, per source over bucket time — the dashboard smoothing curve,
    kept EXACT by using power-of-two weights and emitting the rational
    (``ewma_num``, ``ewma_den``): weight(lag i) = 2^(k-1-i), so the
    true EWMA is num/den and consumers divide. Missing leading history
    (the first k-1 buckets of each source) shrinks the denominator to
    the weights actually present rather than zero-padding.

    True recursive EWMA needs running state; the k-term truncation is
    what makes it a WINDOW — k explicit lags over one (source, bucket)
    sort, no shuffle beyond the tier's own, error vs the infinite tail
    bounded by 2^-k of the weight mass. SQL-expressible in both engines
    (plain lag arithmetic), hence oracle-checkable — unlike float
    recursive forms.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("bucket_s")
    v = F.col(value_col)
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for i in range(k):
        wi = 1 << (k - 1 - i)
        li = v if i == 0 else F.lag(value_col, i).over(w)
        num = num + F.coalesce(li * wi, F.lit(0))
        den = den + F.when(li.isNotNull(), F.lit(wi)).otherwise(F.lit(0))
    return tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        v.cast("long").alias(value_col),
        num.cast("long").alias("ewma_num"),
        den.cast("long").alias("ewma_den"),
    )


def ewma_binary_sql(
    relation: str, k: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`ewma_binary` over a named tier relation."""
    num_terms, den_terms = [], []
    for i in range(k):
        wi = 1 << (k - 1 - i)
        expr = (
            value_col
            if i == 0
            else f"lag({value_col}, {i}) OVER (PARTITION BY source ORDER BY bucket_s)"
        )
        num_terms.append(f"coalesce(({expr}) * {wi}, 0)")
        den_terms.append(f"CASE WHEN ({expr}) IS NOT NULL THEN {wi} ELSE 0 END")
    return f"""
SELECT source,
       CAST(bucket_s AS BIGINT)  AS bucket_s,
       CAST({value_col} AS BIGINT) AS {value_col},
       CAST({' + '.join(num_terms)} AS BIGINT) AS ewma_num,
       CAST({' + '.join(den_terms)} AS BIGINT) AS ewma_den
FROM {relation}
"""


# --------------------------------------------------------------------------
# Staleness — per-source heartbeat lag against the stream high-water mark
# --------------------------------------------------------------------------

def staleness(seq: DataFrame, now_s: int | None = None) -> DataFrame:
    """Per-source freshness report: last/first event time, row count and
    ``staleness_s`` = seconds since that source's newest event, measured
    against ``now_s`` (or, by default, the table's own high-water mark
    so reruns on frozen data are deterministic).

    The dead-feed detector ("which sources stopped reporting?"): a
    single partial+final aggregate — O(sources) output — plus, when
    ``now_s`` is None, one scalar high-water aggregate broadcast into
    the projection, same shape as :func:`~.rollup.apply_retention`.
    """
    per_src = seq.groupBy("source").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("event_s").cast("long").alias("first_s"),
        F.max("event_s").cast("long").alias("last_s"),
    )
    if now_s is not None:
        return per_src.select(
            "*", (F.lit(now_s) - F.col("last_s")).cast("long").alias("staleness_s")
        )
    hw = seq.agg(F.max("event_s").alias("hw"))
    return (
        per_src.crossJoin(F.broadcast(hw))
        .select(
            "source", "n_rows", "first_s", "last_s",
            (F.col("hw") - F.col("last_s")).cast("long").alias("staleness_s"),
        )
    )


def staleness_sql() -> str:
    """DuckDB twin of :func:`staleness` (default high-water-mark mode)
    over the `sequences` CTE."""
    return """
SELECT source,
       count(*)                  AS n_rows,
       CAST(min(event_s) AS BIGINT) AS first_s,
       CAST(max(event_s) AS BIGINT) AS last_s,
       CAST((SELECT max(event_s) FROM sequences) - max(event_s) AS BIGINT)
         AS staleness_s
FROM sequences
GROUP BY 1
"""


def alert_hysteresis(
    tier: DataFrame, hi: int, lo: int, value_col: str = "sum_n_tok"
) -> DataFrame:
    """Threshold alerting with hysteresis — the Prometheus/Grafana
    alert-rule shape: a series ENTERS the alerting state when its value
    reaches ``hi``, LEAVES only when it falls to ``lo``, and HOLDS the
    previous state in between (the dead band that stops a value
    oscillating around a single threshold from flapping the alert).

    Exact batch recursion via LOCF: mark each bucket 1 (≥ hi), 0
    (≤ lo) or null (dead band), then the state is the last non-null
    mark so far — initial state 0. ``event`` labels the transitions
    ('fire' on 0→1, 'clear' on 1→0, null otherwise), the rows a
    notifier would act on.

    Scale shape: both window passes (LOCF state, lag for transitions)
    share ONE source-keyed sort — a single exchange, no joins; output
    is tier-sized with the alert columns attached.
    """
    if not lo <= hi:
        raise ValueError("need lo <= hi for a hysteresis band")
    v = F.col(value_col)
    mark = (
        F.when(v >= F.lit(hi), F.lit(1))
        .when(v <= F.lit(lo), F.lit(0))
        .otherwise(F.lit(None))
        .cast("long")
    )
    w = Window.partitionBy("source").orderBy("bucket_s")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    state = F.coalesce(F.last(mark, ignorenulls=True).over(wrun), F.lit(0))
    out = tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        v.cast("long").alias("value"),
        state.alias("alert"),
    )
    prev = F.coalesce(F.lag("alert").over(w), F.lit(0))
    return out.withColumn(
        "event",
        F.when((F.col("alert") == 1) & (prev == 0), F.lit("fire"))
        .when((F.col("alert") == 0) & (prev == 1), F.lit("clear")),
    )


def alert_hysteresis_sql(
    relation: str,
    hi: int,
    lo: int,
    value_col: str = "sum_n_tok",
    final_cte: str | None = None,
) -> str:
    """DuckDB twin of :func:`alert_hysteresis` over a tier relation.
    With ``final_cte`` the result SELECT is wrapped as one more named
    CTE so callers can keep composing (no string surgery)."""
    body = f"""
marked AS (
  SELECT source, CAST(bucket_s AS BIGINT) AS bucket_s,
         CAST({value_col} AS BIGINT) AS value,
         CASE WHEN {value_col} >= {hi} THEN 1
              WHEN {value_col} <= {lo} THEN 0 END AS mark
  FROM {relation}
),
st AS (
  SELECT source, bucket_s, value,
         CAST(coalesce(last_value(mark IGNORE NULLS) OVER (
           PARTITION BY source ORDER BY bucket_s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ), 0) AS BIGINT) AS alert
  FROM marked
)"""
    final = """
SELECT source, bucket_s, value, alert,
       CASE WHEN alert = 1 AND coalesce(lag(alert) OVER (
              PARTITION BY source ORDER BY bucket_s), 0) = 0 THEN 'fire'
            WHEN alert = 0 AND lag(alert) OVER (
              PARTITION BY source ORDER BY bucket_s) = 1 THEN 'clear'
       END AS event
FROM st
"""
    if final_cte is not None:
        return f"{body},\n{final_cte} AS ({final})"
    return body + final


# --------------------------------------------------------------------------
# Inter-arrival stats — feed-cadence monitoring over raw event times
# --------------------------------------------------------------------------

def interarrival(seq: DataFrame, width_s: int) -> DataFrame:
    """Per-(source, bucket) statistics of the gaps between consecutive
    events of that source: (n_gaps, sum_dt_s, min_dt_s, max_dt_s) — the
    cadence-health complement of :func:`detect_gaps` (which watches tier
    buckets; this watches raw arrival spacing). A gap is attributed to
    the bucket of its LATER event.

    One lag window over (source, event_s) + one hash aggregate — the
    same two-exchange shape as :func:`rate_delta`. Deterministic under
    timestamp ties: the consecutive-difference multiset of a sorted
    sequence is invariant under permutations of equal elements, so tie
    order cannot change any output value.
    """
    w = Window.partitionBy("source").orderBy("event_s")
    dt = (F.col("event_s") - F.lag("event_s").over(w)).alias("dt")
    bucket = floor_to(F.col("event_s"), width_s).alias("bucket_s")
    gaps = seq.select("source", bucket, dt).filter(F.col("dt").isNotNull())
    return gaps.groupBy("source", "bucket_s").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("dt").cast("long").alias("sum_dt_s"),
        F.min("dt").cast("long").alias("min_dt_s"),
        F.max("dt").cast("long").alias("max_dt_s"),
    )


def interarrival_sql(width_s: int) -> str:
    """DuckDB twin of :func:`interarrival` over the `sequences` view."""
    return f"""
SELECT source,
       CAST({floor_sql('event_s', width_s)} AS BIGINT) AS bucket_s,
       count(*)                                AS n_gaps,
       CAST(sum(dt) AS BIGINT)                 AS sum_dt_s,
       CAST(min(dt) AS BIGINT)                 AS min_dt_s,
       CAST(max(dt) AS BIGINT)                 AS max_dt_s
FROM (
  SELECT source, event_s,
         event_s - lag(event_s) OVER (PARTITION BY source ORDER BY event_s)
           AS dt
  FROM sequences
) WHERE dt IS NOT NULL
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# CUSUM changepoint — Page's one-sided CUSUM as exact window arithmetic
# --------------------------------------------------------------------------

def cusum_detect(
    tier: DataFrame, h: int, value_col: str = "sum_n_tok"
) -> DataFrame:
    """Page's one-sided (upward) CUSUM per source over bucket time, as
    EXACT integer window arithmetic.

    The textbook recursion S_t = max(0, S_{t-1} + (x_t − μ)) is not a
    plain window — but it telescopes: with C_t = Σ_{j≤t}(x_j − μ) and
    C_0 = 0, S_t = C_t − min_{0≤j≤t} C_j (the empty prefix IS a valid
    minimum — dropping it breaks the first excursion). Scaling through by n (the series length)
    keeps everything integer: with T = Σ x and d'_t = n·x_t − T,
    S'_t = n·S_t = C'_t − min C'. The changepoint flag is
    S'_t > n·h, i.e. cumulative excess over the series mean exceeds
    ``h`` value-units.

    Three window families (full-partition n/T, running sum, running
    min) all share ONE (source)-keyed sort — a single exchange, no
    joins, no iteration; the same plan shape at 10^12 rows.

    Output (source, bucket_s, value, cusum_num, n, flag) with
    S_t = cusum_num / n.
    """
    wfull = (
        Window.partitionBy("source")
        .orderBy("bucket_s")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wrun = (
        Window.partitionBy("source")
        .orderBy("bucket_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.col(value_col).cast("long")
    n = F.count("*").over(wfull).cast("long")
    total = F.sum(value_col).over(wfull).cast("long")
    stats = tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        v.alias("value"),
        n.alias("n"),
        (F.sum(v).over(wrun) * n - F.count("*").over(wrun) * total)
        .cast("long")
        .alias("c_num"),
    )
    return stats.select(
        "source",
        "bucket_s",
        "value",
        (F.col("c_num")
         - F.least(F.lit(0).cast("long"), F.min("c_num").over(wrun)))
        .cast("long")
        .alias("cusum_num"),
        "n",
    ).withColumn("flag", F.col("cusum_num") > F.col("n") * h)


def cusum_detect_sql(
    relation: str, h: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`cusum_detect` over a named tier relation."""
    return f"""
SELECT source, bucket_s, value,
       CAST(c_num - least(CAST(0 AS BIGINT), min(c_num) OVER wrun)
            AS BIGINT) AS cusum_num,
       n,
       (c_num - least(CAST(0 AS BIGINT), min(c_num) OVER wrun)) > n * {h}
         AS flag
FROM (
  SELECT source,
         CAST(bucket_s AS BIGINT)   AS bucket_s,
         CAST({value_col} AS BIGINT) AS value,
         CAST(count(*) OVER wfull AS BIGINT) AS n,
         CAST(sum({value_col}) OVER wrun0 * count(*) OVER wfull
              - count(*) OVER wrun0 * sum({value_col}) OVER wfull
              AS BIGINT) AS c_num
  FROM {relation}
  WINDOW wfull AS (PARTITION BY source),
         wrun0 AS (PARTITION BY source ORDER BY bucket_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
WINDOW wrun AS (PARTITION BY source ORDER BY bucket_s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def cusum_fixed(
    tier: DataFrame, mu: int, h: int, value_col: str = "sum_n_tok"
) -> DataFrame:
    """Page's one-sided CUSUM against a FIXED reference level ``mu``
    (the textbook control-chart form — :func:`cusum_detect` centers on
    the realized series mean instead, which needs the whole series).
    The fixed target is what an incremental monitor can compute: each
    bucket's flag depends only on the buckets before it.

    Same telescoping as :func:`cusum_detect`, no scaling needed since
    ``mu`` is an integer: with C_t = Σ_{j≤t}(x_j − mu) and C_0 = 0,
    S_t = max(0, S_{t-1} + x_t − mu) = C_t − min_{0≤j≤t} C_j. One
    running sum + one running min on ONE (source)-keyed sort — a
    single exchange, no joins. Flag: S_t > h.

    Output (source, bucket_s, value, cusum, flag) — ``cusum`` in
    value units (exact int64).
    """
    wrun = (
        Window.partitionBy("source")
        .orderBy("bucket_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.col(value_col).cast("long")
    stats = tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        v.alias("value"),
        (F.sum(v - F.lit(mu)).over(wrun)).cast("long").alias("c"),
    )
    return stats.select(
        "source",
        "bucket_s",
        "value",
        (F.col("c")
         - F.least(F.lit(0).cast("long"), F.min("c").over(wrun)))
        .cast("long")
        .alias("cusum"),
    ).withColumn("flag", F.col("cusum") > F.lit(h))


def cusum_fixed_sql(
    relation: str, mu: int, h: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`cusum_fixed`."""
    return f"""
SELECT source, bucket_s, value,
       CAST(c - least(CAST(0 AS BIGINT), min(c) OVER wrun) AS BIGINT)
         AS cusum,
       (c - least(CAST(0 AS BIGINT), min(c) OVER wrun)) > {h} AS flag
FROM (
  SELECT source,
         CAST(bucket_s AS BIGINT)    AS bucket_s,
         CAST({value_col} AS BIGINT) AS value,
         CAST(sum({value_col} - {mu}) OVER wrun0 AS BIGINT) AS c
  FROM {relation}
  WINDOW wrun0 AS (PARTITION BY source ORDER BY bucket_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
WINDOW wrun AS (PARTITION BY source ORDER BY bucket_s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def level_shift(
    tier: DataFrame, k: int, thresh: int, value_col: str = "sum_n_tok"
) -> DataFrame:
    """Level-shift changepoint detector — the step-change complement to
    :func:`cusum_detect` (CUSUM accumulates drift from a GLOBAL mean;
    this flags an abrupt jump between two adjacent local windows, the
    classic edge filter of changepoint pipelines).

    Per source ordered by bucket time, compare the mean of the ``k``
    buckets BEFORE each point against the mean of the ``k`` buckets
    FROM it: flag where ``|mean_post − mean_pre| ≥ thresh``, kept
    exact-integer by cross-multiplication
    (``|post_sum·n_pre − pre_sum·n_post| ≥ thresh·n_pre·n_post``).
    Edge points whose windows are not full never flag (a half-window
    mean is noise, and the asymmetric counts would bias the compare).

    Both frames ride ONE source-keyed sort — a single exchange, the
    same plan at 10^12 buckets. Output (source, bucket_s, pre_sum,
    post_sum, n_pre, n_post, shift_flag).
    """
    w = Window.partitionBy("source").orderBy("bucket_s")
    wpre = w.rowsBetween(-k, -1)
    wpost = w.rowsBetween(Window.currentRow, k - 1)
    v = F.col(value_col).cast("long")
    out = tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.coalesce(F.sum(v).over(wpre), F.lit(0)).cast("long").alias("pre_sum"),
        F.sum(v).over(wpost).cast("long").alias("post_sum"),
        F.count(v).over(wpre).cast("long").alias("n_pre"),
        F.count(v).over(wpost).cast("long").alias("n_post"),
    )
    full = (F.col("n_pre") == k) & (F.col("n_post") == k)
    jump = F.abs(
        F.col("post_sum") * F.col("n_pre")
        - F.col("pre_sum") * F.col("n_post")
    ) >= F.lit(thresh) * F.col("n_pre") * F.col("n_post")
    return out.withColumn("shift_flag", full & jump)


def level_shift_sql(
    relation: str, k: int, thresh: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`level_shift` over a named tier relation."""
    return f"""
SELECT source, bucket_s, pre_sum, post_sum, n_pre, n_post,
       n_pre = {k} AND n_post = {k}
       AND abs(post_sum * n_pre - pre_sum * n_post)
           >= CAST({thresh} AS BIGINT) * n_pre * n_post AS shift_flag
FROM (
  SELECT source,
         CAST(bucket_s AS BIGINT) AS bucket_s,
         CAST(coalesce(sum({value_col}) OVER wpre, 0) AS BIGINT) AS pre_sum,
         CAST(sum({value_col}) OVER wpost AS BIGINT)             AS post_sum,
         CAST(count({value_col}) OVER wpre AS BIGINT)            AS n_pre,
         CAST(count({value_col}) OVER wpost AS BIGINT)           AS n_post
  FROM {relation}
  WINDOW wpre AS (PARTITION BY source ORDER BY bucket_s
                  ROWS BETWEEN {k} PRECEDING AND 1 PRECEDING),
         wpost AS (PARTITION BY source ORDER BY bucket_s
                   ROWS BETWEEN CURRENT ROW AND {k - 1} FOLLOWING)
)
"""


# --------------------------------------------------------------------------
# Uptime islands — contiguous presence runs (gaps-and-islands)
# --------------------------------------------------------------------------

def uptime_islands(tier: DataFrame, width_s: int) -> DataFrame:
    """Contiguous uptime intervals per source — the presence twin of
    :func:`detect_gaps`: one row per maximal run of consecutive buckets,
    (source, island, up_start, up_end exclusive, n_buckets). The classic
    gaps-and-islands shape: a lag window marks run starts, a running sum
    numbers the islands, one hash agg collapses them — two window
    families + the agg on ONE source-keyed exchange."""
    w = Window.partitionBy("source").orderBy("bucket_s")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.when(
            (F.col("bucket_s") - F.lag("bucket_s").over(w)) <= width_s,
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("new_island"),
    ).select(
        "source", "bucket_s",
        F.sum("new_island").over(wrun).cast("long").alias("island"),
    )
    return marked.groupBy("source", "island").agg(
        F.min("bucket_s").cast("long").alias("up_start"),
        (F.max("bucket_s") + width_s).cast("long").alias("up_end"),
        F.count("*").cast("long").alias("n_buckets"),
    )


def uptime_islands_sql(relation: str, width_s: int) -> str:
    """DuckDB twin of :func:`uptime_islands` over a named relation."""
    return f"""
SELECT source, island,
       CAST(min(bucket_s) AS BIGINT)              AS up_start,
       CAST(max(bucket_s) + {width_s} AS BIGINT)  AS up_end,
       count(*)                                   AS n_buckets
FROM (
  SELECT source, bucket_s,
         CAST(sum(new_island) OVER (PARTITION BY source ORDER BY bucket_s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS island
  FROM (
    SELECT source, bucket_s,
           CASE WHEN bucket_s - lag(bucket_s)
                       OVER (PARTITION BY source ORDER BY bucket_s)
                       <= {width_s}
                THEN 0 ELSE 1 END AS new_island
    FROM {relation}
  )
)
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Rolling median — exact integer order statistics over a trailing window
# --------------------------------------------------------------------------

def rolling_median(
    tier: DataFrame, k: int, value_col: str = "sum_n_tok"
) -> DataFrame:
    """Median of the last ``k`` buckets per source as EXACT integer
    order statistics: (med_lo, med_hi) are the two middle values of the
    trailing window's sorted contents (equal when the window holds an
    odd count); the true median is their midpoint — consumers divide,
    the engine never emits a float. collect_list over a rows frame +
    sort_array keeps it integer-exact and engine-portable; the window
    is k-bounded so the per-row sort is O(k log k), not a scale hazard.
    """
    w = (
        Window.partitionBy("source")
        .orderBy("bucket_s")
        .rowsBetween(-(k - 1), Window.currentRow)
    )
    vals = F.sort_array(F.collect_list(value_col).over(w))
    n = F.size(vals)
    # 1-indexed middle positions: lo = ceil(n/2), hi = floor(n/2) + 1
    lo = F.element_at(vals, ((n + 1) / 2).cast("int"))
    hi = F.element_at(vals, (n / 2).cast("int") + 1)
    return tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col(value_col).cast("long").alias(value_col),
        lo.cast("long").alias("med_lo"),
        hi.cast("long").alias("med_hi"),
        n.cast("long").alias("win_n"),
    )


def rolling_median_sql(
    relation: str, k: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`rolling_median` over a named relation."""
    return f"""
SELECT source,
       CAST(bucket_s AS BIGINT)        AS bucket_s,
       CAST({value_col} AS BIGINT)     AS {value_col},
       CAST(vals[CAST((len(vals) + 1) // 2 AS INT)] AS BIGINT) AS med_lo,
       CAST(vals[CAST(len(vals) // 2 AS INT) + 1]   AS BIGINT) AS med_hi,
       CAST(len(vals) AS BIGINT)       AS win_n
FROM (
  SELECT source, bucket_s, {value_col},
         list_sort(list({value_col}) OVER (
             PARTITION BY source ORDER BY bucket_s
             ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW)) AS vals
  FROM {relation}
)
"""


# --------------------------------------------------------------------------
# Hampel filter — centered rolling median/MAD outlier flag, exact integers
# --------------------------------------------------------------------------

def hampel_filter(
    tier: DataFrame, k: int, t: int, value_col: str = "sum_n_tok"
) -> DataFrame:
    """Hampel identifier over a centered ±k-bucket window per source:
    flag points where ``|x - med| > t * MAD`` (med/MAD of the window
    contents). The robust alternative to the z-score flag
    (:func:`anomaly_zflag`) — a level shift or a fat-tailed burst
    inflates the stddev and hides outliers; the median/MAD pair
    doesn't break down until half the window is contaminated.

    Exact-integer evaluation (no 1.4826 consistency scale — ``t``
    multiplies the RAW MAD): with integer inputs the window median is
    a half-integer, so everything is kept doubled —
    ``med2 = med_lo + med_hi`` (= 2·median), per-point deviation
    ``d2 = |2x - med2|`` (= 2·|x−med|), and ``mad4 = dev_lo + dev_hi``
    over the sorted d2 list (= 4·MAD). The flag is the integer
    comparison ``2·d2 > t·mad4`` ⇔ ``|x−med| > t·MAD``. Consumers
    wanting the Gaussian-consistent threshold fold 1.4826 into ``t``.

    Scale shape: one source-keyed exchange; the collect_list window is
    (2k+1)-bounded so per-row work is O(k log k) — same budget as
    :func:`rolling_median`. Output: ``(source, bucket_s, {value_col},
    med2, mad4, is_outlier)``.
    """
    w = (
        Window.partitionBy("source")
        .orderBy("bucket_s")
        .rowsBetween(-k, k)
    )
    vals = F.sort_array(F.collect_list(F.col(value_col).cast("long")).over(w))
    staged = tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col(value_col).cast("long").alias(value_col),
        vals.alias("_vals"),
    )
    n = F.size("_vals")
    med2 = (
        F.element_at("_vals", ((n + 1) / 2).cast("int"))
        + F.element_at("_vals", (n / 2).cast("int") + 1)
    )
    staged = staged.withColumn("med2", med2.cast("long")).withColumn(
        "_devs",
        F.sort_array(
            F.transform(
                "_vals", lambda v: F.abs(2 * v - F.col("med2"))
            )
        ),
    )
    mad4 = (
        F.element_at("_devs", ((n + 1) / 2).cast("int"))
        + F.element_at("_devs", (n / 2).cast("int") + 1)
    )
    d2 = F.abs(2 * F.col(value_col) - F.col("med2"))
    return staged.select(
        "source",
        "bucket_s",
        value_col,
        "med2",
        mad4.cast("long").alias("mad4"),
        (2 * d2 > t * mad4).alias("is_outlier"),
    )


def hampel_filter_sql(
    relation: str, k: int, t: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`hampel_filter` over a named relation."""
    return f"""
SELECT source, bucket_s, {value_col}, med2,
       CAST(devs[CAST((len(devs) + 1) // 2 AS INT)]
            + devs[CAST(len(devs) // 2 AS INT) + 1] AS BIGINT) AS mad4,
       2 * abs(2 * {value_col} - med2)
         > {t} * (devs[CAST((len(devs) + 1) // 2 AS INT)]
                  + devs[CAST(len(devs) // 2 AS INT) + 1]) AS is_outlier
FROM (
  SELECT source, bucket_s, {value_col}, med2,
         list_sort(list_transform(vals, v -> abs(2 * v - med2))) AS devs
  FROM (
    SELECT source, bucket_s, {value_col},
           CAST(vals[CAST((len(vals) + 1) // 2 AS INT)]
                + vals[CAST(len(vals) // 2 AS INT) + 1] AS BIGINT) AS med2,
           vals
    FROM (
      SELECT source,
             CAST(bucket_s AS BIGINT)    AS bucket_s,
             CAST({value_col} AS BIGINT) AS {value_col},
             list_sort(list(CAST({value_col} AS BIGINT)) OVER (
                 PARTITION BY source ORDER BY CAST(bucket_s AS BIGINT)
                 ROWS BETWEEN {k} PRECEDING AND {k} FOLLOWING)) AS vals
      FROM {relation}
    )
  )
)
"""


# --------------------------------------------------------------------------
# Classical additive seasonal decomposition (centered-MA detrend)
# --------------------------------------------------------------------------

def seasonal_decompose(
    tier: DataFrame,
    width_s: int,
    period: int,
    value_col: str = "sum_n_tok",
) -> DataFrame:
    """Classical additive decomposition, phase-profile face: detrend
    each point with the centered moving average of one full season,
    then aggregate the detrended residual per season phase — the
    textbook decompose() seasonal component, kept EXACT-integer.

    The centered MA of an even ``period`` p is the standard 2×p MA
    (half-weight endpoints); everything is scaled by 2p so no division
    ever happens: ``t2p = Σ_{j=−k..k−1} v[t+j] + Σ_{j=−k+1..k} v[t+j]``
    (two p-row frames, k = p/2) equals 2p·trend, and the residual
    ``d = 2p·v − t2p`` equals 2p·(v − trend). An odd p uses the plain
    centered frame twice (same 2p scale). Points whose window is
    incomplete (series edges) are dropped — both frames must hold
    exactly p rows.

    Input must be a DENSE series (gap-filled; row frames assume
    contiguous buckets — run LOCF/interpolation first, as the snaive
    backtest does). Output one row per (source, phase):
    ``(source, phase, n_obs, sum_det)`` with phase = bucket index mod
    period; the seasonal component at a phase is sum_det / (n_obs·2p),
    consumers divide.

    Scale shape: ONE source-keyed sort serves both window frames; the
    phase profile is a partial+final hash agg of O(sources × period)
    output rows. Residual sums are decimal(38,0)-exact.
    """
    assert period >= 2
    k = period // 2
    w = Window.partitionBy("source").orderBy("bucket_s")
    if period % 2 == 0:
        f1 = w.rowsBetween(-k, k - 1)
        f2 = w.rowsBetween(-(k - 1), k)
    else:
        f1 = w.rowsBetween(-k, k)
        f2 = f1
    v = F.col(value_col).cast("long")
    staged = tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        v.alias("v"),
        F.sum(v).over(f1).alias("s1"),
        F.count(F.lit(1)).over(f1).alias("c1"),
        F.sum(v).over(f2).alias("s2"),
        F.count(F.lit(1)).over(f2).alias("c2"),
    )
    # both frames hold exactly `period` rows when complete (even p:
    # two staggered p-row frames; odd p: the 2k+1 = p centered frame
    # used twice)
    n_frame = period
    d = (
        F.lit(2 * period) * F.col("v") - (F.col("s1") + F.col("s2"))
    ).cast("decimal(38,0)")
    return (
        staged.filter(
            (F.col("c1") == n_frame) & (F.col("c2") == n_frame)
        )
        .select(
            "source",
            F.expr(
                f"pmod(bucket_s, {period * width_s}) div {width_s}"
            ).cast("long").alias("phase"),
            d.alias("d"),
        )
        .groupBy("source", "phase")
        .agg(
            F.count("*").cast("long").alias("n_obs"),
            F.sum("d").cast("decimal(38,0)").alias("sum_det"),
        )
    )


def seasonal_decompose_sql(
    relation: str,
    width_s: int,
    period: int,
    value_col: str = "sum_n_tok",
) -> str:
    """DuckDB twin of :func:`seasonal_decompose` over a named dense
    relation carrying (source, bucket_s, value_col)."""
    k = period // 2
    if period % 2 == 0:
        fr1 = f"ROWS BETWEEN {k} PRECEDING AND {k - 1} FOLLOWING"
        fr2 = f"ROWS BETWEEN {k - 1} PRECEDING AND {k} FOLLOWING"
    else:
        fr1 = f"ROWS BETWEEN {k} PRECEDING AND {k} FOLLOWING"
        fr2 = fr1
    return f"""
SELECT source,
       CAST((((bucket_s % {period * width_s}) + {period * width_s})
             % {period * width_s}) // {width_s} AS BIGINT) AS phase,
       count(*) AS n_obs,
       CAST(sum(CAST({2 * period} * v - (s1 + s2) AS DECIMAL(38,0)))
            AS DECIMAL(38,0)) AS sum_det
FROM (
  SELECT source, bucket_s, v,
         sum(v)   OVER (PARTITION BY source ORDER BY bucket_s {fr1}) AS s1,
         count(*) OVER (PARTITION BY source ORDER BY bucket_s {fr1}) AS c1,
         sum(v)   OVER (PARTITION BY source ORDER BY bucket_s {fr2}) AS s2,
         count(*) OVER (PARTITION BY source ORDER BY bucket_s {fr2}) AS c2
  FROM (SELECT source, bucket_s, CAST({value_col} AS BIGINT) AS v
        FROM {relation})
)
WHERE c1 = {period} AND c2 = {period}
GROUP BY 1, 2
"""
