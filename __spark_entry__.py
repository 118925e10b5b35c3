"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full retention cascade on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL over the same parquet views.

The ``sequences`` input table (BASELINE.json:15) does not exist in
/root/testdata; it is synthesized deterministically from ``documents``
with derivations that are expressible identically in Spark and DuckDB
(see pyreshaper_spark.fixtures) — so the oracle runs on the exact same
logical input.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyreshaper_spark.fixtures import seq_cte, sequences_df  # noqa: E402
from pyreshaper_spark.operators import text  # noqa: E402
from pyreshaper_spark.operators.encode import (  # noqa: E402
    decode_series_table,
    encode_series_table,
)
from pyreshaper_spark.operators.gapfill import gapfill, gapfill_locf  # noqa: E402
from pyreshaper_spark.operators.transpose import transpose_to_series  # noqa: E402

TIER_WIDTHS = [60, 600, 3600, 86400]
_TIER_NAMES = {60: "1m", 600: "10m", 3600: "1h", 86400: "1d"}


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# Memo for the base relations shared across queries(). The driver runs
# many queries() entries against one SparkSession at one sf_dir; without
# this, ~20 entries each re-derive the sequences table (md5 hashing over
# documents) and re-cascade the tiers from raw. Keyed on the session's
# applicationId so a restarted session never serves stale cached plans.
# Compute-once under concurrency: tools/oracle_check.py runs faces from
# a thread pool, so each key holds a lock — two faces sharing a
# cached relation wait for one fill instead of both computing it.
import threading as _threading

_MEMO: dict = {}
_MEMO_GUARD = _threading.Lock()
_MEMO_LOCKS: dict = {}


def _memo_fill(k, make_value):
    v = _MEMO.get(k)
    if v is not None:
        return v
    with _MEMO_GUARD:
        lk = _MEMO_LOCKS.setdefault(k, _threading.Lock())
    with lk:
        v = _MEMO.get(k)
        if v is None:
            v = make_value()
            _MEMO[k] = v
    return v


def _cached(spark: SparkSession, key: tuple, make) -> DataFrame:
    k = (spark.sparkContext.applicationId, *key)
    return _memo_fill(k, lambda: make().cache())


def _seq(spark: SparkSession, sf_dir: str, variant: str = "base") -> DataFrame:
    _utc(spark)
    return _cached(
        spark,
        ("seq", sf_dir, variant),
        lambda: sequences_df(spark, sf_dir, variant=variant),
    )


def _tiers(
    spark: SparkSession, sf_dir: str, variant: str = "base"
) -> dict[int, DataFrame]:
    """Cached full tier cascade (each tier cached; cascade from cached
    predecessors, never from raw twice)."""
    seq = _seq(spark, sf_dir, variant)
    out: dict[int, DataFrame] = {}
    prev: DataFrame | None = None
    for w in TIER_WIDTHS:
        from pyreshaper_spark.operators.rollup import (
            rollup_cascade,
            rollup_tier0,
        )

        src = seq if prev is None else prev
        fn = (lambda s=src, w=w, first=prev is None: (
            rollup_tier0(s, w) if first else rollup_cascade(s, w)
        ))
        prev = _cached(spark, ("tier", sf_dir, variant, w), fn)
        out[w] = prev
    return out


def _norm_tier(df: DataFrame) -> DataFrame:
    """Cast aggregate columns to long so Spark/DuckDB schemas agree."""
    return df.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
        F.col("min_n_tok").cast("long").alias("min_n_tok"),
        F.col("max_n_tok").cast("long").alias("max_n_tok"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full headline pipeline on sf0.001 — the 1h tier
    of the cascade joined with the per-source encode-path accounting
    (transpose → Gorilla encode byte totals), so the driver smoke
    exercises scan → rollup cascade AND transpose → encode in one
    result. Schema: the 1h tier columns + (raw_bytes, enc_bytes,
    enc_points) per source."""
    sf = "/root/testdata/sf0.001"
    tier1h = _norm_tier(_tiers(spark, sf)[3600])
    series = transpose_to_series(_seq(spark, sf), nsalt=4)
    comp = (
        encode_series_table(series)
        .groupBy("source")
        .agg(
            F.sum("raw_bytes").cast("long").alias("raw_bytes"),
            F.sum("enc_bytes").cast("long").alias("enc_bytes"),
            F.sum("n").cast("long").alias("enc_points"),
        )
    )
    return tier1h.join(F.broadcast(comp), "source")


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def _q_tier(width: int) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _norm_tier(_tiers(spark, sf_dir)[width])

    return q


def _q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    tier = _tiers(spark, sf_dir, variant="gappy")[600]
    out = gapfill(tier, 600)
    return out.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
        F.col("filled"),
    )


def _q_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyreshaper_spark.operators.gapfill import interpolate

    tier = _tiers(spark, sf_dir, variant="gappy")[600]
    out = interpolate(gapfill(tier, 600))
    return out.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
        F.col("filled"),
        "interp_num",
        "interp_den",
    )


def _q_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    tier = _tiers(spark, sf_dir, variant="gappy")[600]
    out = gapfill_locf(tier, 600)
    return out.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_n_tok_locf").cast("long").alias("sum_n_tok_locf"),
    )


def _q_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-completeness analog: per-source row + token totals."""
    seq = _seq(spark, sf_dir)
    return seq.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tok"),
    )


def _q_series_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transpose → Gorilla encode → decode, then count per-source rows
    whose token arrays/event times survive bit-exactly. The oracle is
    simply the per-source input counts — equality proves the whole
    reorganize+codec path is lossless (BASELINE.json:15)."""
    seq = _seq(spark, sf_dir)
    series = transpose_to_series(seq, nsalt=4)
    decoded = decode_series_table(encode_series_table(series))
    j = seq.alias("a").join(decoded.alias("b"), "doc_id")
    ok = j.filter(
        (F.col("a.tokens") == F.col("b.tokens"))
        & (F.col("a.event_s") == F.col("b.event_s"))
        & (F.col("a.n_tok") == F.col("b.n_tok"))
    )
    return ok.groupBy(F.col("a.source").alias("source")).agg(
        F.count("*").cast("long").alias("n_docs")
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return _cached(
        spark,
        ("docs", sf_dir),
        lambda: spark.read.parquet(f"{sf_dir}/documents.parquet"),
    )


def _docs_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + the fixture's Lehmer event day (cross-engine)."""
    from pyreshaper_spark.config import EPOCH0, HORIZON_S
    from pyreshaper_spark.operators.rollup import floor_to

    ev = F.lit(EPOCH0) + F.pmod(
        F.col("doc_id").cast("long") * F.lit(48271) + F.lit(11),
        F.lit(HORIZON_S),
    )
    return _docs(spark, sf_dir).withColumn(
        "day_s", floor_to(ev.cast("long"), 86400)
    )


def _bigintify(df: DataFrame, *cols: str) -> DataFrame:
    """Driver-canonicalizable output face: CAST named decimal(38,0)
    columns to BIGINT in place (column order preserved). The operator
    keeps its decimal math internally — this is the `queries()` face
    only, because the driver's hash compares DuckDB's DECIMAL(38,0)
    fetch (float64 in pandas) against Spark's exact Decimal objects
    and mismatches on identical values. Values are asserted to fit
    int64 at every fixture sf by the oracle dtype lint."""
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("long"))
    return df


def _bigintify_sql(sql: str, *cols: str) -> str:
    """DuckDB twin of :func:`_bigintify` — wraps the oracle statement
    in `SELECT * REPLACE (CAST(c AS BIGINT) AS c)` so both engines
    ship identical int64 output columns."""
    rep = ", ".join(f"CAST({c} AS BIGINT) AS {c}" for c in cols)
    return f"SELECT * REPLACE ({rep}) FROM (\n{sql}\n) _t"


def _md5_arr(col: str):
    """Spark face for token-ARRAY outputs: md5 of the comma-joined
    element string, so the driver's pandas canonicalizer (which cannot
    hash lists) sees a plain string. Pairs with :func:`_md5_arr_sql`."""
    return F.md5(
        F.concat_ws(",", F.expr(f"transform({col}, x -> cast(x as string))"))
    )


def _md5_arr_sql(col: str) -> str:
    """DuckDB twin of :func:`_md5_arr`. `coalesce(…, '')` matches
    Spark's concat_ws('' on empty array) — DuckDB's array_to_string
    returns NULL for []."""
    return f"md5(coalesce(array_to_string({col}, ','), ''))"


def _md_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, tokens) with md5-derived token ids — the
    sequences-shaped cross-engine relation for operators that need
    token ORDER plus the source key (bigrams) or doc identity
    (rarity)."""
    from pyreshaper_spark.fixtures import VOCAB_SIZE
    from pyreshaper_spark.functions.xhash import h32, words_col

    return _cached(
        spark,
        ("md_seq", sf_dir),
        lambda: _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"),
            "source",
            F.transform(
                words_col(),
                lambda w: F.pmod(h32(w), F.lit(VOCAB_SIZE)).cast("int"),
            ).alias("tokens"),
        ),
    )


#: PII snippet appended to ~30% of docs (by cross-engine hash) so the
#: redaction oracle exercises every pattern on a PII-free corpus.
_PII_INJECT = " contact bob.smith@example.com or 12345678901 at 10.0.42.7"

#: Names the round-2 driver correctness sweep already verified green.
_R02_CHECKED = frozenset({
    "asof_10m_1h", "events_cohorts", "events_funnel", "events_in_sessions",
    "events_props", "events_rollup_5m", "events_sessions",
    "events_type_pivot", "fingerprint", "gapfill_10m", "interp_10m",
    "lang_id", "locf_10m", "pii_scan", "quality_score", "series_fidelity",
    "series_fidelity_skew", "source_counts", "text_stats", "tier_10m",
    "tier_1d", "tier_1h", "tier_1h_retention", "tier_1h_skew",
    "tier_1h_with_meta", "tier_1m", "topk_buckets",
})

#: Names the round-4 driver correctness board verified (hash-green or
#: rows-only sketch faces — no red rows).
_R04_CHECKED = frozenset({
    "benford_n_tok", "changepoint_1d", "doc_len_deciles", "drift_tvd_1d",
    "eta_threshold_1d", "events_ab_test", "events_sessions", "filter_verdict",
    "gaps_10m", "hist_1h", "hopping_1h_10m", "ks_drift_1d",
    "mix_quality_budget", "mix_sources", "mix_temp_sqrt", "mix_token_budget",
    "mk_trend_1d", "pettitt_1d", "quality_pctl", "rate_10m", "rolling_10m_6",
    "rolling_median_10m", "rolling_slope_10m", "sample_30pct",
    "sample_k_per_source", "smk_trend", "split_assign", "stratified_sample",
    "theilsen_1d", "tier_1h_cube", "tier_1h_ndv", "tier_1h_ndv_approx",
    "tier_1h_ohlc", "tier_1h_pct", "tier_1h_pct_approx", "trend_1d", "twa_1h",
    "uptime_islands_10m",
})

#: Every key any driver correctness board (r1–r4) ever sampled; keys
#: NOT here have never been driver-verified and sort ahead of the rest
#: so the round-5 sweep reaches first-time surface first.
_DRIVER_SAMPLED = _R02_CHECKED | _R04_CHECKED | frozenset({
    "alert_hyst_10m", "asof_fwd_tol", "asof_nearest_tol", "cusum_1h",
    "cusum_fixed_10m", "datacard_by_source", "events_attribution",
    "events_conversion_lag", "events_dau_wau", "events_engagement_hist",
    "events_funnel_1h", "events_paths3", "events_rfm", "events_transitions",
    "fertility_by_source", "interarrival_1h", "lang_confusion",
    "levelshift_1h", "pii_rate_1d", "pii_redact", "tier_1h_policy",
    "tier_1mo", "tier_1w",
})

#: NEVER-SAMPLED rows-only sketch faces (no SQL oracle by design —
#: the Datasketches HLL cascade output is engine-specific; pytest
#: holds the accuracy bound). They sort LAST within the never-sampled
#: class: the board's value-hash check adds nothing over the rows-only
#: check they already get. (The other two rows-only faces,
#: tier_1h_pct_approx/tier_1h_ndv_approx, were r4-board-sampled and
#: take the previously-verified class instead.)
_NO_ORACLE = frozenset({"tier_1h_ndv_sketch"})

#: Query faces whose operators carry decimal(38,0) sums internally
#: (exact integer math — overflow-safe at 100 TB) but whose OUTPUT
#: must ship as BIGINT: the driver's hash compares DuckDB's
#: DECIMAL(38,0)→float64 fetch against Spark's exact Decimal objects
#: and mismatches on identical values (round-3's five embedding
#: queries). Applied uniformly at the end of queries()/oracle_sql();
#: values are fixture-bounded « 2^63 and the dtype lint in
#: tests/test_oracle_types.py enforces the discipline.
_FACE_BIGINT: dict[str, tuple[str, ...]] = {
    "drift_tvd_1d": ("tvd_num", "tvd_den"),
    "ks_drift_1d": ("ks_num", "ks_den"),
    "similar_days_1h": ("d2",),
    "discord_days_1h": ("d2",),
    "tier_1h_moments": ("s1", "s2", "s3", "s4"),
    "src_fano_1d": ("sum_c2",),
    "decomp_seasonal_10m": ("sum_det",),
    "src_token_tvd": ("tvd_num",),
    "acf_10m": ("sx", "sy", "sxy", "sxx", "syy"),
    "theilsen_1d": ("slope_lo", "slope_hi"),
    "changepoint_1d": ("gain_num",),
    "src_corr_1h": ("sx", "sy", "sxy", "sxx", "syy"),
    "src_corr_1h_lag1": ("sx", "sy", "sxy", "sxx", "syy"),
    "src_spearman_1h": ("sx", "sy", "sxy", "sxx", "syy"),
    "src_ccf_1h": ("sx", "sy", "sxy", "sxx", "syy"),
}

#: Query faces with token-ARRAY output columns: pandas cannot hash
#: lists, so the face ships md5 digests in place of the arrays
#: (:func:`_md5_arr`); the operator API keeps the real arrays.
_FACE_MD5ARR: dict[str, tuple[str, ...]] = {
    "tok_remap": ("new_tokens",),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        f"tier_{_TIER_NAMES[w]}": _q_tier(w) for w in TIER_WIDTHS
    }
    q["gapfill_10m"] = _q_gapfill
    q["locf_10m"] = _q_locf
    q["interp_10m"] = _q_interp
    q["source_counts"] = _q_source_counts
    q["series_fidelity"] = _q_series_fidelity

    # -- skew variant: hot source holding 90% of all rows -------------
    # The salted transpose must stay lossless when one (source) group
    # dwarfs the rest (F3 fixture; suggest_nsalt splits the hot chunk).
    def _q_fidelity_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.transpose import suggest_nsalt

        seq = _seq(spark, sf_dir, variant="skew")
        nsalt = max(4, suggest_nsalt(seq, target_chunk_rows=2000))
        series = transpose_to_series(seq, nsalt=nsalt)
        decoded = decode_series_table(encode_series_table(series))
        j = seq.alias("a").join(decoded.alias("b"), "doc_id")
        ok = j.filter(
            (F.col("a.tokens") == F.col("b.tokens"))
            & (F.col("a.event_s") == F.col("b.event_s"))
        )
        return ok.groupBy(F.col("a.source").alias("source")).agg(
            F.count("*").cast("long").alias("n_docs")
        )

    q["series_fidelity_skew"] = _q_fidelity_skew

    def _q_tier_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _norm_tier(_tiers(spark, sf_dir, variant="skew")[3600])

    q["tier_1h_skew"] = _q_tier_skew
    # -- retention (keep newest 24 one-hour buckets) ------------------
    def _q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import apply_retention

        seq = _seq(spark, sf_dir)
        tier = _tiers(spark, sf_dir)[3600]
        return _norm_tier(apply_retention(tier, 3600, 24))

    q["tier_1h_retention"] = _q_retention

    # -- per-source retention policy (multi-tenant TTLs) --------------
    _POLICY = {"src0": 24, "src1": 48}

    def _q_retention_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import apply_retention_policy

        tier = _tiers(spark, sf_dir)[3600]
        return _norm_tier(
            apply_retention_policy(tier, 3600, _POLICY, default_buckets=72)
        )

    q["tier_1h_policy"] = _q_retention_policy

    # -- hysteresis threshold alert over the 10m tier -----------------
    def _q_alert_hyst(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import alert_hysteresis

        return alert_hysteresis(_tiers(spark, sf_dir)[600], hi=70, lo=40)

    q["alert_hyst_10m"] = _q_alert_hyst

    # -- calendar tiers (week/month): cascaded from a 1d tier ---------
    # The fixture horizon is ~7 days (a single week/month — vacuous for
    # boundary logic), so the calendar queries spread event times ×40
    # (~9 months) around EPOCH0, crossing many Monday/month-1st
    # boundaries; the oracle applies the identical affine map.
    def _q_calendar(unit: str, spread: int = 40):
        def _q(spark: SparkSession, sf_dir: str) -> DataFrame:
            from pyreshaper_spark.config import EPOCH0
            from pyreshaper_spark.operators.rollup import (
                calendar_cascade,
                rollup_tier0,
            )

            seq = _seq(spark, sf_dir).withColumn(
                "event_s",
                F.lit(EPOCH0)
                + (F.col("event_s") - F.lit(EPOCH0)) * F.lit(spread),
            )
            return _norm_tier(calendar_cascade(rollup_tier0(seq, 86400), unit))

        return _q

    q["tier_1w"] = _q_calendar("week")
    q["tier_1mo"] = _q_calendar("month")
    # quarter/year tiers: ×40 (~9 months) crosses quarter boundaries;
    # years need a wider spread (×200 ≈ 4.5 years) to cross Jan-1sts
    q["tier_1q"] = _q_calendar("quarter")
    q["tier_1y"] = _q_calendar("year", spread=200)

    # -- as-of join across tiers + grouped top-k ----------------------
    def _q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.asof import asof_join

        seq = _seq(spark, sf_dir)
        tiers = _tiers(spark, sf_dir)
        left = _norm_tier(tiers[600]).select("source", "bucket_s", "cnt")
        right = _norm_tier(tiers[3600]).select(
            "source", "bucket_s", "sum_n_tok"
        )
        return asof_join(left, right, ("sum_n_tok",))

    def _q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.asof import topk_per_series

        seq = _seq(spark, sf_dir)
        return topk_per_series(_norm_tier(_tiers(spark, sf_dir)[600]))

    q["asof_10m_1h"] = _q_asof
    q["topk_buckets"] = _q_topk

    # forward direction + tolerance: next 1h rollup at or after each
    # 10m bucket, nulled beyond 1h distance (pandas merge_asof surface)
    def _q_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.asof import asof_join

        tiers = _tiers(spark, sf_dir)
        left = _norm_tier(tiers[600]).select("source", "bucket_s", "cnt")
        right = _norm_tier(tiers[3600]).select(
            "source", "bucket_s", "sum_n_tok"
        )
        return asof_join(
            left, right, ("sum_n_tok",),
            direction="forward", tolerance_s=3600,
        )

    q["asof_fwd_tol"] = _q_asof_fwd

    def _q_asof_near(spark: SparkSession, sf_dir: str) -> DataFrame:
        """pandas merge_asof(direction='nearest') surface: closer of
        the backward/forward 1h rollup, backward winning ties,
        tolerance masking each side before the pick."""
        from pyreshaper_spark.operators.asof import asof_join

        tiers = _tiers(spark, sf_dir)
        left = _norm_tier(tiers[600]).select("source", "bucket_s", "cnt")
        right = _norm_tier(tiers[3600]).select(
            "source", "bucket_s", "sum_n_tok"
        )
        return asof_join(
            left, right, ("sum_n_tok",),
            direction="nearest", tolerance_s=1800,
        )

    q["asof_nearest_tol"] = _q_asof_near

    # inter-arrival cadence stats + CUSUM changepoint
    def _q_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import interarrival

        return interarrival(_seq(spark, sf_dir), 3600)

    q["interarrival_1h"] = _q_interarrival

    def _q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import cusum_detect

        tier = _tiers(spark, sf_dir)[3600]
        return cusum_detect(
            tier.select(
                "source",
                F.col("bucket_s").cast("long").alias("bucket_s"),
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            h=100,
        )

    q["cusum_1h"] = _q_cusum

    # fixed-target Page CUSUM (the streamable control-chart form)
    def _q_cusum_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import cusum_fixed

        tier = _tiers(spark, sf_dir)[600]
        return cusum_fixed(
            tier.select(
                "source",
                F.col("bucket_s").cast("long").alias("bucket_s"),
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            mu=55, h=120,
        )

    q["cusum_fixed_10m"] = _q_cusum_fixed

    # -- level-shift changepoint (two adjacent k-bucket windows) -------
    def _q_levelshift(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import level_shift

        tier = _tiers(spark, sf_dir)[3600]
        return level_shift(
            tier.select(
                "source",
                F.col("bucket_s").cast("long").alias("bucket_s"),
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            k=6, thresh=40,
        )

    q["levelshift_1h"] = _q_levelshift

    # -- metadata replication (broadcast join; once-file analog off) --
    def _q_tier_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
        seq = _seq(spark, sf_dir)
        tier = _norm_tier(_tiers(spark, sf_dir)[3600])
        meta = seq.groupBy("source").agg(
            F.count("*").cast("long").alias("src_n_docs"),
            F.sum("n_tok").cast("long").alias("src_total_tok"),
        )
        return tier.join(F.broadcast(meta), "source")

    q["tier_1h_with_meta"] = _q_tier_meta
    # -- event-stream table ops ---------------------------------------
    from pyreshaper_spark.operators import events as EV

    def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
        _utc(spark)
        return spark.read.parquet(f"{sf_dir}/events.parquet")

    q["events_rollup_5m"] = lambda s, d: EV.events_rollup(_events(s, d))
    q["events_rfm"] = lambda s, d: EV.events_rfm(_events(s, d))
    q["events_dau_wau"] = lambda s, d: EV.events_dau_wau(_events(s, d))
    q["events_engagement_hist"] = lambda s, d: EV.events_engagement_hist(
        _events(s, d)
    )
    q["events_transitions"] = lambda s, d: EV.events_transitions(
        _events(s, d)
    )
    # 3-step journey path mining (one level up from the Markov matrix)
    q["events_paths3"] = lambda s, d: EV.events_paths3(_events(s, d))
    q["events_conversion_lag"] = lambda s, d: EV.events_conversion_lag(
        _events(s, d)
    )
    # first/last-touch conversion attribution (credit per event type)
    q["events_attribution"] = lambda s, d: EV.events_attribution(
        _events(s, d)
    )

    def _q_events_in_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rangejoin import events_in_sessions

        r = events_in_sessions(_events(spark, sf_dir))
        return r.select(
            "user_id",
            F.col("session_idx").cast("long").alias("session_idx"),
            F.col("n_joined").cast("long").alias("n_joined"),
            "min_ep", "max_ep",
        )

    q["events_in_sessions"] = _q_events_in_sessions
    q["events_sessions"] = lambda s, d: EV.sessionize(_events(s, d))
    q["events_props"] = lambda s, d: EV.extract_props(_events(s, d))

    # -- product analytics: funnel / cohorts / type pivot -------------
    from pyreshaper_spark.operators import funnel as FN

    q["events_funnel"] = lambda s, d: FN.funnel(_events(s, d))
    # windowed form: every later step within 1h of the user's t_1 (the
    # standard product-analytics conversion-window funnel)
    q["events_funnel_1h"] = lambda s, d: FN.funnel(
        _events(s, d), within_s=3600
    )
    q["events_cohorts"] = lambda s, d: FN.cohort_retention(_events(s, d))
    q["events_type_pivot"] = lambda s, d: FN.type_pivot(_events(s, d))

    # -- text analysis ------------------------------------------------
    q["text_stats"] = lambda s, d: text.text_stats(_docs(s, d))
    q["quality_score"] = lambda s, d: text.quality_score(_docs(s, d))
    q["fertility_by_source"] = lambda s, d: text.fertility_by_source(
        _docs(s, d)
    )
    q["pii_rate_1d"] = lambda s, d: text.pii_rate(_docs_days(s, d))
    q["datacard_by_source"] = lambda s, d: text.datacard_by_source(
        _docs(s, d)
    )

    q["lang_id"] = lambda s, d: text.lang_id(_docs(s, d))
    q["fingerprint"] = lambda s, d: text.fingerprint(_docs(s, d))
    q["pii_scan"] = lambda s, d: text.pii_scan(_docs(s, d))
    q["lang_confusion"] = lambda s, d: text.lang_confusion(_docs(s, d))
    # -- span-level PII redaction over a deterministically PII-injected
    #    text variant (the raw corpus is PII-free — redaction must be
    #    shown to FIRE, not only to pass vacuously)
    def _q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.functions.xhash import h32
        from pyreshaper_spark.operators.text import pii_redact

        docs = _docs(spark, sf_dir)
        inj = F.when(
            F.pmod(h32(F.col("doc_id").cast("string")), F.lit(10)) < 3,
            F.lit(_PII_INJECT),
        ).otherwise(F.lit(""))
        return pii_redact(
            docs.withColumn("text", F.concat(F.col("text"), inj))
        )

    q["pii_redact"] = _q_pii_redact

    # -- deterministic sampling / splitting / mixing ------------------
    from pyreshaper_spark.operators import sampling as SMP

    _SCOLS = ["doc_id", "source", "n_chars"]
    _STRATA = {"src0": 10000, "src1": 2500}
    _QUOTAS = {"src0": 10, "src1": 5, "src2": 20}
    q["sample_30pct"] = lambda s, d: SMP.hash_sample(
        _docs(s, d), 3000
    ).select(*_SCOLS)
    q["sample_k_per_source"] = lambda s, d: SMP.sample_k_per_source(
        _docs(s, d), 15
    )
    # two_pass=True: the faces run the 10^12-row boundary-broadcast
    # rank path (no corpus-wide single-partition window) against the
    # ntile/window SQL oracle — the scale path is what gets
    # driver-verified; the exact windowed form is pytest-parity-locked
    # to it (tests/test_sampling.py).
    q["doc_len_deciles"] = lambda s, d: SMP.doc_len_deciles(
        _docs(s, d), two_pass=True
    )
    q["quality_pctl"] = lambda s, d: SMP.quality_pctl(
        _docs(s, d), two_pass=True
    )
    q["stratified_sample"] = lambda s, d: SMP.stratified_sample(
        _docs(s, d), _STRATA, default_bp=5000
    ).select(*_SCOLS)
    q["split_assign"] = lambda s, d: SMP.split_assign(
        _docs(s, d), val_bp=1000, test_bp=1000
    ).select(*_SCOLS, "split")
    q["mix_sources"] = lambda s, d: SMP.mix_sources(
        _docs(s, d), _QUOTAS
    ).select(*_SCOLS, "mix_rank")
    # temperature (alpha=1/2) source sampling: quotas derived in-engine
    q["mix_temp_sqrt"] = lambda s, d: SMP.mix_temperature_sqrt(
        _docs(s, d), budget=200
    )
    # token-budget mixture (mix weights in TOKENS, the real LLM knob)
    _BUDGETS = {"src0": 5000, "src1": 1500, "src3": 800}
    q["mix_token_budget"] = lambda s, d: SMP.mix_token_budget(
        _seq(s, d).select(
            "doc_id", "source", F.col("n_tok").cast("long").alias("n_tok")
        ),
        _BUDGETS,
    ).select("doc_id", "source", "n_tok", "mix_rank", "cum_tok")

    # quality-RANKED token budget: cleanest docs first until the budget
    # (curation, not subsampling — contrast mix_token_budget's hash order)
    _QBUDGETS = {"src0": 2000, "src1": 800, "src3": 400}
    q["mix_quality_budget"] = lambda s, d: SMP.mix_quality_budget(
        _md_seq(s, d), _QBUDGETS, max_df=2
    )

    # corpus filter verdict: the keep/drop decision a data pipeline
    # actually materializes — quality ∧ ¬rarity ∧ ¬PII in one row
    def _q_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.text import pii_scan, quality_score
        from pyreshaper_spark.operators.vocab import doc_rarity

        docs = _docs(spark, sf_dir)
        sid = F.col("doc_id").cast("string").alias("doc_id")
        qual = quality_score(docs).select(sid, "ok")
        rare = doc_rarity(_md_seq(spark, sf_dir), max_df=2).select(
            "doc_id", "rare_heavy"
        )
        pii = pii_scan(docs).select(sid, "has_pii")
        return (
            qual.join(rare, "doc_id")
            .join(pii, "doc_id")
            .withColumn(
                "keep",
                (F.col("ok") == 1)
                & ~F.col("rare_heavy")
                & ~F.col("has_pii"),
            )
        )

    q["filter_verdict"] = _q_verdict

    # exact two-proportion A/B test over the event stream
    def _q_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.funnel import ab_test

        return ab_test(_events(spark, sf_dir), ("purchase", "signup"))

    q["events_ab_test"] = _q_ab

    # OLAP CUBE: per-cell + margins + grand total in one Expand agg
    def _q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import tier_cube

        return tier_cube(_seq(spark, sf_dir), 3600)

    q["tier_1h_cube"] = _q_cube

    # -- rolling window aggregate over the 10m tier -------------------
    def _q_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import rolling_agg

        tier = _tiers(spark, sf_dir)[600]
        r = rolling_agg(tier, k=6)
        return r.select(
            "source", "bucket_s",
            F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            F.col("roll_sum").cast("long").alias("roll_sum"),
            F.col("roll_n").cast("long").alias("roll_n"),
            F.col("roll_max").cast("long").alias("roll_max"),
        )

    q["rolling_10m_6"] = _q_rolling

    # -- counter rate (lag delta) over the 10m tier -------------------
    def _q_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import rate_delta

        tier = _tiers(spark, sf_dir)[600]
        return rate_delta(
            tier.select(
                "source", "bucket_s",
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            )
        )

    q["rate_10m"] = _q_rate

    # -- within-day linear trend of the 1h tier -----------------------
    def _q_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import bucket_trend

        tier = _tiers(spark, sf_dir)[3600]
        return bucket_trend(
            tier.select(
                "source", "bucket_s",
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            coarse_s=86400, fine_s=3600,
        )

    q["trend_1d"] = _q_trend

    # -- capacity-planning ETA (threshold crossing from the 1d trend) -
    def _q_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import eta_threshold

        tier = _tiers(spark, sf_dir)[3600]
        return eta_threshold(
            tier.select(
                "source", "bucket_s",
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            coarse_s=86400, fine_s=3600, threshold=200_000,
        )

    q["eta_threshold_1d"] = _q_eta

    # -- hopping (sliding) window rollup: 1h windows every 10m --------
    def _q_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import hopping_rollup

        tier = _tiers(spark, sf_dir)[600]
        return hopping_rollup(
            tier.select(
                "source", "bucket_s",
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            win_s=3600, hop_s=600,
        )

    q["hopping_1h_10m"] = _q_hopping

    # -- Theil–Sen robust slope (median of pairwise slopes) -----------
    def _q_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import theilsen

        tier = _tiers(spark, sf_dir)[3600]
        return theilsen(
            tier.select(
                "source", "bucket_s",
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            coarse_s=86400, fine_s=3600,
        )

    q["theilsen_1d"] = _q_theilsen

    # -- offline AMOC mean-shift changepoint per (source, day) --------
    def _q_amoc(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.changepoint import amoc_changepoint

        tier = _tiers(spark, sf_dir)[3600]
        return amoc_changepoint(
            tier.select(
                "source", "bucket_s",
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            coarse_s=86400, fine_s=3600,
        )

    q["changepoint_1d"] = _q_amoc

    # -- Mann–Kendall trend test per (source, day) --------------------
    def _q_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.changepoint import mann_kendall

        tier = _tiers(spark, sf_dir)[3600]
        return mann_kendall(
            tier.select(
                "source", "bucket_s",
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            coarse_s=86400, fine_s=3600,
        )

    q["mk_trend_1d"] = _q_mk

    # -- Pettitt rank-based changepoint per (source, day) -------------
    def _q_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.changepoint import pettitt

        tier = _tiers(spark, sf_dir)[3600]
        return pettitt(
            tier.select(
                "source", "bucket_s",
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            coarse_s=86400, fine_s=3600,
        )

    q["pettitt_1d"] = _q_pettitt

    # -- seasonal Mann–Kendall per source (hour-of-day phases) --------
    def _q_smk(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.changepoint import (
            seasonal_mann_kendall,
        )

        tier = _tiers(spark, sf_dir)[3600]
        return seasonal_mann_kendall(
            tier.select(
                "source", "bucket_s",
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            period_s=86400, fine_s=3600,
        )

    q["smk_trend"] = _q_smk

    # -- exact percentile rollup (1h buckets) -------------------------
    def _q_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import bucket_percentiles

        return bucket_percentiles(_seq(spark, sf_dir), 3600).select(
            "source", "bucket_s",
            F.col("cnt").cast("long").alias("cnt"),
            "p25_n_tok", "p50_n_tok", "p75_n_tok",
        )

    q["tier_1h_pct"] = _q_pct

    # production-scale sketch variant (t-digest approx_percentile) —
    # engine-specific results, so no SQL oracle: rows-only driver check;
    # accuracy is bounded against the exact op in pytest
    def _q_pct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import bucket_percentiles_approx

        return bucket_percentiles_approx(_seq(spark, sf_dir), 3600).select(
            "source", "bucket_s",
            F.col("cnt").cast("long").alias("cnt"),
            "p25_n_tok", "p50_n_tok", "p75_n_tok",
        )

    q["tier_1h_pct_approx"] = _q_pct_approx

    # -- OHLC rollup (gauge semantics, cascaded 1m→10m→1h) ------------
    def _q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Spark side CASCADES (1m tier-0 → 10m → 1h) while the oracle
        computes 1h directly from raw rows — equality proves the OHLC
        cascade is exact, not just the tier-0 aggregate."""
        from pyreshaper_spark.operators.rollup import (
            ohlc_cascade,
            ohlc_finish,
            rollup_ohlc,
        )

        t = rollup_ohlc(_seq(spark, sf_dir), 60)
        for w in (600, 3600):
            t = ohlc_cascade(t, w)
        return ohlc_finish(t)

    q["tier_1h_ohlc"] = _q_ohlc

    # -- histogram rollup (cascaded: 10m/bin25 → 1h/bin50) ------------
    def _q_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import (
            bucket_histogram,
            histogram_cascade,
        )

        fine = bucket_histogram(_seq(spark, sf_dir), 600, 25)
        return histogram_cascade(fine, 3600, 50).select(
            "source", "bucket_s", "bin_lo",
            F.col("cnt").cast("long").alias("cnt"),
        )

    q["hist_1h"] = _q_hist

    # -- distribution drift: exact TVD between consecutive 1d buckets -
    def _q_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.drift import histogram_drift_tvd
        from pyreshaper_spark.operators.rollup import bucket_histogram

        hist = bucket_histogram(_seq(spark, sf_dir), 86400, 50)
        return histogram_drift_tvd(hist, 86400)

    q["drift_tvd_1d"] = _q_drift

    # -- unbinned KS drift (sees within-bin shift TVD-over-bins misses)
    def _q_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.drift import ks_drift

        return ks_drift(_seq(spark, sf_dir), 86400)

    q["ks_drift_1d"] = _q_ks

    # -- Benford first-digit profile (fabricated-data detector) -------
    def _q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.drift import benford_counts

        return benford_counts(_seq(spark, sf_dir))

    q["benford_n_tok"] = _q_benford

    # -- distinct-cardinality rollup (exact + HLL sketch) -------------
    def _q_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import bucket_ndv

        return bucket_ndv(_seq(spark, sf_dir), 3600).select(
            "source", "bucket_s",
            F.col("cnt").cast("long").alias("cnt"),
            F.col("ndv_n_tok").cast("long").alias("ndv_n_tok"),
        )

    q["tier_1h_ndv"] = _q_ndv

    # HLL production path — engine-specific estimates, rows-only check;
    # error bounded vs the exact op in pytest
    def _q_ndv_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import bucket_ndv_approx

        return bucket_ndv_approx(_seq(spark, sf_dir), 3600).select(
            "source", "bucket_s",
            F.col("cnt").cast("long").alias("cnt"),
            F.col("ndv_n_tok").cast("long").alias("ndv_n_tok"),
        )

    q["tier_1h_ndv_approx"] = _q_ndv_approx

    # -- time-weighted average over the gappy 10m tier ----------------
    def _q_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import time_weighted

        tier = _tiers(spark, sf_dir, variant="gappy")[600]
        return time_weighted(tier, 600, 3600)

    q["twa_1h"] = _q_twa

    # -- gap detection over the gappy 10m tier ------------------------
    def _q_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import detect_gaps

        tier = _tiers(spark, sf_dir, variant="gappy")[600]
        return detect_gaps(tier, 600)

    q["gaps_10m"] = _q_gaps

    def _q_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import uptime_islands

        tier = _tiers(spark, sf_dir, variant="gappy")[600]
        return uptime_islands(tier, 600)

    q["uptime_islands_10m"] = _q_islands

    def _q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import rolling_median

        tier = _tiers(spark, sf_dir, variant="gappy")[600]
        return rolling_median(
            tier.select(
                "source",
                F.col("bucket_s").cast("long").alias("bucket_s"),
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            k=6,
        )

    q["rolling_median_10m"] = _q_rolling_median

    def _q_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import rolling_slope

        tier = _tiers(spark, sf_dir, variant="gappy")[600]
        return rolling_slope(
            tier.select(
                "source",
                F.col("bucket_s").cast("long").alias("bucket_s"),
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            k=6,
        )

    q["rolling_slope_10m"] = _q_rolling_slope

    def _q_similar_days(spark: SparkSession, sf_dir: str) -> DataFrame:
        """3 nearest days per (source, day) by exact squared-Euclidean
        distance between within-day 1h-tier profiles."""
        from pyreshaper_spark.operators.seriessim import day_profile_knn

        tier = _tiers(spark, sf_dir)[3600]
        return day_profile_knn(
            tier.select(
                "source",
                F.col("bucket_s").cast("long").alias("bucket_s"),
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            k=3,
        )

    q["similar_days_1h"] = _q_similar_days

    # -- discord days: the anomaly dual of the day-profile kNN --------
    def _q_discords(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.seriessim import day_discords

        tier = _tiers(spark, sf_dir)[3600]
        return day_discords(
            tier.select(
                "source",
                F.col("bucket_s").cast("long").alias("bucket_s"),
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            m=3,
        )

    q["discord_days_1h"] = _q_discords

    def _q_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hampel outlier flag (centered ±3-bucket median/MAD, t=2)
        over the gappy 10m tier — the robust cousin of anomaly_10m."""
        from pyreshaper_spark.operators.gapfill import hampel_filter

        tier = _tiers(spark, sf_dir, variant="gappy")[600]
        return hampel_filter(
            tier.select(
                "source",
                F.col("bucket_s").cast("long").alias("bucket_s"),
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            k=3, t=2,
        )

    q["hampel_10m"] = _q_hampel

    def _q_doc_conc(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-source heavy-hitter concentration of token mass
        (top-10 docs vs total) — corpus-skew health readout."""
        from pyreshaper_spark.operators.sampling import doc_concentration

        return doc_concentration(_seq(spark, sf_dir), k=10)

    q["doc_concentration"] = _q_doc_conc

    def _q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import bucket_moments

        return bucket_moments(_seq(spark, sf_dir), 3600)

    q["tier_1h_moments"] = _q_moments

    def _q_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Arrival burstiness: Fano sufficient stats of 10m bucket
        counts per (source, day)."""
        from pyreshaper_spark.operators.rollup import bucket_fano

        return bucket_fano(_tiers(spark, sf_dir)[600], day_s=86400)

    q["src_fano_1d"] = _q_fano

    def _q_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import slo_burn

        tier = _tiers(spark, sf_dir)[3600]
        return slo_burn(
            tier.select(
                "source",
                F.col("bucket_s").cast("long").alias("bucket_s"),
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            coarse_w=86400, threshold=80,
        )

    q["slo_burn_1d"] = _q_slo

    def _q_multiburn(spark: SparkSession, sf_dir: str) -> DataFrame:
        """SRE fast+slow multi-window burn-rate alert over the 1h tier."""
        from pyreshaper_spark.operators.rollup import slo_multiburn

        return slo_multiburn(
            _tiers(spark, sf_dir)[3600], width_s=3600, threshold=60,
            short_s=6 * 3600, long_s=24 * 3600, short_min=2, long_min=4,
        )

    q["slo_multiburn_1h"] = _q_multiburn

    def _q_ltob(spark: SparkSession, sf_dir: str) -> DataFrame:
        """LTOB viz downsample: one perceptually-dominant 10m point
        per (source, hour)."""
        from pyreshaper_spark.operators.rollup import ltob_downsample

        return ltob_downsample(_tiers(spark, sf_dir)[600], coarse_w=3600)

    q["ltob_1h"] = _q_ltob

    def _q_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
        """LTTB (centroid-anchored, parallel form): one 10m point per
        (source, hour) maximizing the triangle with the neighbor
        buckets' centroids."""
        from pyreshaper_spark.operators.rollup import lttb_downsample

        return lttb_downsample(_tiers(spark, sf_dir)[600], coarse_w=3600)

    q["lttb_1h"] = _q_lttb

    def _q_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
        """SAX symbolization: each source's 1h sum_n_tok series cut at
        its empirical quartiles (exact order statistics) → one
        letters-word per (source, day)."""
        from pyreshaper_spark.operators.symbolic import sax_words

        return sax_words(_tiers(spark, sf_dir)[3600], word_w=86400)

    q["sax_1d"] = _q_sax

    def _q_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Recurring 4-symbol SAX subwords per source (overlapping
        sliding window over the symbolized 1h series)."""
        from pyreshaper_spark.operators.symbolic import sax_motifs

        return sax_motifs(_tiers(spark, sf_dir)[3600], m=4)

    q["sax_motifs_1h"] = _q_sax_motifs

    def _q_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Naive + seasonal-naive (1h season) backtest over the
        LOCF-filled gappy 10m series — the dense spine gives the
        seasonal lag something to hit."""
        from pyreshaper_spark.operators.forecast import snaive_backtest

        tier = _tiers(spark, sf_dir, variant="gappy")[600]
        locfed = gapfill_locf(tier, 600).select(
            "source", "bucket_s",
            F.col("sum_n_tok_locf").alias("sum_n_tok"),
        )
        return snaive_backtest(locfed, season_s=3600)

    q["forecast_10m"] = _q_forecast

    def _q_forecast_acc(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-source scorecard of the same backtest: exact integer
        error masses (MAE/MASE/WAPE are consumer-side divisions)."""
        from pyreshaper_spark.operators.forecast import forecast_accuracy

        tier = _tiers(spark, sf_dir, variant="gappy")[600]
        locfed = gapfill_locf(tier, 600).select(
            "source", "bucket_s",
            F.col("sum_n_tok_locf").alias("sum_n_tok"),
        )
        return forecast_accuracy(locfed, season_s=3600)

    q["forecast_accuracy_10m"] = _q_forecast_acc

    def _q_forecast_pi(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Split-conformal prediction intervals around the naive
        forecast: exact integer residual order statistic per source,
        per-bucket coverage flags over the evaluation window."""
        from pyreshaper_spark.operators.forecast import conformal_interval

        return conformal_interval(_tiers(spark, sf_dir)[600])

    q["forecast_pi_10m"] = _q_forecast_pi

    def _q_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Active session-seconds + session counts per hour (uptime /
        concurrency panel) from gap-based sessions."""
        from pyreshaper_spark.operators.events import session_coverage

        return session_coverage(_events(spark, sf_dir), width_s=3600)

    q["session_coverage_1h"] = _q_coverage

    def _q_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
        """First 1h bucket at which each source's running token total
        reaches the quota (sources that never cross emit nothing)."""
        from pyreshaper_spark.operators.rollup import quota_cross

        return quota_cross(_tiers(spark, sf_dir)[3600], quota=700)

    q["quota_cross_1h"] = _q_quota

    def _q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import bucket_mode

        return bucket_mode(_seq(spark, sf_dir), 3600)

    q["bucket_mode_1h"] = _q_mode

    def _q_share(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import source_share

        return source_share(_tiers(spark, sf_dir)[86400])

    q["source_share_1d"] = _q_share

    def _q_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Grid-bucketed interval join: label every sequence row with
        the hot-hours incident window (islands of 1h buckets with
        sum_n_tok > 60) containing its event — an EQUI-join plan, never
        a nested-loop range join."""
        from pyreshaper_spark.operators.gapfill import uptime_islands
        from pyreshaper_spark.operators.rangejoin import interval_join

        hot = _tiers(spark, sf_dir)[3600].filter(F.col("sum_n_tok") > 60)
        wins = uptime_islands(hot, 3600).select(
            "source",
            F.col("up_start").alias("start_s"),
            F.col("up_end").alias("end_s"),
        )
        return interval_join(
            _seq(spark, sf_dir).select("doc_id", "source", "event_s"),
            wins, key="source", point_ts="event_s",
            start_col="start_s", end_col="end_s", chunk_s=3600,
            end_exclusive=True,
        ).select("doc_id", "source", "event_s", "start_s", "end_s")

    q["interval_label_1h"] = _q_interval

    # -- M4 downsample (cascaded 1m→10m→1h; first/last/min/max POINTS) -
    def _q_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Spark side CASCADES the M4 corners through finer tiers while
        the oracle computes 1h directly from raw rows — equality proves
        the packed-key min/max cascade is exact."""
        from pyreshaper_spark.operators.rollup import (
            m4_cascade,
            m4_finish,
            rollup_m4,
        )

        t = rollup_m4(_seq(spark, sf_dir), 60)
        for w in (600, 3600):
            t = m4_cascade(t, w)
        return m4_finish(t)

    q["m4_1h"] = _q_m4

    # -- cumulative totals over the 1h tier ---------------------------
    def _q_cum(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import cumulative_tier

        tier = _tiers(spark, sf_dir)[3600]
        return cumulative_tier(tier)

    q["cum_1h"] = _q_cum

    # -- per-source staleness (dead-feed detector) --------------------
    def _q_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import staleness

        return staleness(_seq(spark, sf_dir))

    q["staleness"] = _q_staleness

    # -- token-level vocabulary analytics -----------------------------
    # These run on the cross-engine token stream (md5-derived token ids
    # — see operators/vocab.py) so DuckDB can replay them; production
    # uses the same operators over explode_tokens(sequences).
    from pyreshaper_spark.operators import vocab as VB

    q["tok_topk_1h"] = lambda s, d: VB.token_topk(
        VB.token_stream(_docs(s, d)), 3600, 5
    )
    q["vocab_growth_1h"] = lambda s, d: VB.vocab_growth(
        VB.token_stream(_docs(s, d)), 3600
    )
    q["src_vocab_jaccard"] = lambda s, d: VB.vocab_jaccard(
        VB.token_stream(_docs(s, d))
    )
    # OOV rate vs the corpus's top-200 vocabulary head
    q["oov_rate_1h"] = lambda s, d: VB.oov_rate(
        VB.token_stream(_docs(s, d)), 3600, top_v=200
    )
    q["token_ndv_1h"] = lambda s, d: VB.token_ndv(
        VB.token_stream(_docs(s, d)), 3600
    )
    q["tok_cms"] = lambda s, d: VB.token_cms(
        VB.token_stream(_docs(s, d)), depth=4, width=64
    )
    # bigrams need token ORDER → the sequences-shaped md-token relation
    q["tok_bigram_pmi"] = lambda s, d: VB.bigram_pmi(
        _md_seq(s, d), min_count=2
    )
    # skip-gram ±3 co-occurrence (word2vec/GloVe matrix builder)
    q["tok_skipgram_w3"] = lambda s, d: VB.tok_skipgram(
        _md_seq(s, d), window=3, min_count=2
    )
    # collocation lift (exact-integer PMI face) over the same pairs
    q["tok_colloc_w3"] = lambda s, d: VB.tok_collocations(
        _md_seq(s, d), window=3, min_pair=3, min_lift_ppm=2_000_000
    )
    # trending tokens: day-over-day frequency lift top-k
    q["token_movers_1d"] = lambda s, d: VB.token_movers(
        VB.token_stream(_docs(s, d)), 86400, k=5, min_count=2
    )
    q["doc_rarity"] = lambda s, d: VB.doc_rarity(_md_seq(s, d), max_df=2)
    # exact-integer TF-IDF doc informativeness (tf-weighted mean idf)
    q["doc_tfidf"] = lambda s, d: VB.doc_tfidf(_md_seq(s, d))
    # vocabulary migration: frequency-dense re-id of every token array
    q["tok_remap"] = lambda s, d: VB.vocab_remap(_md_seq(s, d))
    q["token_zipf"] = lambda s, d: VB.token_zipf(
        VB.token_stream(_docs(s, d))
    )
    # head-coverage curve: occurrences covered by the top-k tokens
    q["tok_coverage"] = lambda s, d: VB.token_coverage(
        VB.token_stream(_docs(s, d))
    )
    q["token_gini_1h"] = lambda s, d: VB.token_gini(
        VB.token_stream(_docs(s, d)), 3600
    )
    # trending-term burst flags (lift >= 3/2 vs corpus share) and
    # Simpson collision-probability diversity — exact integer pairs
    q["token_burst_1h"] = lambda s, d: VB.token_burst(
        VB.token_stream(_docs(s, d)), 3600, lift_num=3, lift_den=2,
        min_count=3,
    )
    q["token_simpson_1h"] = lambda s, d: VB.token_simpson(
        VB.token_stream(_docs(s, d)), 3600
    )

    # hapax/dis-legomena lexical-richness rollup
    q["hapax_1h"] = lambda s, d: VB.token_hapax(
        VB.token_stream(_docs(s, d)), 3600
    )

    def _q_top_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import top_sources

        return top_sources(_tiers(spark, sf_dir)[3600], k=2)

    q["top_sources_1h"] = _q_top_sources
    # pairwise source token-mix divergence (exact cross-multiplied TVD)
    q["src_token_tvd"] = lambda s, d: VB.source_token_tvd(
        VB.token_stream(_docs(s, d))
    )
    # Gopher-style duplicate-trigram repetition needs token ORDER
    q["doc_rep3"] = lambda s, d: VB.doc_ngram_repetition(_md_seq(s, d), n=3)
    # bigram-LM fluency proxy (exact-integer bitlen log-probs)
    q["doc_lm_score"] = lambda s, d: VB.doc_lm_score(_md_seq(s, d))
    # Gopher top-2-gram dominance (zero-shuffle sorted-run scan)
    q["doc_top2gram"] = lambda s, d: VB.top_bigram_share(_md_seq(s, d))

    # PromQL increase with counter-reset correction over the 10m tier
    def _q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import counter_rate

        tier = _tiers(spark, sf_dir)[600]
        return counter_rate(
            tier.select(
                "source", "bucket_s",
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            )
        )

    q["rate_resets_10m"] = _q_counter_rate

    # ACF (periodicity detector, exact moments) — composed on the
    # LOCF-filled 10m spine: the raw fixture tier is too sparse for
    # (t, t+lag) pairs to exist at sf0.01 (same reason as seasonal_10m)
    def _q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.correlate import autocorr_moments

        tier = _tiers(spark, sf_dir, variant="gappy")[600]
        filled = gapfill_locf(tier, 600).select(
            "source", "bucket_s",
            F.col("sum_n_tok_locf").cast("long").alias("sum_n_tok_locf"),
        )
        return autocorr_moments(
            filled, lags=(600, 1200, 3600), value_col="sum_n_tok_locf"
        )

    q["acf_10m"] = _q_acf

    # PromQL histogram_quantile over the 1h histogram rollup (p90)
    def _q_histq(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import (
            bucket_histogram,
            histogram_quantile,
        )

        hist = bucket_histogram(_seq(spark, sf_dir), 3600, 50)
        return histogram_quantile(hist, bin_w=50, q_num=9, q_den=10)

    q["hist_q90_1h"] = _q_histq

    # log2-histogram sketch (exactly oracle-able quantile sketch): the
    # 1h tier is cascaded from a 10m fine tier so the oracle also
    # proves merge exactness; p90 readout as exact bin bounds.
    def _q_lhist(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import (
            bucket_log_hist,
            log_hist_cascade,
        )

        fine = bucket_log_hist(_seq(spark, sf_dir), 600)
        return log_hist_cascade(fine, 3600).select(
            "source", "bucket_s", "bin",
            F.col("cnt").cast("long").alias("cnt"),
        )

    q["lhist_1h"] = _q_lhist

    def _q_lhistq(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import (
            bucket_log_hist,
            log_hist_quantile,
        )

        hist = bucket_log_hist(_seq(spark, sf_dir), 3600)
        return log_hist_quantile(hist, q_num=9, q_den=10)

    q["lhist_q90_1h"] = _q_lhistq

    # -- exact binary-weight EWMA over the 10m tier -------------------
    def _q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import ewma_binary

        tier = _tiers(spark, sf_dir)[600]
        return ewma_binary(
            tier.select(
                "source", "bucket_s",
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            k=4,
        )

    q["ewma_10m"] = _q_ewma

    # -- anomaly z-flag over the 10m tier (exact integer z-test) ------
    def _q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import anomaly_zflag

        tier = _tiers(spark, sf_dir)[600]
        return anomaly_zflag(
            tier.select(
                "source", "bucket_s",
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            k=6, z_num=2, z_den=1,
        )

    q["anomaly_10m"] = _q_anomaly

    # -- seasonal diff over the LOCF-filled 10m tier (1h period) ------
    # Composed on the gap-filled spine so every bucket past the first
    # period has a comparison point (the raw fixture tier is too sparse
    # for ±period matches to exist at sf0.01).
    def _q_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import seasonal_diff

        tier = _tiers(spark, sf_dir, variant="gappy")[600]
        filled = gapfill_locf(tier, 600).select(
            "source", "bucket_s",
            F.col("sum_n_tok_locf").cast("long").alias("sum_n_tok_locf"),
        )
        return seasonal_diff(filled, period_s=3600, value_col="sum_n_tok_locf")

    q["seasonal_10m"] = _q_seasonal

    # -- seasonal-naive forecast skill (MASE components) ---------------
    # the sanity floor for any forecasting on the rolled-up series:
    # predict each 10m bucket of the gap-filled (LOCF) series with the
    # same bucket one day earlier; exact-integer error sums vs the
    # one-bucket naive. Runs on the FILLED series (every bucket exists,
    # so the season ancestor always exists past day one) — on the
    # sparse tier the fixture's hashed event lattice leaves no exact
    # day-back ancestors and the readout is vacuous.
    def _q_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import snaive_eval

        tier = _tiers(spark, sf_dir, variant="gappy")[600]
        filled = gapfill_locf(tier, 600).select(
            "source", "bucket_s",
            F.col("sum_n_tok_locf").cast("long").alias("sum_n_tok_locf"),
        )
        return snaive_eval(
            filled, 600, season_buckets=144, value_col="sum_n_tok_locf"
        )

    q["snaive_10m"] = _q_snaive

    # Holt linear-trend one-step backtest over the gappy 10m tier
    # (gap-skipping observation ranks, like the naive baseline)
    def _q_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.forecast import holt_backtest

        tier = _tiers(spark, sf_dir, variant="gappy")[600]
        return holt_backtest(
            tier.select(
                "source",
                F.col("bucket_s").cast("long").alias("bucket_s"),
                F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
            ),
            k=6,
        )

    q["holt_10m"] = _q_holt

    # classical additive decomposition: daily seasonal profile of the
    # LOCF-filled 10m series (centered-MA detrend, exact 2p-scaled)
    def _q_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.gapfill import seasonal_decompose

        tier = _tiers(spark, sf_dir, variant="gappy")[600]
        filled = gapfill_locf(tier, 600).select(
            "source", "bucket_s",
            F.col("sum_n_tok_locf").cast("long").alias("sum_n_tok_locf"),
        )
        return seasonal_decompose(
            filled, 600, period=144, value_col="sum_n_tok_locf"
        )

    q["decomp_seasonal_10m"] = _q_decomp

    # -- tier routing: serve a 30m chart from the 10m tier ------------
    # pick_tier routes the request to the coarsest dividing tier (600),
    # rollup_cascade re-aggregates — exact by associativity, so the
    # oracle is the DIRECT 30m rollup from raw.
    def _q_read30(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import (
            pick_tier,
            rollup_cascade,
        )

        w = pick_tier(TIER_WIDTHS, 1800)
        assert w == 600
        return _norm_tier(rollup_cascade(_tiers(spark, sf_dir)[w], 1800))

    q["rollup_read_30m"] = _q_read30

    # -- real-time continuous aggregate --------------------------------
    # Materialize up to a deliberately NON-hour-aligned high-water mark,
    # merge the raw tail on the fly (rollup.realtime_merge) — the bucket
    # straddling the mark carries partial aggregates from BOTH legs, and
    # the result must equal the plain 1h rollup of the whole input
    # (which is the oracle). The catalog-integrated face (the pending
    # files' staged tier-0 aggregate, scanned with the tier) is
    # sql.read_rollup, tested in pytest.
    def _q_realtime(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.config import EPOCH0
        from pyreshaper_spark.operators.rollup import (
            realtime_merge,
            rollup_tier0,
        )

        hw = EPOCH0 + 5 * 86400 + 1800
        seq = _seq(spark, sf_dir)
        mat = rollup_tier0(seq.filter(F.col("event_s") < hw), 3600)
        return _norm_tier(
            realtime_merge(mat, seq.filter(F.col("event_s") >= hw), 3600)
        )

    q["realtime_1h"] = _q_realtime

    # real-time continuous aggregate at a CALENDAR width: committed
    # months ∪ on-the-fly partial month; hw lands mid-month under the
    # ×40 spread so the straddling month merges partials from both legs
    def _q_realtime_cal(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.config import EPOCH0
        from pyreshaper_spark.operators.rollup import (
            calendar_realtime_merge,
            calendar_rollup,
        )

        spread = _seq(spark, sf_dir).withColumn(
            "event_s",
            F.lit(EPOCH0) + (F.col("event_s") - F.lit(EPOCH0)) * F.lit(40),
        )
        hw = EPOCH0 + 150 * 86400 + 1800
        mat = calendar_rollup(spread.filter(F.col("event_s") < hw), "month")
        return _norm_tier(
            calendar_realtime_merge(
                mat, spread.filter(F.col("event_s") >= hw), "month"
            )
        )

    q["realtime_1mo"] = _q_realtime_cal

    # trimmed (robust) rollup: drop top/bottom 10% per bucket
    def _q_trimmed(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import bucket_trimmed

        return bucket_trimmed(_seq(spark, sf_dir), 3600, 1, 10)

    q["tier_1h_trimmed"] = _q_trimmed

    # -- mergeable HLL sketch cascade (production NDV path) -----------
    # Estimates are Datasketches-specific → rows-only driver check; the
    # cascade≡direct-sketch identity and error bounds live in pytest.
    def _q_ndv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import (
            ndv_sketch_cascade,
            ndv_sketch_finish,
            ndv_sketch_tier0,
        )

        t = ndv_sketch_tier0(_seq(spark, sf_dir), 60)
        for w in (600, 3600):
            t = ndv_sketch_cascade(t, w)
        return ndv_sketch_finish(t)

    q["tier_1h_ndv_sketch"] = _q_ndv_sketch

    # -- cross-source correlation moments over the 1h tier ------------
    def _q_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.correlate import source_corr_moments

        tier = _tiers(spark, sf_dir)[3600]
        return source_corr_moments(_norm_tier(tier))

    q["src_corr_1h"] = _q_corr

    # lead/lag cross-correlation: x at t vs y at t+1h (directional)
    def _q_corr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.correlate import source_corr_moments

        tier = _tiers(spark, sf_dir)[3600]
        return source_corr_moments(_norm_tier(tier), lag_s=3600)

    q["src_corr_1h_lag1"] = _q_corr_lag

    # Spearman (rank) correlation — robust co-movement
    def _q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.correlate import (
            source_spearman_moments,
        )

        tier = _tiers(spark, sf_dir)[3600]
        return source_spearman_moments(_norm_tier(tier))

    q["src_spearman_1h"] = _q_spearman

    # Kendall tau-b pair counts — the concordance view of co-movement
    def _q_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.correlate import (
            source_kendall_counts,
        )

        tier = _tiers(spark, sf_dir)[3600]
        return source_kendall_counts(_norm_tier(tier))

    q["src_kendall_1h"] = _q_kendall

    # Same operator with the hard misuse guard engaged: source pairs
    # sharing more than 8 one-hour buckets are dropped BEFORE the
    # triangular self-join (cost bounded at pairs × 8² regardless of
    # scan width). 8 splits the sf0.01 fixture's 2–15 shared-bucket
    # distribution, so both the kept and the dropped classes have
    # mass at the driver's check scale — the guard is driver-verified,
    # not just pytest-proven. (At sf0.1 every pair shares exactly 168
    # buckets, so the capped face is 0 rows there — that IS the guard
    # firing on an unsliced dense scan, oracle-matched either way.)
    def _q_kendall_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.correlate import (
            source_kendall_counts,
        )

        tier = _tiers(spark, sf_dir)[3600]
        return source_kendall_counts(_norm_tier(tier), max_buckets=8)

    q["src_kendall_1h_capped"] = _q_kendall_capped

    # cross-correlation function: all lags 0..3h in one pass
    def _q_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.correlate import source_ccf_moments

        tier = _tiers(spark, sf_dir)[3600]
        return source_ccf_moments(
            _norm_tier(tier), max_lag=3, width_s=3600
        )

    q["src_ccf_1h"] = _q_ccf

    # hour-of-day percentile envelope ("typical day" band)
    def _q_hod_band(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import hod_band

        return hod_band(_norm_tier(_tiers(spark, sf_dir)[3600]))

    q["hod_band_1h"] = _q_hod_band

    # seasonal-band anomaly flags against the hod envelope
    def _q_hod_anom(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import hod_anomaly

        return hod_anomaly(_norm_tier(_tiers(spark, sf_dir)[3600]))

    q["hod_anomaly_1h"] = _q_hod_anom

    # -- validation + metrics accounting (previously pytest-only) -----
    def _q_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.validate import validate_report

        return validate_report(_seq(spark, sf_dir))

    q["validate_input"] = _q_validate

    # release-to-release rollup diff: changed (source, bucket) cells
    # between the base corpus and the gappy release, at the 10m tier
    def _q_rollup_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.rollup import rollup_diff

        return rollup_diff(
            _tiers(spark, sf_dir)[600],
            _tiers(spark, sf_dir, variant="gappy")[600],
        )

    q["rollup_diff_10m"] = _q_rollup_diff

    # declarative DQ suite (Deequ face) — whole rule set in ONE scan
    def _q_dq_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.checks import dq_documents

        return dq_documents(_docs(spark, sf_dir))

    q["dq_docs"] = _q_dq_docs

    # keyed form: one verdict row per (source, rule) — which feed broke
    def _q_dq_docs_by(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyreshaper_spark.operators.checks import (
            check_suite_by,
            documents_rules,
        )

        return check_suite_by(_docs(spark, sf_dir), documents_rules())

    q["dq_docs_by_source"] = _q_dq_docs_by

    def _q_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Lineage accounting invariant: every input row is counted in
        exactly one encoded chunk's metrics (sum of per-chunk n and of
        per-doc token counts reproduce the per-source input totals)."""
        seq = _seq(spark, sf_dir)
        enc = encode_series_table(
            transpose_to_series(seq, nsalt=4, pack=True)
        )
        per_chunk = enc.select(
            "source",
            "n",
            F.expr(
                "aggregate(doc_n_toks, CAST(0 AS BIGINT), (a, x) -> a + x)"
            ).alias("tok"),
        )
        return per_chunk.groupBy("source").agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum("tok").cast("long").alias("total_tok"),
        )

    q["metrics_by_source"] = _q_metrics

    def _q_hod(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hour-of-day seasonality profile over the 1h tier."""
        from pyreshaper_spark.operators.rollup import hod_profile

        return hod_profile(_tiers(spark, sf_dir)[3600], width_s=3600)

    q["hod_profile_1h"] = _q_hod

    def _q_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Day-of-week seasonality profile: hod_profile folded onto the
        week instead of the day (slot = day-of-week of the 1d tier)."""
        from pyreshaper_spark.operators.rollup import hod_profile

        return hod_profile(
            _tiers(spark, sf_dir)[86400], width_s=86400, day_s=604800
        )

    q["dow_profile_1w"] = _q_dow

    def _q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Robust spread (exact integer MAD) of the 10m tier's values
        within each hour."""
        from pyreshaper_spark.operators.rollup import bucket_mad

        return bucket_mad(_tiers(spark, sf_dir)[600], coarse_w=3600)

    q["mad_1h"] = _q_mad

    # Driver-hashable output faces (see _FACE_BIGINT / _FACE_MD5ARR):
    # cast internal decimal(38,0) sums to BIGINT and token arrays to
    # md5 digests, identically mirrored in oracle_sql().
    for name, cols in _FACE_BIGINT.items():
        q[name] = (
            lambda f, cs: lambda s, d: _bigintify(f(s, d), *cs)
        )(q[name], cols)
    for name, cols in _FACE_MD5ARR.items():
        def _wrap_md5(f, cs):
            def inner(s, d):
                df = f(s, d)
                for c in cs:
                    df = df.withColumn(c, _md5_arr(c))
                return df
            return inner
        q[name] = _wrap_md5(q[name], cols)

    # Order: (1) keys NO board has ever sampled — value-oracled faces
    # first, the rows-only sketch faces last — (2) previously-verified-
    # green keys.
    def _prio(k: str) -> tuple[int, int]:
        if k not in _DRIVER_SAMPLED:
            return (1, 2 if k in _NO_ORACLE else 1)
        return (2, 0)

    names = list(q)
    q = {k: q[k] for k in sorted(names, key=lambda k: (_prio(k), names.index(k)))}
    return q


# --------------------------------------------------------------------------
# oracles (DuckDB SQL over the pre-registered `documents` view)
# --------------------------------------------------------------------------

_TIER_AGG = """
SELECT source,
       ((event_s) - ((((event_s) % {w}) + {w}) % {w})) AS bucket_s,
       count(*)                        AS cnt,
       CAST(sum(n_tok) AS BIGINT)      AS sum_n_tok,
       CAST(min(n_tok) AS BIGINT)      AS min_n_tok,
       CAST(max(n_tok) AS BIGINT)      AS max_n_tok
FROM sequences
GROUP BY 1, 2
"""

_GAPFILL_CTES = f"""
WITH {seq_cte('gappy')},
tier AS (
  SELECT source, ((event_s) - ((((event_s) % 600) + 600) % 600)) AS bucket_s,
         count(*) AS cnt, CAST(sum(n_tok) AS BIGINT) AS sum_n_tok
  FROM sequences GROUP BY 1, 2
),
spine AS (
  SELECT source, unnest(generate_series(min_b, max_b, 600)) AS bucket_s
  FROM (SELECT source, min(bucket_s) AS min_b, max(bucket_s) AS max_b
        FROM tier GROUP BY 1)
),
filled AS (
  SELECT s.source, s.bucket_s,
         coalesce(t.cnt, 0) AS cnt,
         t.sum_n_tok        AS sum_n_tok,
         t.cnt IS NULL      AS filled
  FROM spine s LEFT JOIN tier t USING (source, bucket_s)
)
"""


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    for w in TIER_WIDTHS:
        o[f"tier_{_TIER_NAMES[w]}"] = (
            f"WITH {seq_cte('base')}\n{_TIER_AGG.format(w=w)}"
        )
    from pyreshaper_spark.config import EPOCH0 as _E0
    from pyreshaper_spark.operators.rollup import calendar_rollup_sql

    _CAL_CTE = (
        f"WITH {seq_cte('base')},\n"
        "seqspread AS (SELECT doc_id, source, n_tok, "
        f"{_E0} + (event_s - {_E0}) * 40 AS event_s FROM sequences)\n"
    )
    o["tier_1w"] = _CAL_CTE + calendar_rollup_sql("week").replace(
        "FROM sequences", "FROM seqspread"
    )
    o["tier_1mo"] = _CAL_CTE + calendar_rollup_sql("month").replace(
        "FROM sequences", "FROM seqspread"
    )
    o["tier_1q"] = _CAL_CTE + calendar_rollup_sql("quarter").replace(
        "FROM sequences", "FROM seqspread"
    )
    _CAL_CTE_200 = (
        f"WITH {seq_cte('base')},\n"
        "seqspread AS (SELECT doc_id, source, n_tok, "
        f"{_E0} + (event_s - {_E0}) * 200 AS event_s FROM sequences)\n"
    )
    o["tier_1y"] = _CAL_CTE_200 + calendar_rollup_sql("year").replace(
        "FROM sequences", "FROM seqspread"
    )
    # realtime calendar merge ≡ plain calendar rollup of ALL spread rows
    o["realtime_1mo"] = o["tier_1mo"]
    from pyreshaper_spark.operators.rollup import bucket_trimmed_sql

    o["tier_1h_trimmed"] = (
        f"WITH {seq_cte('base')}\n{bucket_trimmed_sql(3600, 1, 10)}"
    )
    o["gapfill_10m"] = (
        _GAPFILL_CTES
        + "SELECT source, bucket_s, cnt, sum_n_tok, filled FROM filled"
    )
    o["locf_10m"] = _GAPFILL_CTES + """
SELECT source, bucket_s, cnt,
       last_value(sum_n_tok IGNORE NULLS) OVER (
         PARTITION BY source ORDER BY bucket_s
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS sum_n_tok_locf
FROM filled
"""
    from pyreshaper_spark.operators.gapfill import interpolate_sql

    o["interp_10m"] = _GAPFILL_CTES + ", " + interpolate_sql("filled")
    o["source_counts"] = f"""
WITH {seq_cte('base')}
SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tok
FROM sequences GROUP BY 1
"""
    o["series_fidelity"] = f"""
WITH {seq_cte('base')}
SELECT source, count(*) AS n_docs FROM sequences GROUP BY 1
"""
    o["series_fidelity_skew"] = f"""
WITH {seq_cte('skew')}
SELECT source, count(*) AS n_docs FROM sequences GROUP BY 1
"""
    o["tier_1h_skew"] = (
        f"WITH {seq_cte('skew')}\n{_TIER_AGG.format(w=3600)}"
    )
    from pyreshaper_spark.operators.gapfill import rate_delta_sql
    from pyreshaper_spark.operators.rollup import bucket_percentiles_sql

    o["rate_10m"] = (
        f"WITH {seq_cte('base')},\n"
        f"t10 AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=600)}))\n"
        + rate_delta_sql("t10")
    )
    o["tier_1h_pct"] = (
        f"WITH {seq_cte('base')}\n" + bucket_percentiles_sql(3600)
    )
    from pyreshaper_spark.operators.gapfill import (
        detect_gaps_sql,
        time_weighted_sql,
    )
    from pyreshaper_spark.operators.rollup import (
        histogram_sql,
        ndv_sql,
        ohlc_sql,
    )

    o["tier_1h_ohlc"] = f"WITH {seq_cte('base')}\n" + ohlc_sql(3600)
    o["hist_1h"] = f"WITH {seq_cte('base')}\n" + histogram_sql(3600, 50)
    from pyreshaper_spark.operators.drift import histogram_drift_sql

    o["drift_tvd_1d"] = (
        f"WITH {seq_cte('base')},\n"
        f"hist AS ({histogram_sql(86400, 50)})"
        + histogram_drift_sql("hist", 86400)
    )
    from pyreshaper_spark.operators.drift import ks_drift_sql

    o["ks_drift_1d"] = f"WITH {seq_cte('base')}" + ks_drift_sql(86400)
    from pyreshaper_spark.operators.drift import benford_sql

    o["benford_n_tok"] = (
        f"WITH {seq_cte('base')}\n" + benford_sql("sequences")
    )
    o["tier_1h_ndv"] = f"WITH {seq_cte('base')}\n" + ndv_sql(3600)
    _GAPPY_T10 = (
        f"WITH {seq_cte('gappy')},\n"
        "t10 AS (SELECT source, "
        "((event_s) - ((((event_s) % 600) + 600) % 600)) AS bucket_s, "
        "CAST(sum(n_tok) AS BIGINT) AS sum_n_tok "
        "FROM sequences GROUP BY 1, 2)\n"
    )
    o["twa_1h"] = _GAPPY_T10 + time_weighted_sql("t10", 600, 3600)
    o["gaps_10m"] = _GAPPY_T10 + detect_gaps_sql("t10", 600)
    from pyreshaper_spark.operators.gapfill import (
        rolling_median_sql,
        uptime_islands_sql,
    )
    from pyreshaper_spark.operators.rollup import (
        bucket_moments_sql,
        slo_burn_sql,
    )

    o["uptime_islands_10m"] = _GAPPY_T10 + uptime_islands_sql("t10", 600)
    o["rolling_median_10m"] = _GAPPY_T10 + rolling_median_sql("t10", 6)
    from pyreshaper_spark.operators.gapfill import rolling_slope_sql

    o["rolling_slope_10m"] = _GAPPY_T10 + rolling_slope_sql("t10", 6)
    from pyreshaper_spark.operators.seriessim import day_profile_knn_sql

    o["similar_days_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"t1h AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + day_profile_knn_sql("t1h", 3)
    )
    from pyreshaper_spark.operators.seriessim import day_discords_sql

    o["discord_days_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"t1h AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + day_discords_sql("t1h", 3)
    )
    from pyreshaper_spark.operators.gapfill import hampel_filter_sql
    from pyreshaper_spark.operators.sampling import doc_concentration_sql

    o["hampel_10m"] = _GAPPY_T10 + hampel_filter_sql("t10", 3, 2)
    o["doc_concentration"] = (
        f"WITH {seq_cte('base')}\n" + doc_concentration_sql("sequences", 10)
    )
    o["tier_1h_moments"] = (
        f"WITH {seq_cte('base')}\n" + bucket_moments_sql(3600)
    )
    from pyreshaper_spark.operators.rollup import bucket_fano_sql

    o["src_fano_1d"] = f"WITH {seq_cte('base')}\n" + bucket_fano_sql(600)
    o["slo_burn_1d"] = (
        f"WITH {seq_cte('base')},\n"
        f"t1h AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + slo_burn_sql("t1h", 86400, 80)
    )
    from pyreshaper_spark.operators.rollup import (
        bucket_mad_sql,
        hod_profile_sql,
    )

    o["dow_profile_1w"] = (
        f"WITH {seq_cte('base')},\n"
        f"t1d AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=86400)}))\n"
        + hod_profile_sql("t1d", 86400, day_s=604800)
    )
    o["hod_profile_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"t1h AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + hod_profile_sql("t1h", 3600)
    )
    o["mad_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"t10 AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=600)}))\n"
        + bucket_mad_sql("t10", 3600)
    )
    from pyreshaper_spark.operators.rollup import (
        bucket_mode_sql,
        ltob_downsample_sql,
        slo_multiburn_sql,
        source_share_sql,
    )

    o["slo_multiburn_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"t1h AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + slo_multiburn_sql(
            "t1h", width_s=3600, threshold=60,
            short_s=6 * 3600, long_s=24 * 3600, short_min=2, long_min=4,
        )
    )
    o["ltob_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"t10m AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=600)}))\n"
        + ltob_downsample_sql("t10m", 3600)
    )
    from pyreshaper_spark.operators.rollup import lttb_downsample_sql
    from pyreshaper_spark.operators.symbolic import sax_words_sql

    o["lttb_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"t10m AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=600)}))\n"
        + lttb_downsample_sql("t10m", 3600)
    )
    o["sax_1d"] = (
        f"WITH {seq_cte('base')},\n"
        f"t1h AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + sax_words_sql("t1h", 86400)
    )
    from pyreshaper_spark.operators.symbolic import sax_motifs_sql

    o["sax_motifs_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"t1h AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + sax_motifs_sql("t1h", 4)
    )
    o["bucket_mode_1h"] = (
        f"WITH {seq_cte('base')}\n" + bucket_mode_sql(3600)
    )
    o["source_share_1d"] = (
        f"WITH {seq_cte('base')},\n"
        f"t1d AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=86400)}))\n"
        + source_share_sql("t1d")
    )
    from pyreshaper_spark.operators.gapfill import uptime_islands_sql
    from pyreshaper_spark.operators.rangejoin import interval_join_sql

    o["interval_label_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"hot AS (SELECT source, bucket_s "
        f"FROM ({_TIER_AGG.format(w=3600)}) WHERE sum_n_tok > 60),\n"
        f"wins AS (SELECT source, up_start AS start_s, up_end AS end_s "
        f"FROM ({uptime_islands_sql('hot', 3600)}))\n"
        + interval_join_sql(
            "sequences", "wins", ("doc_id", "source", "event_s")
        )
    )
    o["tier_1h_retention"] = (
        f"WITH {seq_cte('base')},\n"
        f"tier AS ({_TIER_AGG.format(w=3600)})\n"
        "SELECT * FROM tier "
        "WHERE bucket_s > (SELECT max(bucket_s) FROM tier) - 24 * 3600"
    )
    from pyreshaper_spark.operators.gapfill import alert_hysteresis_sql
    from pyreshaper_spark.operators.rollup import retention_policy_sql

    o["tier_1h_policy"] = (
        f"WITH {seq_cte('base')},\n"
        f"tier AS ({_TIER_AGG.format(w=3600)})\n"
        + retention_policy_sql(
            "tier", 3600, {"src0": 24, "src1": 48}, default_buckets=72
        )
    )
    o["alert_hyst_10m"] = (
        f"WITH {seq_cte('base')},\n"
        f"tier AS ({_TIER_AGG.format(w=600)}),\n"
        + alert_hysteresis_sql("tier", hi=70, lo=40)
    )
    from pyreshaper_spark.operators import events as EV

    o["events_rollup_5m"] = EV.events_rollup_sql()
    o["events_rfm"] = EV.events_rfm_sql()
    o["events_dau_wau"] = EV.events_dau_wau_sql()
    o["events_engagement_hist"] = EV.events_engagement_hist_sql()
    o["events_transitions"] = EV.events_transitions_sql()
    o["events_paths3"] = EV.events_paths3_sql()
    o["events_conversion_lag"] = EV.events_conversion_lag_sql()
    o["events_attribution"] = EV.events_attribution_sql()
    o["events_sessions"] = EV.sessionize_sql()

    from pyreshaper_spark.operators.rangejoin import events_in_sessions_sql

    o["events_in_sessions"] = events_in_sessions_sql()
    o["events_props"] = EV.EXTRACT_PROPS_SQL
    from pyreshaper_spark.operators import funnel as FN

    o["events_funnel"] = FN.funnel_sql()
    o["events_funnel_1h"] = FN.funnel_sql(within_s=3600)
    o["events_cohorts"] = FN.cohort_retention_sql()
    o["events_type_pivot"] = FN.type_pivot_sql()
    o["events_ab_test"] = FN.ab_test_sql(("purchase", "signup"))
    from pyreshaper_spark.operators.rollup import tier_cube_sql

    o["tier_1h_cube"] = f"WITH {seq_cte('base')}\n" + tier_cube_sql(3600)

    from pyreshaper_spark.operators.asof import asof_join_sql, topk_per_series_sql

    o["asof_10m_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"t10 AS (SELECT source, bucket_s, cnt FROM ({_TIER_AGG.format(w=600)})),\n"
        f"t1h AS (SELECT source, bucket_s, sum_n_tok FROM ({_TIER_AGG.format(w=3600)}))\n"
        + asof_join_sql("t10", "t1h", ("sum_n_tok",),
                        ("source", "bucket_s", "cnt"))
    )
    o["asof_fwd_tol"] = (
        f"WITH {seq_cte('base')},\n"
        f"t10 AS (SELECT source, bucket_s, cnt FROM ({_TIER_AGG.format(w=600)})),\n"
        f"t1h AS (SELECT source, bucket_s, sum_n_tok FROM ({_TIER_AGG.format(w=3600)}))\n"
        + asof_join_sql("t10", "t1h", ("sum_n_tok",),
                        ("source", "bucket_s", "cnt"),
                        direction="forward", tolerance_s=3600)
    )
    o["asof_nearest_tol"] = (
        f"WITH {seq_cte('base')},\n"
        f"t10 AS (SELECT source, bucket_s, cnt FROM ({_TIER_AGG.format(w=600)})),\n"
        f"t1h AS (SELECT source, bucket_s, sum_n_tok FROM ({_TIER_AGG.format(w=3600)}))\n"
        + asof_join_sql("t10", "t1h", ("sum_n_tok",),
                        ("source", "bucket_s", "cnt"),
                        direction="nearest", tolerance_s=1800)
    )
    from pyreshaper_spark.operators.gapfill import (
        cusum_detect_sql,
        interarrival_sql,
    )

    o["interarrival_1h"] = (
        f"WITH {seq_cte('base')}\n" + interarrival_sql(3600)
    )
    o["cusum_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"t1h AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + cusum_detect_sql("t1h", h=100)
    )
    from pyreshaper_spark.operators.gapfill import cusum_fixed_sql

    o["cusum_fixed_10m"] = (
        f"WITH {seq_cte('base')},\n"
        f"t10 AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=600)}))\n"
        + cusum_fixed_sql("t10", mu=55, h=120)
    )
    from pyreshaper_spark.operators.gapfill import level_shift_sql

    o["levelshift_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"t1h AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + level_shift_sql("t1h", k=6, thresh=40)
    )
    o["topk_buckets"] = (
        f"WITH {seq_cte('base')},\n"
        f"t10 AS ({_TIER_AGG.format(w=600)})\n"
        + topk_per_series_sql("t10")
    )
    o["tier_1h_with_meta"] = f"""
WITH {seq_cte('base')},
tier AS ({_TIER_AGG.format(w=3600)}),
meta AS (
  SELECT source, count(*) AS src_n_docs,
         CAST(sum(n_tok) AS BIGINT) AS src_total_tok
  FROM sequences GROUP BY 1
)
SELECT t.*, m.src_n_docs, m.src_total_tok
FROM tier t JOIN meta m USING (source)
"""
    o["text_stats"] = text.text_stats_sql()
    o["quality_score"] = text.quality_score_sql()
    o["fertility_by_source"] = text.fertility_by_source_sql()
    o["lang_id"] = text.lang_id_sql()
    o["fingerprint"] = text.fingerprint_sql()
    o["pii_scan"] = text.pii_scan_sql()
    o["lang_confusion"] = text.lang_confusion_sql()
    from pyreshaper_spark.functions.xhash import h32_sql as _h32s

    o["pii_redact"] = text.pii_redact_sql(
        "text || CASE WHEN (" + _h32s("CAST(doc_id AS VARCHAR)")
        + f") % 10 < 3 THEN '{_PII_INJECT}' ELSE '' END"
    )

    from pyreshaper_spark.config import EPOCH0, HORIZON_S
    from pyreshaper_spark.fixtures import VOCAB_SIZE as _V
    from pyreshaper_spark.operators.rollup import floor_sql

    _day_expr = floor_sql(
        f"{EPOCH0} + (doc_id * 48271 + 11) % {HORIZON_S}", 86400
    )
    o["pii_rate_1d"] = text.pii_rate_sql(_day_expr)
    o["datacard_by_source"] = text.datacard_by_source_sql()

    from pyreshaper_spark.operators import sampling as SMP

    o["sample_30pct"] = SMP.hash_sample_sql(3000)
    o["sample_k_per_source"] = SMP.sample_k_per_source_sql(15)
    o["doc_len_deciles"] = SMP.doc_len_deciles_sql()
    o["quality_pctl"] = SMP.quality_pctl_sql()
    o["stratified_sample"] = SMP.stratified_sample_sql(
        {"src0": 10000, "src1": 2500}, default_bp=5000
    )
    o["split_assign"] = SMP.split_assign_sql(val_bp=1000, test_bp=1000)
    o["mix_sources"] = SMP.mix_sources_sql({"src0": 10, "src1": 5, "src2": 20})
    o["mix_temp_sqrt"] = SMP.mix_temperature_sqrt_sql(budget=200)
    o["mix_token_budget"] = (
        f"WITH {seq_cte('base')},\n"
        "seqs AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, "
        "CAST(n_tok AS BIGINT) AS n_tok FROM sequences)\n"
        + SMP.mix_token_budget_sql(
            {"src0": 5000, "src1": 1500, "src3": 800}, "seqs"
        )
    )
    from pyreshaper_spark.operators.vocab import seqs_cte as _seqs_cte

    o["mix_quality_budget"] = (
        f"WITH {_seqs_cte(_V)},"
        + SMP.mix_quality_budget_sql(
            {"src0": 2000, "src1": 800, "src3": 400}, max_df=2
        )
    )
    o["filter_verdict"] = f"""
WITH {_seqs_cte(_V)},
tokstream AS (SELECT doc_id, unnest(tokens) AS token FROM seqs),
dfx AS (SELECT token, count(DISTINCT doc_id) AS df
        FROM tokstream GROUP BY 1),
rare AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) * 10
           >= count(*) * 1 AS rare_heavy
  FROM tokstream JOIN dfx USING (token)
  GROUP BY 1
),
qual AS ({text.quality_score_sql()}),
pii AS ({text.pii_scan_sql()})
SELECT CAST(qual.doc_id AS VARCHAR) AS doc_id, qual.ok,
       rare.rare_heavy, pii.has_pii,
       (qual.ok = 1 AND NOT rare.rare_heavy AND NOT pii.has_pii) AS keep
FROM qual
JOIN rare ON rare.doc_id = CAST(qual.doc_id AS VARCHAR)
JOIN pii  ON pii.doc_id = qual.doc_id
"""
    # bad_rows: doc_id/source nullability is the only contract clause
    # expressible over the oracle CTE (its n_tok/tokens are consistent
    # by construction, as are Spark's — both sides count 0 for those)
    o["validate_input"] = f"""
WITH {seq_cte('base')}
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN doc_id IS NULL OR source IS NULL OR n_tok IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS bad_rows,
       count(DISTINCT doc_id) AS n_ids,
       count(*) - count(DISTINCT doc_id) AS dup_ids
FROM sequences
"""
    o["metrics_by_source"] = f"""
WITH {seq_cte('base')}
SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tok
FROM sequences GROUP BY 1
"""
    from pyreshaper_spark.operators.checks import dq_documents_sql

    o["dq_docs"] = dq_documents_sql()
    from pyreshaper_spark.operators.checks import (
        check_suite_by_sql,
        documents_rules as _doc_rules,
    )

    o["dq_docs_by_source"] = "WITH " + check_suite_by_sql(
        "documents", _doc_rules()
    )
    from pyreshaper_spark.operators.rollup import rollup_diff_sql

    o["rollup_diff_10m"] = (
        f"WITH {seq_cte('base')},\n"
        f"ta AS ({_TIER_AGG.format(w=600)}),\n"
        "gappy AS (SELECT * FROM sequences WHERE NOT "
        "(source = 'src1' AND ((event_s // 60) % 5) = 3)),\n"
        f"tb AS ({_TIER_AGG.format(w=600).replace('FROM sequences', 'FROM gappy')})\n"
        + rollup_diff_sql("ta", "tb")
    )
    from pyreshaper_spark.operators.correlate import corr_moments_sql
    from pyreshaper_spark.operators.gapfill import staleness_sql
    from pyreshaper_spark.operators.rollup import cumulative_sql, m4_sql
    from pyreshaper_spark.operators.vocab import (
        token_cte,
        token_ndv_sql,
        token_topk_sql,
        vocab_growth_sql,
    )

    o["m4_1h"] = f"WITH {seq_cte('base')}\n" + m4_sql(3600)
    o["cum_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"tier AS ({_TIER_AGG.format(w=3600)})\n"
        + cumulative_sql("tier")
    )
    o["staleness"] = f"WITH {seq_cte('base')}\n" + staleness_sql()
    from pyreshaper_spark.operators.gapfill import ewma_binary_sql

    o["ewma_10m"] = (
        f"WITH {seq_cte('base')},\n"
        f"tier AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=600)}))\n"
        + ewma_binary_sql("tier", k=4)
    )
    from pyreshaper_spark.operators.gapfill import (
        anomaly_zflag_sql,
        seasonal_diff_sql,
    )

    o["anomaly_10m"] = (
        f"WITH {seq_cte('base')},\n"
        f"tier AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=600)}))\n"
        + anomaly_zflag_sql("tier", k=6, z_num=2, z_den=1)
    )
    from pyreshaper_spark.operators.gapfill import snaive_eval_sql

    _LOCF_CTE = """, locf AS (
SELECT source, bucket_s,
       CAST(last_value(sum_n_tok IGNORE NULLS) OVER (
         PARTITION BY source ORDER BY bucket_s
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS sum_n_tok_locf
FROM filled
)
"""
    from pyreshaper_spark.operators.forecast import holt_backtest_sql

    o["holt_10m"] = _GAPPY_T10 + holt_backtest_sql("t10", 6)
    o["snaive_10m"] = (
        _GAPFILL_CTES + _LOCF_CTE
        + snaive_eval_sql("locf", 600, 144, value_col="sum_n_tok_locf")
    )
    from pyreshaper_spark.operators.gapfill import seasonal_decompose_sql

    o["decomp_seasonal_10m"] = (
        _GAPFILL_CTES + _LOCF_CTE
        + seasonal_decompose_sql(
            "locf", 600, 144, value_col="sum_n_tok_locf"
        )
    )
    # tier routing / real-time merge are exact re-groupings of the same
    # raw rows, so both oracles are the DIRECT rollup at the requested
    # width — the Spark side takes the routed / split-and-merged path.
    o["rollup_read_30m"] = (
        f"WITH {seq_cte('base')}\n{_TIER_AGG.format(w=1800)}"
    )
    o["realtime_1h"] = (
        f"WITH {seq_cte('base')}\n{_TIER_AGG.format(w=3600)}"
    )
    o["seasonal_10m"] = (
        _GAPFILL_CTES
        + """, locf AS (
SELECT source, bucket_s,
       CAST(last_value(sum_n_tok IGNORE NULLS) OVER (
         PARTITION BY source ORDER BY bucket_s
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS sum_n_tok_locf
FROM filled
)
"""
        + seasonal_diff_sql("locf", period_s=3600, value_col="sum_n_tok_locf")
    )
    o["tok_topk_1h"] = f"WITH {token_cte()}\n" + token_topk_sql(3600, 5)
    o["vocab_growth_1h"] = f"WITH {token_cte()}\n" + vocab_growth_sql(3600)
    from pyreshaper_spark.operators.vocab import vocab_jaccard_sql

    o["src_vocab_jaccard"] = f"WITH {token_cte()}\n" + vocab_jaccard_sql()
    from pyreshaper_spark.operators.vocab import oov_rate_sql

    o["oov_rate_1h"] = f"WITH {token_cte()}\n" + oov_rate_sql(3600, 200)
    from pyreshaper_spark.operators.vocab import token_movers_sql

    o["token_movers_1d"] = (
        f"WITH {token_cte()}\n" + token_movers_sql(86400, k=5, min_count=2)
    )
    from pyreshaper_spark.operators.vocab import token_hapax_sql

    o["hapax_1h"] = f"WITH {token_cte()}\n" + token_hapax_sql(3600)
    o["token_ndv_1h"] = f"WITH {token_cte()}\n" + token_ndv_sql(3600)
    from pyreshaper_spark.operators.vocab import token_cms_sql

    o["tok_cms"] = f"WITH {token_cte()}\n" + token_cms_sql(depth=4, width=64)
    from pyreshaper_spark.operators.vocab import (
        bigram_pmi_sql,
        doc_rarity_sql,
        seqs_cte,
    )

    from pyreshaper_spark.operators.vocab import tok_skipgram_sql

    from pyreshaper_spark.operators.vocab import tok_collocations_sql

    o["tok_colloc_w3"] = (
        f"WITH {seqs_cte(_V)},"
        + tok_collocations_sql(3, min_pair=3, min_lift_ppm=2_000_000)
    )
    o["tok_skipgram_w3"] = (
        f"WITH {seqs_cte(_V)}," + tok_skipgram_sql(3, min_count=2)
    )
    o["tok_bigram_pmi"] = (
        f"WITH {seqs_cte(_V)}," + bigram_pmi_sql(_V, min_count=2)
    )
    o["doc_rarity"] = f"WITH {seqs_cte(_V)}," + doc_rarity_sql(2)
    from pyreshaper_spark.operators.vocab import doc_tfidf_sql

    o["doc_tfidf"] = f"WITH {seqs_cte(_V)}," + doc_tfidf_sql()
    from pyreshaper_spark.operators.vocab import vocab_remap_sql

    o["tok_remap"] = f"WITH {seqs_cte(_V)}," + vocab_remap_sql()

    from pyreshaper_spark.operators.gapfill import counter_rate_sql
    from pyreshaper_spark.operators.vocab import token_zipf_sql

    o["token_zipf"] = f"WITH {token_cte()}\n" + token_zipf_sql()
    from pyreshaper_spark.operators.vocab import token_coverage_sql

    o["tok_coverage"] = f"WITH {token_cte()},\n" + token_coverage_sql()
    from pyreshaper_spark.operators.vocab import (
        doc_ngram_repetition_sql,
        token_gini_sql,
    )

    o["token_gini_1h"] = f"WITH {token_cte()}\n" + token_gini_sql(3600)
    from pyreshaper_spark.operators.rollup import top_sources_sql
    from pyreshaper_spark.operators.vocab import (
        token_burst_sql,
        token_simpson_sql,
    )

    o["token_burst_1h"] = (
        f"WITH {token_cte()}\n"
        + token_burst_sql(3600, lift_num=3, lift_den=2, min_count=3)
    )
    o["token_simpson_1h"] = (
        f"WITH {token_cte()}\n" + token_simpson_sql(3600)
    )
    o["top_sources_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"t1h AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + top_sources_sql("t1h", k=2)
    )
    from pyreshaper_spark.operators.forecast import (
        forecast_accuracy_sql,
        snaive_backtest_sql,
    )

    o["forecast_10m"] = (
        _GAPFILL_CTES + _LOCF_CTE
        + snaive_backtest_sql("locf", 3600, value_col="sum_n_tok_locf")
    )
    o["forecast_accuracy_10m"] = (
        _GAPFILL_CTES + _LOCF_CTE
        + forecast_accuracy_sql("locf", 3600, value_col="sum_n_tok_locf")
    )
    from pyreshaper_spark.operators.forecast import conformal_interval_sql

    o["forecast_pi_10m"] = (
        f"WITH {seq_cte('base')},\n"
        f"tier AS ({_TIER_AGG.format(w=600)}),"
        + conformal_interval_sql("tier")
    )
    from pyreshaper_spark.operators.events import session_coverage_sql
    from pyreshaper_spark.operators.rollup import quota_cross_sql

    o["session_coverage_1h"] = session_coverage_sql(3600)
    o["quota_cross_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"t1h AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + quota_cross_sql("t1h", 700)
    )
    from pyreshaper_spark.operators.vocab import source_token_tvd_sql

    o["src_token_tvd"] = f"WITH {token_cte()},\n" + source_token_tvd_sql()
    o["doc_rep3"] = (
        f"WITH {seqs_cte(_V)}" + doc_ngram_repetition_sql(3, _V)
    )
    from pyreshaper_spark.operators.vocab import (
        doc_lm_score_sql,
        top_bigram_share_sql,
    )

    o["doc_lm_score"] = f"WITH {seqs_cte(_V)}," + doc_lm_score_sql(_V)
    o["doc_top2gram"] = (
        f"WITH {seqs_cte(_V)}," + top_bigram_share_sql(_V)
    )
    o["rate_resets_10m"] = (
        f"WITH {seq_cte('base')},\n"
        f"t10 AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=600)}))\n"
        + counter_rate_sql("t10")
    )
    from pyreshaper_spark.operators.correlate import autocorr_sql
    from pyreshaper_spark.operators.rollup import histogram_quantile_sql

    o["acf_10m"] = (
        _GAPFILL_CTES
        + """, locf AS (
SELECT source, bucket_s,
       CAST(last_value(sum_n_tok IGNORE NULLS) OVER (
         PARTITION BY source ORDER BY bucket_s
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS sum_n_tok_locf
FROM filled
)
"""
        + autocorr_sql("locf", (600, 1200, 3600), value_col="sum_n_tok_locf")
    )
    o["hist_q90_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"hist AS ({histogram_sql(3600, 50)})\n"
        + histogram_quantile_sql("hist", bin_w=50, q_num=9, q_den=10)
    )
    from pyreshaper_spark.operators.rollup import (
        log_hist_quantile_sql,
        log_hist_sql,
    )

    o["lhist_1h"] = f"WITH {seq_cte('base')}\n" + log_hist_sql(3600)
    o["lhist_q90_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"lhist AS ({log_hist_sql(3600)})\n"
        + log_hist_quantile_sql("lhist", q_num=9, q_den=10)
    )
    from pyreshaper_spark.operators.rollup import (
        bucket_trend_sql,
        eta_threshold_sql,
        hopping_rollup_sql,
    )

    o["hopping_1h_10m"] = (
        f"WITH {seq_cte('base')},\n"
        f"t10 AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=600)}))\n"
        + hopping_rollup_sql("t10", 3600, 600)
    )
    o["eta_threshold_1d"] = (
        f"WITH {seq_cte('base')},\n"
        f"t60 AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + eta_threshold_sql("t60", 86400, 3600, 200_000)
    )
    o["trend_1d"] = (
        f"WITH {seq_cte('base')},\n"
        f"t60 AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + bucket_trend_sql("t60", 86400, 3600)
    )
    from pyreshaper_spark.operators.rollup import theilsen_sql

    o["theilsen_1d"] = (
        f"WITH {seq_cte('base')},\n"
        f"t60 AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + theilsen_sql("t60", 86400, 3600)
    )
    from pyreshaper_spark.operators.changepoint import (
        amoc_changepoint_sql,
        mann_kendall_sql,
    )

    o["changepoint_1d"] = (
        f"WITH {seq_cte('base')},\n"
        f"t60 AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + amoc_changepoint_sql("t60", 86400, 3600)
    )
    o["mk_trend_1d"] = (
        f"WITH {seq_cte('base')},\n"
        f"t60 AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + mann_kendall_sql("t60", 86400, 3600)
    )
    from pyreshaper_spark.operators.changepoint import (
        pettitt_sql,
        seasonal_mann_kendall_sql,
    )

    o["pettitt_1d"] = (
        f"WITH {seq_cte('base')},\n"
        f"t60 AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + pettitt_sql("t60", 86400, 3600)
    )
    o["smk_trend"] = (
        f"WITH {seq_cte('base')},\n"
        f"t60 AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=3600)}))\n"
        + seasonal_mann_kendall_sql("t60", 86400, 3600)
    )
    o["src_corr_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"tier AS ({_TIER_AGG.format(w=3600)})\n"
        + corr_moments_sql("tier")
    )
    o["src_corr_1h_lag1"] = (
        f"WITH {seq_cte('base')},\n"
        f"tier AS ({_TIER_AGG.format(w=3600)})\n"
        + corr_moments_sql("tier", lag_s=3600)
    )
    from pyreshaper_spark.operators.correlate import spearman_moments_sql

    o["src_spearman_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"tier AS ({_TIER_AGG.format(w=3600)})\n"
        + spearman_moments_sql("tier")
    )
    from pyreshaper_spark.operators.correlate import kendall_counts_sql

    o["src_kendall_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"tier AS ({_TIER_AGG.format(w=3600)})\n"
        + kendall_counts_sql("tier")
    )
    o["src_kendall_1h_capped"] = (
        f"WITH {seq_cte('base')},\n"
        f"tier AS ({_TIER_AGG.format(w=3600)})\n"
        + kendall_counts_sql("tier", max_buckets=8)
    )
    from pyreshaper_spark.operators.correlate import ccf_sql

    o["src_ccf_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"tier AS ({_TIER_AGG.format(w=3600)})\n"
        + ccf_sql("tier", 3, 3600)
    )
    from pyreshaper_spark.operators.rollup import hod_band_sql

    o["hod_band_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"tier AS ({_TIER_AGG.format(w=3600)})\n"
        + hod_band_sql("tier")
    )
    from pyreshaper_spark.operators.rollup import hod_anomaly_sql

    o["hod_anomaly_1h"] = (
        f"WITH {seq_cte('base')},\n"
        f"tier AS ({_TIER_AGG.format(w=3600)})\n"
        + hod_anomaly_sql("tier")
    )

    from pyreshaper_spark.operators.gapfill import rolling_agg_sql

    o["rolling_10m_6"] = (
        f"WITH {seq_cte('base')},\n"
        f"tier AS (SELECT source, bucket_s, sum_n_tok "
        f"FROM ({_TIER_AGG.format(w=600)}))\n"
        + rolling_agg_sql("tier", k=6)
    )
    # Driver-hashable output faces, mirroring queries() exactly:
    # DuckDB's `SELECT * REPLACE` rewrites the named columns in place
    # (same names, same positions) so both engines ship identical
    # int64 / md5-string outputs.
    for name, cols in _FACE_BIGINT.items():
        o[name] = _bigintify_sql(o[name], *cols)
    for name, cols in _FACE_MD5ARR.items():
        rep = ", ".join(
            f"{_md5_arr_sql(c)} AS {c}" for c in cols
        )
        o[name] = f"SELECT * REPLACE ({rep}) FROM (\n{o[name]}\n) _t"
    return o
