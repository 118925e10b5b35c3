"""Continuous aggregates: tier-0 rollup + exact cascading re-aggregation.

Reference analog: the slice→series conversion writes one time-series
output per variable [U: reshaper.py :: Slice2SeriesReshaper.convert];
here each retention tier is a (source × bucket) continuous aggregate
and tier *k+1* is computed FROM tier *k* (never from raw) so the
cascade is one cheap re-aggregation per tier — the shuffle that matters
happens exactly once, at tier 0.

Exactness: ``n_tok`` is integral; sums are ``long``; count/sum/min/max
compose associatively across tiers (``sum_n_tok = sum(sum_n_tok)``,
``cnt = sum(cnt)``, ``min = min(min)``, ``max = max(max)``) — no float
drift, verified bucket-for-bucket against the DuckDB oracle.

Scale notes (100 TB design point):

* Tier 0 projects ``(source, bucket_s, n_tok)`` BEFORE aggregating —
  the wide ``tokens`` array must never enter this shuffle. Catalyst
  column pruning pushes the 3-column ReadSchema into the parquet scan.
* Spark performs partial (map-side) + final hash aggregation
  automatically; with ~sources × minutes grouping keys the partial agg
  collapses each input partition to a few thousand rows before the
  exchange, so shuffle volume is O(groups), not O(rows).
* Tier k+1 input is already tiny (tier-k output); AQE coalesces its
  shuffle partitions at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Aggregate column names shared by every tier (and by the oracle SQL).
AGG_COLS = ("cnt", "sum_n_tok", "min_n_tok", "max_n_tok")


def floor_to(col: F.Column, width: int) -> F.Column:
    """Width-aligned FLOOR in pure int64 arithmetic:
    ``col − pmod(col, width)``.

    Two hazards this avoids vs the obvious ``(col / width).cast("long")
    * width``: (a) ``/`` is double division, inexact past 2^53 — the
    int64 timestamp domain is wider; (b) the truncating cast (and
    ``div``) round toward ZERO, but time-bucketing semantics FLOOR
    (``date_trunc`` of a pre-epoch instant goes back in time, not
    forward), so negative timestamps would land one bucket high.
    ``pmod`` is non-negative, making the subtraction an exact floor
    over the full int64 range. The DuckDB oracle twin is
    :func:`floor_sql` — DuckDB's integer ``//`` and ``%`` truncate
    toward zero (measured: ``(-7)//2 = -3``), so the oracle spells the
    same pmod subtraction explicitly instead of using ``//``. The
    driver-side twin for Python ints is :func:`floor_py`.
    """
    c = col.cast("long")
    return c - F.pmod(c, F.lit(width))


def floor_sql(expr: str, width: int) -> str:
    """DuckDB twin of :func:`floor_to`: width-aligned floor of an
    integer SQL expression, exact over the full int64 domain.

    DuckDB's ``//`` truncates toward zero on integers (unlike Python),
    so ``(x // w) * w`` is one bucket high for negative ``x``; this
    spells the pmod subtraction explicitly (``%`` is the truncated
    remainder in DuckDB, so ``((x % w) + w) % w`` is the non-negative
    remainder).
    """
    if not isinstance(width, int) or width <= 0:
        raise ValueError(f"width must be a positive int, got {width!r}")
    return f"(({expr}) - (((({expr}) % {width}) + {width}) % {width}))"


def floor_py(x: int, width: int) -> int:
    """Driver-side twin of :func:`floor_to` for Python ints (the
    delete's victim buckets): Python's ``%`` is already the
    non-negative remainder for a positive width, so ``x - x % w`` is
    the same exact floor over the full int64 range."""
    return x - x % width


def bucket_col(width_s: int, src: str = "event_s") -> F.Column:
    """Integer time bucket: floor(event_s / width) * width.

    Integer epoch-second arithmetic (≡ ``date_trunc`` in UTC for the
    standard tiers) keeps buckets exact and engine-portable; see
    :func:`floor_to` for why this is not a ``/``-then-cast.
    """
    return floor_to(F.col(src), width_s).alias("bucket_s")


def rollup_tier0(seq: DataFrame, width_s: int) -> DataFrame:
    """Tier-0 continuous aggregate from the raw sequences table.

    Input must carry ``event_s`` (see operators.event_time). Output:
    (source, bucket_s, cnt, sum_n_tok, min_n_tok, max_n_tok).
    """
    return (
        seq.select("source", bucket_col(width_s), "n_tok")
        .groupBy("source", "bucket_s")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("n_tok").alias("sum_n_tok"),
            F.min("n_tok").alias("min_n_tok"),
            F.max("n_tok").alias("max_n_tok"),
        )
    )


def head_aggregate(seq: DataFrame, width_s: int) -> DataFrame:
    """Fused pipeline head: ONE raw scan feeds tier 0, validation, and
    per-source metadata.

    The pipeline's first three steps each need a full pass over the
    input (validation counters, per-source metadata, tier-0 rollup) —
    three scans of a 10^12-row table where one suffices, and at scale
    the scan IS the cost. This aggregate carries, per (source,
    bucket_s): the four tier-0 columns, the null/negative contract
    violation count, and min/max ``event_s`` — so

    * validation  = ``sum(bad_rows)``          (re-agg of this output),
    * meta_source = group by ``source``        (re-agg of this output),
    * tier 0      = project the tier columns   (identity),

    all from one cached O(buckets)-row table. The doc_id uniqueness
    check is NOT foldable into a grouped aggregate (per-group distinct
    counts don't compose to a global distinct) — the pipeline runs it
    as a concurrent doc_id-only scan instead (validate.check_doc_ids).

    ReadSchema stays ``(source, n_tok, event_s)`` — identical to the
    plain tier-0 scan; the bad-row condition deliberately checks only
    columns this scan already reads (doc_id nulls belong to
    check_doc_ids, which reads doc_id anyway).
    """
    bad = (
        F.col("source").isNull()
        | F.col("n_tok").isNull()
        | (F.col("n_tok") < 0)
    ).cast("long")
    return (
        seq.select(
            "source", bucket_col(width_s), "n_tok", "event_s",
            bad.alias("bad"),
        )
        .groupBy("source", "bucket_s")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("n_tok").alias("sum_n_tok"),
            F.min("n_tok").alias("min_n_tok"),
            F.max("n_tok").alias("max_n_tok"),
            F.sum("bad").alias("bad_rows"),
            F.min("event_s").alias("min_event_s"),
            F.max("event_s").alias("max_event_s"),
        )
    )


def meta_from_head(head: DataFrame) -> DataFrame:
    """Per-source metadata derived from :func:`head_aggregate` output —
    exact: ``sum(cnt) ≡ count(*)``, ``sum(sum_n_tok) ≡ sum(n_tok)``,
    ``min(min_event_s) ≡ min(event_s)`` by associativity."""
    return head.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.sum("sum_n_tok").alias("total_tok"),
        F.min("min_event_s").alias("first_event_s"),
        F.max("max_event_s").alias("last_event_s"),
    )


def rollup_cascade(prev_tier: DataFrame, width_s: int) -> DataFrame:
    """Tier k+1 from tier k — exact re-aggregation, no raw-data rescan."""
    return (
        prev_tier.select(
            "source",
            floor_to(F.col("bucket_s"), width_s).alias("bucket_s"),
            *AGG_COLS,
        )
        .groupBy("source", "bucket_s")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_n_tok").alias("sum_n_tok"),
            F.min("min_n_tok").alias("min_n_tok"),
            F.max("max_n_tok").alias("max_n_tok"),
        )
    )


def rollup_diff(tier_a: DataFrame, tier_b: DataFrame) -> DataFrame:
    """Release-to-release rollup diff: which (source, bucket) cells
    changed between two corpus releases (two snapshots of the same
    tier), and by how much — the audit view behind "what did this
    curation run / deletion / restatement actually do to the
    aggregates". Emits ONLY changed cells: a_cnt/b_cnt (0 where the
    cell is absent on one side), and the deltas b − a.

    A cell counts as changed when ANY of cnt/sum/min/max differ —
    a restate that swaps values between docs in one cell preserves cnt
    and sum but moves min/max, and an audit must not miss it
    (``minmax_changed`` flags that case; min/max have no meaningful
    delta, so only the flag ships).

    Scale shape: one full-outer equi-join of two TIER-sized tables on
    (source, bucket_s) — never raw data; AQE handles relative sizing.
    Output is bounded by the touched cells, which for a targeted
    delete/restate is the victim buckets only.
    """
    keys = ["source", "bucket_s"]
    a = tier_a.select(
        *keys,
        F.col("cnt").cast("long").alias("a_cnt"),
        F.col("sum_n_tok").cast("long").alias("a_sum"),
        F.col("min_n_tok").cast("long").alias("a_min"),
        F.col("max_n_tok").cast("long").alias("a_max"),
    )
    b = tier_b.select(
        *keys,
        F.col("cnt").cast("long").alias("b_cnt"),
        F.col("sum_n_tok").cast("long").alias("b_sum"),
        F.col("min_n_tok").cast("long").alias("b_min"),
        F.col("max_n_tok").cast("long").alias("b_max"),
    )
    z = F.lit(0).cast("long")
    j = a.join(b, keys, "full_outer").select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.coalesce("a_cnt", z).alias("a_cnt"),
        F.coalesce("b_cnt", z).alias("b_cnt"),
        F.coalesce("a_sum", z).alias("a_sum"),
        F.coalesce("b_sum", z).alias("b_sum"),
        # null-safe: an absent side differs from any present min/max
        (
            ~F.col("a_min").eqNullSafe(F.col("b_min"))
            | ~F.col("a_max").eqNullSafe(F.col("b_max"))
        ).alias("minmax_changed"),
    )
    return j.filter(
        (F.col("a_cnt") != F.col("b_cnt"))
        | (F.col("a_sum") != F.col("b_sum"))
        | F.col("minmax_changed")
    ).select(
        "source",
        "bucket_s",
        "a_cnt",
        "b_cnt",
        (F.col("b_cnt") - F.col("a_cnt")).alias("d_cnt"),
        (F.col("b_sum") - F.col("a_sum")).alias("d_sum"),
        "minmax_changed",
    )


def apply_retention_policy(
    tier: DataFrame,
    width_s: int,
    policy: dict[str, int],
    default_buckets: int | None = None,
) -> DataFrame:
    """Per-source retention DEPTH: each source keeps the newest N
    buckets measured from the TABLE-WIDE high-water mark (the
    ``max(bucket_s)`` over all sources — TimescaleDB's
    ``drop_after``-relative-to-now semantics, with the table's newest
    bucket standing in for "now"), not from the source's own newest
    bucket — so a source that stopped emitting ages out once the rest
    of the table moves past its window, exactly like wall-clock TTL
    retention would. The multi-tenant generalization of
    :func:`apply_retention`'s single global TTL (hot/debug sources kept
    short, contractual sources kept long). ``default_buckets=None``
    keeps unlisted sources forever.

    Scale shape: the policy is an O(|sources|)-entry literal map
    compiled into the filter predicate (no join at all — the CASE
    folds into the scan-side filter alongside the broadcast scalar
    high-water mark, so partition pruning on bucket ranges still
    applies per the most-generous policy).
    """
    hw = tier.agg(F.max("bucket_s").alias("hw"))
    keep = F.lit(None).cast("long")
    for src, n in sorted(policy.items()):
        keep = F.when(F.col("source") == src, F.lit(int(n))).otherwise(keep)
    if default_buckets is not None:
        keep = F.coalesce(keep, F.lit(int(default_buckets)))
    return (
        tier.crossJoin(F.broadcast(hw))
        .filter(
            keep.isNull()
            | (F.col("bucket_s") > F.col("hw") - keep * F.lit(width_s))
        )
        .drop("hw")
    )


def retention_policy_sql(
    tier_rel: str,
    width_s: int,
    policy: dict[str, int],
    default_buckets: int | None = None,
) -> str:
    """DuckDB twin of :func:`apply_retention_policy`."""
    whens = "".join(
        f" WHEN '{s}' THEN {int(n)}" for s, n in sorted(policy.items())
    )
    dflt = "NULL" if default_buckets is None else str(int(default_buckets))
    return f"""
SELECT t.* FROM {tier_rel} t,
     (SELECT max(bucket_s) AS hw FROM {tier_rel}) h
WHERE (CASE t.source{whens} ELSE {dflt} END) IS NULL
   OR t.bucket_s > h.hw
        - {width_s} * (CASE t.source{whens} ELSE {dflt} END)
"""


def rollup_diff_sql(tier_a_rel: str, tier_b_rel: str) -> str:
    """DuckDB twin of :func:`rollup_diff` over two tier CTE names."""
    return f"""
SELECT coalesce(a.source, b.source) AS source,
       CAST(coalesce(a.bucket_s, b.bucket_s) AS BIGINT) AS bucket_s,
       CAST(coalesce(a.cnt, 0) AS BIGINT) AS a_cnt,
       CAST(coalesce(b.cnt, 0) AS BIGINT) AS b_cnt,
       CAST(coalesce(b.cnt, 0) - coalesce(a.cnt, 0) AS BIGINT) AS d_cnt,
       CAST(coalesce(b.sum_n_tok, 0) - coalesce(a.sum_n_tok, 0)
            AS BIGINT) AS d_sum,
       (a.min_n_tok IS DISTINCT FROM b.min_n_tok
        OR a.max_n_tok IS DISTINCT FROM b.max_n_tok) AS minmax_changed
FROM {tier_a_rel} a
FULL OUTER JOIN {tier_b_rel} b
  ON a.source = b.source AND a.bucket_s = b.bucket_s
WHERE coalesce(a.cnt, 0) != coalesce(b.cnt, 0)
   OR coalesce(a.sum_n_tok, 0) != coalesce(b.sum_n_tok, 0)
   OR a.min_n_tok IS DISTINCT FROM b.min_n_tok
   OR a.max_n_tok IS DISTINCT FROM b.max_n_tok
"""


def apply_retention(
    tier: DataFrame, width_s: int, keep_buckets: int
) -> DataFrame:
    """Retention policy: keep only the newest ``keep_buckets`` buckets
    (TimescaleDB-style drop-by-age, against the table's high-water mark
    so reruns on frozen data are deterministic).

    The threshold is one scalar aggregate broadcast into a filter —
    at scale this prunes tier partitions at planning time when the
    table is partitioned by bucket range.
    """
    hw = tier.agg(F.max("bucket_s").alias("hw"))
    return (
        tier.crossJoin(F.broadcast(hw))
        .filter(
            F.col("bucket_s") > F.col("hw") - F.lit(keep_buckets * width_s)
        )
        .drop("hw")
    )


def pick_tier(widths: list[int], requested_s: int) -> int:
    """Tier routing: the coarsest materialized tier whose width divides
    the requested bucket width.

    Reading that tier and re-aggregating (:func:`rollup_cascade`) is
    exact by associativity and touches the fewest rows — the
    dashboard-query planner's tier selection (a 45-minute chart reads
    the 1m tier only if no 5m/15m tier exists). Raises if no tier
    divides the request: silently falling back to raw would turn a
    O(buckets) read into a 10^12-row scan.
    """
    fits = [w for w in widths if w <= requested_s and requested_s % w == 0]
    if not fits:
        raise ValueError(
            f"no materialized tier divides requested width {requested_s}s "
            f"(tiers: {sorted(widths)}); aggregate from raw explicitly"
        )
    return max(fits)


def realtime_merge(
    materialized: DataFrame, tail: DataFrame, width_s: int
) -> DataFrame:
    """Real-time continuous aggregate: committed tier rows ∪ a tier-0
    aggregate of the not-yet-materialized raw tail.

    The TimescaleDB real-time-aggregate shape: queries see fresh data
    without waiting for the next materialization cycle. Exact by
    associativity — the bucket straddling the materialization
    high-water mark carries partial aggregates from BOTH legs and the
    merge re-combines them; the result is bit-identical to a
    from-scratch rollup of (materialized's input ∪ tail).

    Scale shape: ``materialized`` is O(buckets); the tail aggregate is
    a partial+final hash agg over only the new rows; the merge is one
    re-aggregation of their union. Per query cost O(new data) +
    O(buckets), never a raw-history rescan.

    ``sql.read_rollup(realtime=True)`` does not union: it stages the
    tail aggregate once per pending set and scans it with the tier.
    This union form serves the ``realtime_1h`` query face.
    """
    cols = ["source", "bucket_s", *AGG_COLS]
    fresh = rollup_tier0(tail, width_s)
    return rollup_cascade(
        materialized.select(*cols).unionByName(fresh.select(*cols)),
        width_s,
    )


def bucket_percentiles(seq: DataFrame, width_s: int) -> DataFrame:
    """Exact p25/p50/p75 of ``n_tok`` per (source, bucket) — the
    latency-style distribution rollup monitoring stacks keep next to
    count/sum/min/max.

    Exactness across engines: Spark ``percentile`` and DuckDB
    ``quantile_cont`` both linearly interpolate at pos=(n−1)·q; with
    q ∈ {.25, .5, .75} the fraction and the integer endpoints are all
    exactly representable doubles, so results are bit-identical.

    Scale note: exact percentile buffers each group's values
    (O(bucket rows) executor memory) — fine at tier granularity where a
    bucket holds minutes of one source. For percentiles over huge
    groups the production path is ``approx_percentile`` (t-digest,
    mergeable map-side), which is deliberately NOT oracle-checked.
    """
    return (
        seq.select("source", bucket_col(width_s), "n_tok")
        .groupBy("source", "bucket_s")
        .agg(
            F.count("*").alias("cnt"),
            F.expr("percentile(n_tok, 0.25)").alias("p25_n_tok"),
            F.expr("percentile(n_tok, 0.5)").alias("p50_n_tok"),
            F.expr("percentile(n_tok, 0.75)").alias("p75_n_tok"),
        )
    )


def bucket_percentiles_approx(
    seq: DataFrame, width_s: int, accuracy: int = 10000
) -> DataFrame:
    """Production-scale percentile rollup: ``approx_percentile``
    (t-digest-style sketch — mergeable map-side, O(accuracy) state per
    group instead of O(rows)). The exact variant above is the oracle;
    this is what a 10^12-row deployment runs on huge buckets. No SQL
    oracle (sketch results are engine-specific); correctness is bounded
    against the exact op in pytest."""
    return (
        seq.select("source", bucket_col(width_s), "n_tok")
        .groupBy("source", "bucket_s")
        .agg(
            F.count("*").alias("cnt"),
            F.expr(
                f"approx_percentile(n_tok, array(0.25, 0.5, 0.75), {accuracy})"
            ).alias("pcts"),
        )
        .select(
            "source", "bucket_s", "cnt",
            F.col("pcts")[0].alias("p25_n_tok"),
            F.col("pcts")[1].alias("p50_n_tok"),
            F.col("pcts")[2].alias("p75_n_tok"),
        )
    )


def bucket_percentiles_sql(width_s: int) -> str:
    """DuckDB twin of :func:`bucket_percentiles` (over the `sequences`
    CTE the tier oracles already build)."""
    return f"""
SELECT source,
       {floor_sql('event_s', width_s)} AS bucket_s,
       count(*)                           AS cnt,
       quantile_cont(n_tok, 0.25)         AS p25_n_tok,
       quantile_cont(n_tok, 0.5)          AS p50_n_tok,
       quantile_cont(n_tok, 0.75)         AS p75_n_tok
FROM sequences
GROUP BY 1, 2
"""


def rollup_all_tiers(seq: DataFrame, widths: list[int]) -> dict[int, DataFrame]:
    """Full cascade: widths must be strictly increasing and divide evenly.

    Returns {width_s: tier DataFrame}. Only the first tier touches the
    raw table; each subsequent tier re-aggregates its predecessor.
    """
    tiers: dict[int, DataFrame] = {}
    prev: DataFrame | None = None
    for w in widths:
        prev = rollup_tier0(seq, w) if prev is None else rollup_cascade(prev, w)
        tiers[w] = prev
    return tiers

# --------------------------------------------------------------------------
# OHLC (open/high/low/close) rollup — candlestick-style continuous aggregate
# --------------------------------------------------------------------------

#: Packing base for (event_s, n_tok) → one BIGINT order key. n_tok is a
#: non-negative int32 (< 2^31) and event_s ≤ EPOCH0 + HORIZON_S ≈ 1.7e9,
#: so event_s * 2^31 + n_tok < 2^62 — no int64 overflow, and the packed
#: key orders lexicographically by (event_s, n_tok). The n_tok tiebreak
#: makes open/close DETERMINISTIC when several rows share a timestamp
#: (min_by/arg_max break such ties arbitrarily — and differently across
#: engines — so they cannot be oracle-compared).
OHLC_PACK = 1 << 31


def rollup_ohlc(seq: DataFrame, width_s: int) -> DataFrame:
    """Tier-0 OHLC aggregate: first/last/min/max of ``n_tok`` per
    (source, bucket) — the gauge-semantics companion to
    :func:`rollup_tier0` (which is counter-semantics count/sum/min/max).

    Storage keeps packed ``o_key``/``c_key`` (not unpacked open/close)
    because min/max over the packed key is what makes the cascade exact:
    ``open(coarse) = unpack(min(o_key over fine buckets))`` — plain
    associative min/max, so tier k+1 never rescans raw data and Spark
    runs partial+final hash aggregation with O(groups) shuffle volume.
    Use :func:`ohlc_finish` to project user-facing columns.
    """
    packed = (F.col("event_s") * OHLC_PACK + F.col("n_tok")).cast("long")
    return (
        seq.select("source", bucket_col(width_s), packed.alias("pk"), "n_tok")
        .groupBy("source", "bucket_s")
        .agg(
            F.min("pk").alias("o_key"),
            F.max("pk").alias("c_key"),
            F.min("n_tok").alias("lo"),
            F.max("n_tok").alias("hi"),
        )
    )


def ohlc_cascade(prev: DataFrame, width_s: int) -> DataFrame:
    """OHLC tier k+1 from tier k — exact: earliest fine-bucket open IS
    the coarse open (packed keys order by time first)."""
    return (
        prev.select(
            "source",
            floor_to(F.col("bucket_s"), width_s).alias(
                "bucket_s"
            ),
            "o_key", "c_key", "lo", "hi",
        )
        .groupBy("source", "bucket_s")
        .agg(
            F.min("o_key").alias("o_key"),
            F.max("c_key").alias("c_key"),
            F.min("lo").alias("lo"),
            F.max("hi").alias("hi"),
        )
    )


def ohlc_finish(tier: DataFrame) -> DataFrame:
    """Unpack the stored keys into user-facing OHLC columns."""
    o, c = F.col("o_key"), F.col("c_key")
    return tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        # shiftright, NOT `/`: float division of a packed key near
        # 2^53 can round the seconds component up by one
        F.shiftright(o, 31).alias("open_s"),
        (o % OHLC_PACK).cast("long").alias("open_n_tok"),
        F.shiftright(c, 31).alias("close_s"),
        (c % OHLC_PACK).cast("long").alias("close_n_tok"),
        F.col("lo").cast("long").alias("min_n_tok"),
        F.col("hi").cast("long").alias("max_n_tok"),
    )


def ohlc_sql(width_s: int) -> str:
    """DuckDB twin of ``ohlc_finish(rollup_ohlc(seq, width_s))`` —
    computed DIRECTLY from raw rows, so comparing it against a Spark
    side that cascades through finer tiers proves cascade exactness."""
    p = OHLC_PACK
    return f"""
SELECT source,
       {floor_sql('event_s', width_s)}                    AS bucket_s,
       min(event_s * {p} + n_tok) // {p}                     AS open_s,
       min(event_s * {p} + n_tok) % {p}                      AS open_n_tok,
       max(event_s * {p} + n_tok) // {p}                     AS close_s,
       max(event_s * {p} + n_tok) % {p}                      AS close_n_tok,
       CAST(min(n_tok) AS BIGINT)                            AS min_n_tok,
       CAST(max(n_tok) AS BIGINT)                            AS max_n_tok
FROM sequences
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Histogram rollup — n_tok distribution over time (heatmap support)
# --------------------------------------------------------------------------

def bucket_histogram(seq: DataFrame, width_s: int, bin_w: int) -> DataFrame:
    """Fixed-width histogram of ``n_tok`` per (source, time bucket):
    one row per (source, bucket_s, bin_lo) with the row count falling in
    ``[bin_lo, bin_lo + bin_w)``. The distribution-over-time rollup
    behind latency heatmaps — exact integers, trivially mergeable.

    Scale: group count is O(sources × buckets × occupied bins); the
    partial aggregate collapses input partitions before the exchange
    exactly like :func:`rollup_tier0`.
    """
    return (
        seq.select(
            "source",
            bucket_col(width_s),
            floor_to(F.col("n_tok"), bin_w).alias("bin_lo"),
        )
        .groupBy("source", "bucket_s", "bin_lo")
        .agg(F.count("*").alias("cnt"))
    )


def histogram_cascade(
    prev: DataFrame, width_s: int, bin_w: int
) -> DataFrame:
    """Coarser histogram tier from a finer one: re-bucket time AND
    re-bin values (the fine ``bin_w`` must divide the coarse one —
    floor(floor(x/a)*a / b)*b == floor(x/b)*b when a | b), then sum
    counts. Exact; never rescans raw data."""
    return (
        prev.select(
            "source",
            floor_to(F.col("bucket_s"), width_s).alias(
                "bucket_s"
            ),
            floor_to(F.col("bin_lo"), bin_w).alias("bin_lo"),
            "cnt",
        )
        .groupBy("source", "bucket_s", "bin_lo")
        .agg(F.sum("cnt").alias("cnt"))
    )


def histogram_sql(width_s: int, bin_w: int) -> str:
    """DuckDB twin of :func:`bucket_histogram`, direct from raw rows."""
    return f"""
SELECT source,
       {floor_sql('event_s', width_s)} AS bucket_s,
       {floor_sql('n_tok', bin_w)}       AS bin_lo,
       count(*)                           AS cnt
FROM sequences
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# Distinct-cardinality rollup (exact + HLL sketch production path)
# --------------------------------------------------------------------------

def bucket_ndv(seq: DataFrame, width_s: int) -> DataFrame:
    """Exact distinct count of ``n_tok`` values per (source, bucket) —
    the cardinality rollup (how many distinct sequence lengths arrived
    this hour). Exact ``count(DISTINCT …)`` is a two-phase aggregate in
    Spark (partial distinct per partition, then merge) — fine at tier
    granularity; for huge buckets use :func:`bucket_ndv_approx`."""
    return (
        seq.select("source", bucket_col(width_s), "n_tok")
        .groupBy("source", "bucket_s")
        .agg(
            F.count("*").alias("cnt"),
            F.countDistinct("n_tok").alias("ndv_n_tok"),
        )
    )


def bucket_ndv_approx(
    seq: DataFrame, width_s: int, rsd: float = 0.02
) -> DataFrame:
    """Production-scale cardinality: ``approx_count_distinct``
    (HyperLogLog++ — O(1/rsd²) state per group, mergeable map-side;
    exact distinct shuffles every distinct value). Engine-specific
    results → no SQL oracle; error is bounded against the exact op in
    pytest."""
    return (
        seq.select("source", bucket_col(width_s), "n_tok")
        .groupBy("source", "bucket_s")
        .agg(
            F.count("*").alias("cnt"),
            F.approx_count_distinct("n_tok", rsd).alias("ndv_n_tok"),
        )
    )


def ndv_sql(width_s: int) -> str:
    """DuckDB twin of :func:`bucket_ndv`."""
    return f"""
SELECT source,
       {floor_sql('event_s', width_s)} AS bucket_s,
       count(*)                           AS cnt,
       count(DISTINCT n_tok)              AS ndv_n_tok
FROM sequences
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Mergeable HLL sketch cascade — NDV rollup that NEVER rescans raw data
# --------------------------------------------------------------------------
# bucket_ndv_approx above re-aggregates from raw for each tier width; at
# 10^12 rows the production shape is the one below: build a Datasketches
# HLL sketch column once at tier 0 (hll_sketch_agg), then UNION sketches
# up the cascade (hll_union_agg) — set union is what HLL registers merge
# exactly, so the cascaded estimate is IDENTICAL to sketching the coarse
# bucket directly (asserted in pytest), at O(2^lg_k) bytes per group and
# zero raw-data rescans. Estimates are engine-specific → rows-only
# driver check; error bounds vs exact NDV asserted in pytest.

def ndv_sketch_tier0(seq: DataFrame, width_s: int, lg_k: int = 12) -> DataFrame:
    """Tier-0 cardinality sketch: one HLL sketch of ``n_tok`` per
    (source, bucket), carried as a binary column alongside the count."""
    return (
        seq.select("source", bucket_col(width_s), "n_tok")
        .groupBy("source", "bucket_s")
        .agg(
            F.count("*").alias("cnt"),
            F.hll_sketch_agg("n_tok", F.lit(lg_k)).alias("ndv_sk"),
        )
    )


def ndv_sketch_cascade(prev: DataFrame, width_s: int) -> DataFrame:
    """Sketch tier k+1 from tier k: union the fine-bucket sketches —
    exact register merge, no raw rescan, same O(groups) shuffle shape
    as :func:`rollup_cascade`."""
    return (
        prev.select(
            "source",
            floor_to(F.col("bucket_s"), width_s).alias(
                "bucket_s"
            ),
            "cnt", "ndv_sk",
        )
        .groupBy("source", "bucket_s")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.hll_union_agg("ndv_sk").alias("ndv_sk"),
        )
    )


def ndv_sketch_finish(tier: DataFrame) -> DataFrame:
    """Project the user-facing estimate from the sketch column."""
    return tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col("cnt").cast("long").alias("cnt"),
        F.hll_sketch_estimate("ndv_sk").cast("long").alias("ndv_n_tok"),
    )


# --------------------------------------------------------------------------
# M4 downsample — first/last/min/max POINTS (value AND timestamp) per bucket
# --------------------------------------------------------------------------
# The M4 aggregation (Jugel et al., VLDB 2014) is the standard
# error-free line-chart downsample: keeping the first, last, bottom and
# top point of every pixel-column-sized bucket reproduces the rendered
# line exactly. OHLC above keeps only the min/max VALUES; M4 also needs
# WHERE the extremes occurred, so two more packed keys order by
# (n_tok, event_s): min → (lowest value, earliest occurrence),
# max → (highest value, latest occurrence) — deterministic under ties
# and still plain associative min/max, so the cascade stays exact and
# the aggregate runs partial+final with O(groups) shuffle volume.

def rollup_m4(seq: DataFrame, width_s: int) -> DataFrame:
    """Tier-0 M4 aggregate: packed first/last/bottom/top point keys per
    (source, bucket). ``t_pack`` orders by (event_s, n_tok) — same key
    as OHLC; ``v_pack`` orders by (n_tok, event_s)."""
    t_pack = (F.col("event_s") * OHLC_PACK + F.col("n_tok")).cast("long")
    v_pack = (F.col("n_tok") * OHLC_PACK + F.col("event_s")).cast("long")
    return (
        seq.select(
            "source", bucket_col(width_s),
            t_pack.alias("tp"), v_pack.alias("vp"),
        )
        .groupBy("source", "bucket_s")
        .agg(
            F.min("tp").alias("first_key"),
            F.max("tp").alias("last_key"),
            F.min("vp").alias("bottom_key"),
            F.max("vp").alias("top_key"),
        )
    )


def m4_cascade(prev: DataFrame, width_s: int) -> DataFrame:
    """M4 tier k+1 from tier k — exact for all four corners: the packed
    keys make first/last/bottom/top plain min/max, which compose."""
    return (
        prev.select(
            "source",
            floor_to(F.col("bucket_s"), width_s).alias(
                "bucket_s"
            ),
            "first_key", "last_key", "bottom_key", "top_key",
        )
        .groupBy("source", "bucket_s")
        .agg(
            F.min("first_key").alias("first_key"),
            F.max("last_key").alias("last_key"),
            F.min("bottom_key").alias("bottom_key"),
            F.max("top_key").alias("top_key"),
        )
    )


def m4_finish(tier: DataFrame) -> DataFrame:
    """Unpack the four stored keys into the eight user-facing columns."""
    fk, lk = F.col("first_key"), F.col("last_key")
    bk, tk = F.col("bottom_key"), F.col("top_key")
    return tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        # shiftright, NOT `/`: float division of a packed key near
        # 2^53 can round the unpacked component up by one
        F.shiftright(fk, 31).alias("first_s"),
        (fk % OHLC_PACK).cast("long").alias("first_v"),
        F.shiftright(lk, 31).alias("last_s"),
        (lk % OHLC_PACK).cast("long").alias("last_v"),
        (bk % OHLC_PACK).cast("long").alias("min_s"),
        F.shiftright(bk, 31).alias("min_v"),
        (tk % OHLC_PACK).cast("long").alias("max_s"),
        F.shiftright(tk, 31).alias("max_v"),
    )


def m4_sql(width_s: int) -> str:
    """DuckDB twin of ``m4_finish(rollup_m4(seq, width_s))`` — direct
    from raw rows, so a cascading Spark side proves cascade exactness."""
    p = OHLC_PACK
    return f"""
SELECT source,
       {floor_sql('event_s', width_s)}   AS bucket_s,
       min(event_s * {p} + n_tok) // {p}    AS first_s,
       min(event_s * {p} + n_tok) % {p}     AS first_v,
       max(event_s * {p} + n_tok) // {p}    AS last_s,
       max(event_s * {p} + n_tok) % {p}     AS last_v,
       min(n_tok * {p} + event_s) % {p}     AS min_s,
       min(n_tok * {p} + event_s) // {p}    AS min_v,
       max(n_tok * {p} + event_s) % {p}     AS max_s,
       max(n_tok * {p} + event_s) // {p}    AS max_v
FROM sequences
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Cumulative totals — running sums over a tier (counter-style dashboards)
# --------------------------------------------------------------------------

def cumulative_tier(tier: DataFrame) -> DataFrame:
    """Running ``cnt``/``sum_n_tok`` totals per source over bucket time —
    the "tokens ingested to date" counter dashboards plot.

    One window over the TIER (O(sources × buckets) rows, never raw
    data): partitions are per-source so the sort is within the small
    per-source bucket list; exact integer arithmetic throughout.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("bucket_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_n_tok").cast("long").alias("sum_n_tok"),
        F.sum("cnt").over(w).cast("long").alias("cum_cnt"),
        F.sum("sum_n_tok").over(w).cast("long").alias("cum_sum_n_tok"),
    )


def quota_cross(
    tier: DataFrame, quota: int, value_col: str = "sum_n_tok"
) -> DataFrame:
    """Quota-crossing detection: the FIRST bucket at which a source's
    running ``value_col`` total reaches ``quota`` (billing caps,
    token-budget enforcement, SLA burn alerts). Sources that never
    reach the quota emit nothing.

    One per-source cumulative window over the tier (same shape as
    :func:`cumulative_tier`), filter, then a per-source top-1 window
    over the few crossing rows — both engines compute the identical
    deterministic definition.

    Output: ``(source, cross_bucket_s, cum_at_cross)``.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("bucket_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.sum(F.col(value_col).cast("long")).over(w).alias("cum_v"),
    ).filter(F.col("cum_v") >= quota)
    w1 = Window.partitionBy("source").orderBy("bucket_s")
    return (
        cum.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("bucket_s").alias("cross_bucket_s"),
            F.col("cum_v").cast("long").alias("cum_at_cross"),
        )
    )


def quota_cross_sql(
    relation: str, quota: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`quota_cross` over a named tier relation."""
    return f"""
SELECT source, bucket_s AS cross_bucket_s,
       CAST(cum_v AS BIGINT) AS cum_at_cross
FROM (
  SELECT source, bucket_s, cum_v,
         row_number() OVER (PARTITION BY source ORDER BY bucket_s) AS rn
  FROM (
    SELECT source, CAST(bucket_s AS BIGINT) AS bucket_s,
           sum(CAST({value_col} AS BIGINT)) OVER (
             PARTITION BY source ORDER BY CAST(bucket_s AS BIGINT)
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_v
    FROM {relation}
  )
  WHERE cum_v >= {quota}
)
WHERE rn = 1
"""


def cumulative_sql(relation: str) -> str:
    """DuckDB twin of :func:`cumulative_tier` over a named tier relation."""
    return f"""
SELECT source, bucket_s, cnt, sum_n_tok,
       CAST(sum(cnt) OVER w AS BIGINT)       AS cum_cnt,
       CAST(sum(sum_n_tok) OVER w AS BIGINT) AS cum_sum_n_tok
FROM {relation}
WINDOW w AS (PARTITION BY source ORDER BY bucket_s
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def bucket_trend(
    tier: DataFrame,
    coarse_s: int,
    fine_s: int,
    value_col: str = "sum_n_tok",
) -> DataFrame:
    """Within-bucket linear trend: least-squares slope of a fine tier's
    values against time inside each coarse bucket ("is this source's
    token rate ramping up or down within the hour?") — the level-drift
    complement of the distribution-drift ops in ``drift.py``.

    Exactness: the regression is carried as integer sufficient
    statistics — t is the fine-bucket index within the coarse bucket
    (0..coarse/fine−1, single digits) and v the tier value, so
    n·Σtv − Σt·Σv and n·Σt² − (Σt)² stay far inside int64 for values up
    to ~1e17. Emitted as an exact rational (slope_num, slope_den) with
    slope = num/den/fine_s per second; :func:`trend_finish` derives the
    float (pytest vs numpy, not oracle-hashed).

    Scale: input is a TIER (already O(sources × buckets)); one hash
    aggregate keyed (source, coarse bucket), no window, no join.
    """
    n_fine = coarse_s // fine_s
    # pmod, not %: the within-bucket index must stay in [0, n_fine)
    # for pre-epoch buckets too (truncated % would go negative there
    # and flip the slope sign)
    t = F.expr(f"pmod(bucket_s, {coarse_s}) div {fine_s}").alias("t")
    v = F.col(value_col).cast("long").alias("v")
    g = tier.select(
        "source",
        floor_to(F.col("bucket_s"), coarse_s).alias("bucket_s"),
        t,
        v,
    ).groupBy("source", "bucket_s").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("t") * F.col("v")).cast("long").alias("stv"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
    )
    assert n_fine >= 2  # a 1-point bucket has no slope (den = 0)
    return g.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        "n", "st", "sv", "stv", "stt",
        (F.col("n") * F.col("stv") - F.col("st") * F.col("sv"))
        .cast("long").alias("slope_num"),
        (F.col("n") * F.col("stt") - F.col("st") * F.col("st"))
        .cast("long").alias("slope_den"),
    )


def trend_finish(trend: DataFrame, fine_s: int) -> DataFrame:
    """Float slope (value units per second) from the exact rational —
    derived metric, pytest-checked against numpy.polyfit."""
    return trend.select(
        "source", "bucket_s", "n",
        F.when(
            F.col("slope_den") > 0,
            F.col("slope_num")
            / F.col("slope_den").cast("double")
            / F.lit(float(fine_s)),
        ).alias("slope_per_s"),
    )


def bucket_trend_sql(
    relation: str, coarse_s: int, fine_s: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`bucket_trend` over a named fine-tier
    relation carrying (source, bucket_s, value_col)."""
    return f"""
SELECT source, bucket_s, n, st, sv, stv, stt,
       CAST(n * stv - st * sv AS BIGINT)  AS slope_num,
       CAST(n * stt - st * st AS BIGINT)  AS slope_den
FROM (
  SELECT source,
         {floor_sql('bucket_s', coarse_s)}       AS bucket_s,
         count(*)                                    AS n,
         CAST(sum(tt) AS BIGINT)                     AS st,
         CAST(sum({value_col}) AS BIGINT)            AS sv,
         CAST(sum(tt * {value_col}) AS BIGINT)       AS stv,
         CAST(sum(tt * tt) AS BIGINT)                AS stt
  FROM (
    SELECT *,
           (bucket_s - {floor_sql('bucket_s', coarse_s)}) // {fine_s} AS tt
    FROM {relation}
  )
  GROUP BY 1, 2
)
"""


def histogram_quantile(
    hist: DataFrame, bin_w: int, q_num: int, q_den: int
) -> DataFrame:
    """PromQL ``histogram_quantile`` over the histogram rollup: per
    (source, bucket_s), the q = q_num/q_den quantile estimated from
    the bin counts with linear interpolation inside the quantile bin
    (uniform-within-bin assumption, rank = ceil-style first bin whose
    cumulative count reaches q·total). Output is EXACT integers —
    ``q_bin_lo`` plus the interpolated position as a rational
    (hq_num, hq_den):

        value = bin_lo + bin_w · (q·total − cum_before) / cnt_bin
              = hq_num / hq_den,
        hq_num = bin_lo·cnt·q_den + bin_w·(q_num·total − cum_before·q_den),
        hq_den = cnt·q_den

    so the oracle compare has no float division; consumers divide.

    Shape: one cumulative window + one total window over the SAME
    (source, bucket_s) partitioning (a single exchange), then an
    argmin aggregate picks the first qualifying bin — all inputs are
    tier-histogram rows, never raw data.
    """
    wp = Window.partitionBy("source", "bucket_s")
    w = wp.orderBy("bin_lo").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rows = hist.select(
        "source",
        "bucket_s",
        "bin_lo",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wp).alias("total"),
    ).filter(F.col("cum") * q_den >= F.col("total") * q_num)
    best = rows.groupBy("source", "bucket_s").agg(
        F.min(F.struct("bin_lo", "cnt", "cum", "total")).alias("b")
    )
    bin_lo = F.col("b.bin_lo")
    cnt = F.col("b.cnt")
    cum_before = F.col("b.cum") - cnt
    total = F.col("b.total")
    return best.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        bin_lo.cast("long").alias("q_bin_lo"),
        (
            bin_lo * cnt * q_den
            + bin_w * (total * q_num - cum_before * q_den)
        ).cast("long").alias("hq_num"),
        (cnt * q_den).cast("long").alias("hq_den"),
    )


def histogram_quantile_sql(
    relation: str, bin_w: int, q_num: int, q_den: int
) -> str:
    """DuckDB twin of :func:`histogram_quantile` over a named
    histogram relation (source, bucket_s, bin_lo, cnt)."""
    return f"""
SELECT source, bucket_s,
       CAST(bin_lo AS BIGINT) AS q_bin_lo,
       CAST(bin_lo * cnt * {q_den}
            + {bin_w} * (total * {q_num} - (cum - cnt) * {q_den})
            AS BIGINT)        AS hq_num,
       CAST(cnt * {q_den} AS BIGINT) AS hq_den
FROM (
  SELECT source, bucket_s, bin_lo, cnt, cum, total,
         row_number() OVER (PARTITION BY source, bucket_s
                            ORDER BY bin_lo) AS rn
  FROM (
    SELECT source, bucket_s, bin_lo, cnt,
           sum(cnt) OVER (PARTITION BY source, bucket_s ORDER BY bin_lo
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(cnt) OVER (PARTITION BY source, bucket_s)          AS total
    FROM {relation}
  )
  WHERE cum * {q_den} >= total * {q_num}
)
WHERE rn = 1
"""


def tier_cube(seq: DataFrame, width_s: int) -> DataFrame:
    """Multi-dimensional rollup via CUBE(source, bucket): per-cell,
    per-source-total, per-bucket-total, and grand-total rows in ONE
    aggregation — the OLAP dashboard shape ("this hour by source, with
    margins"). Catalyst plans CUBE as a single Expand + hash agg: each
    input row fans into its 4 grouping-set replicas BEFORE the
    map-side partial agg, so shuffle volume is O(4 × occupied cells),
    never 4 scans. ``gid`` is the grouping bitmask (0 = detail cell,
    1 = bucket margin, 2 = source margin, 3 = grand total) — the same
    convention in Spark ``grouping_id()`` and DuckDB
    ``GROUPING(source, bucket_s)``, so rows hash-compare even where
    margin rows hold NULL keys."""
    return (
        seq.select("source", bucket_col(width_s), "n_tok")
        .cube("source", "bucket_s")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").cast("long").alias("cnt"),
            F.sum("n_tok").cast("long").alias("sum_n_tok"),
        )
        .select(
            "source",
            F.col("bucket_s").cast("long").alias("bucket_s"),
            "gid", "cnt", "sum_n_tok",
        )
    )


def tier_cube_sql(width_s: int) -> str:
    """DuckDB twin of :func:`tier_cube` over the `sequences` CTE."""
    return f"""
SELECT source,
       bucket_s,
       CAST(GROUPING(source, bucket_s) AS BIGINT) AS gid,
       count(*)                                   AS cnt,
       CAST(sum(n_tok) AS BIGINT)                 AS sum_n_tok
FROM (SELECT source, {floor_sql('event_s', width_s)} AS bucket_s, n_tok
      FROM sequences)
GROUP BY CUBE(source, bucket_s)
"""


# --------------------------------------------------------------------------
# Distribution moments — exact power sums per bucket (skew/kurtosis inputs)
# --------------------------------------------------------------------------

def _moments_overflow_guard(mom: DataFrame) -> DataFrame:
    """Fail LOUDLY when a power sum overflows decimal(38,0). Spark's
    non-ANSI decimal sum returns NULL on overflow while the DuckDB
    oracle errors — a silent NULL s4 would be a wrong rollup. n_tok are
    non-negative integers, so x ≤ x⁴ (pointwise, x=0 or x≥1) ⇒ s4 is
    the first sum to overflow; guarding it covers s1..s3. O(buckets)
    projection, no extra shuffle."""
    s4 = F.when(
        (F.col("n") > 0) & F.col("s4").isNull(),
        F.raise_error(
            "bucket_moments: sum(n_tok^4) overflowed decimal(38,0) — "
            "the bucket's rows*max(n_tok)^4 must stay below 10^38"
        ),
    ).otherwise(F.col("s4")).alias("s4")
    return mom.select("source", "bucket_s", "n", "s1", "s2", "s3", s4)


def bucket_moments(seq: DataFrame, width_s: int) -> DataFrame:
    """Exact raw power sums of n_tok per (source, bucket): n, Σx, Σx²,
    Σx³, Σx⁴ as decimal(38,0) — the sufficient statistics for variance,
    skewness and kurtosis (float finishers are a driver-side division;
    the engine ships only exact integers, so the rollup is mergeable
    AND oracle-hashable). One partial+final hash agg, same plan shape
    as tier-0. Domain: a single x⁴ ≤ (2³¹)⁴ ≈ 2·10³⁷ fits decimal(38),
    but the SUM overflows once rows·max(x)⁴ exceeds 10³⁸ (e.g. 5+ rows
    near 2³¹) — and Spark's non-ANSI decimal sum would return NULL
    silently where the DuckDB oracle errors. :func:`_moments_overflow_guard`
    turns that into a loud raise_error, so out-of-domain data fails the
    job in both engines instead of shipping a NULL rollup."""
    x = F.col("n_tok").cast("decimal(38,0)")
    return _moments_overflow_guard(
        seq.select("source", bucket_col(width_s), "n_tok")
        .groupBy("source", "bucket_s")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(x).cast("decimal(38,0)").alias("s1"),
            F.sum(x * x).cast("decimal(38,0)").alias("s2"),
            F.sum(x * x * x).cast("decimal(38,0)").alias("s3"),
            F.sum(x * x * x * x).cast("decimal(38,0)").alias("s4"),
        )
    )


def bucket_moments_sql(width_s: int) -> str:
    """DuckDB twin of :func:`bucket_moments` over the sequences CTE."""
    x = "CAST(n_tok AS DECIMAL(38,0))"
    return f"""
SELECT source,
       {floor_sql('event_s', width_s)}              AS bucket_s,
       count(*)                                        AS n,
       CAST(sum({x}) AS DECIMAL(38,0))                 AS s1,
       CAST(sum({x} * {x}) AS DECIMAL(38,0))           AS s2,
       CAST(sum({x} * {x} * {x}) AS DECIMAL(38,0))     AS s3,
       CAST(sum({x} * {x} * {x} * {x}) AS DECIMAL(38,0)) AS s4
FROM sequences
GROUP BY 1, 2
"""


def moments_finish(mom: DataFrame) -> DataFrame:
    """Float skewness/kurtosis from the exact power sums (pytest-only —
    one projection, no shuffle)."""
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    s3 = F.col("s3").cast("double")
    s4 = F.col("s4").cast("double")
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - 3 * mean * s2 / n + 2 * mean * mean * mean
    m4 = (
        s4 / n
        - 4 * mean * s3 / n
        + 6 * mean * mean * s2 / n
        - 3 * mean * mean * mean * mean
    )
    return mom.select(
        "source", "bucket_s", "n",
        mean.alias("mean"),
        m2.alias("var"),
        F.when(m2 > 0, m3 / F.pow(F.sqrt(m2), 3)).alias("skew"),
        F.when(m2 > 0, m4 / (m2 * m2) - 3).alias("excess_kurtosis"),
    )


# --------------------------------------------------------------------------
# SLO burn — threshold-violation share per coarse bucket
# --------------------------------------------------------------------------

def slo_burn(
    tier: DataFrame,
    coarse_w: int,
    threshold: int,
    value_col: str = "sum_n_tok",
) -> DataFrame:
    """Error-budget burn per (source, coarse bucket): how many fine
    buckets violated ``value > threshold``, out of how many present —
    the SRE burn-rate primitive (violation share as the exact pair
    (n_bad, n_buckets); burn rate vs an SLO target is a driver-side
    division). One conditional hash agg over the fine tier — never a
    raw-data rescan."""
    b = floor_to(F.col("bucket_s"), coarse_w)
    bad = (F.col(value_col) > threshold).cast("long")
    return (
        tier.select("source", b.alias("cb"), bad.alias("bad"), value_col)
        .groupBy("source", F.col("cb").alias("bucket_s"))
        .agg(
            F.sum("bad").cast("long").alias("n_bad"),
            F.count("*").cast("long").alias("n_buckets"),
            F.max(value_col).cast("long").alias("worst"),
        )
    )


def slo_multiburn(
    tier: DataFrame,
    width_s: int,
    threshold: int,
    short_s: int = 6 * 3600,
    long_s: int = 24 * 3600,
    short_min: int = 4,
    long_min: int = 8,
    value_col: str = "sum_n_tok",
) -> DataFrame:
    """Multi-window burn-rate alert over a tier — the Google-SRE
    "fast AND slow window both burning" pager rule that suppresses
    one-off spikes without missing sustained burns. A bucket alerts iff
    it violates ``value > threshold`` AND the trailing ``short_s``
    window holds ≥ ``short_min`` violations AND the trailing ``long_s``
    window holds ≥ ``long_min``.

    Both trailing counts are RANGE frames on the epoch-second bucket
    key (missing buckets shrink the count — absence is not a
    violation), so the three window families share ONE (source)-keyed
    sort: a single exchange, exact integers end to end, the same plan
    at 10^12 rows.
    """
    bad = (F.col(value_col) > threshold).cast("long")
    base = tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col(value_col).cast("long").alias(value_col),
        bad.alias("bad"),
    )

    def _trail(span_s: int):
        return (
            Window.partitionBy("source")
            .orderBy("bucket_s")
            .rangeBetween(-(span_s - width_s), 0)
        )

    out = base.select(
        "source", "bucket_s", value_col, "bad",
        F.sum("bad").over(_trail(short_s)).cast("long").alias("bad_short"),
        F.sum("bad").over(_trail(long_s)).cast("long").alias("bad_long"),
    )
    return out.select(
        "source", "bucket_s", value_col, "bad", "bad_short", "bad_long",
        (
            (F.col("bad") == 1)
            & (F.col("bad_short") >= short_min)
            & (F.col("bad_long") >= long_min)
        ).alias("alert"),
    )


def slo_multiburn_sql(
    relation: str,
    width_s: int,
    threshold: int,
    short_s: int = 6 * 3600,
    long_s: int = 24 * 3600,
    short_min: int = 4,
    long_min: int = 8,
    value_col: str = "sum_n_tok",
) -> str:
    """DuckDB twin of :func:`slo_multiburn` over a named tier relation."""
    return f"""
SELECT source, bucket_s, {value_col}, bad, bad_short, bad_long,
       (bad = 1 AND bad_short >= {short_min} AND bad_long >= {long_min})
           AS alert
FROM (
  SELECT source,
         CAST(bucket_s AS BIGINT)    AS bucket_s,
         CAST({value_col} AS BIGINT) AS {value_col},
         bad,
         CAST(sum(bad) OVER (PARTITION BY source ORDER BY bucket_s
              RANGE BETWEEN {short_s - width_s} PRECEDING AND CURRENT ROW)
              AS BIGINT) AS bad_short,
         CAST(sum(bad) OVER (PARTITION BY source ORDER BY bucket_s
              RANGE BETWEEN {long_s - width_s} PRECEDING AND CURRENT ROW)
              AS BIGINT) AS bad_long
  FROM (SELECT source, bucket_s, {value_col},
               CAST({value_col} > {threshold} AS BIGINT) AS bad
        FROM {relation})
)
"""


def ltob_downsample(
    tier: DataFrame, coarse_w: int, value_col: str = "sum_n_tok"
) -> DataFrame:
    """Largest-Triangle-One-Bucket viz downsample: one representative
    point per (source, coarse bucket) — the point whose triangle with
    its immediate time-neighbors has the largest area (Steinarsson's
    LTOB; the M4 family's perceptual cousin — keeps the visually
    dominant point instead of the four extremes).

    area2 = |(x₋−x₊)(y−y₋) − (x₋−x)(y₊−y₋)| (twice the triangle area,
    exact int64 — no floats). Series edges (no neighbor) get area −1 so
    an interior point always wins; a bucket holding ONLY an edge point
    still emits it. Tie-break: earliest point. One (source)-keyed sort
    for lag/lead, one (source, coarse)-keyed top-1 window — tiny tier
    input, never raw data.
    """
    w = Window.partitionBy("source").orderBy("bucket_s")
    x = F.col("bucket_s").cast("long")
    y = F.col(value_col).cast("long")
    pts = tier.select(
        "source", x.alias("x"), y.alias("y"),
        F.lag("bucket_s").over(w).cast("long").alias("xp"),
        F.lag(value_col).over(w).cast("long").alias("yp"),
        F.lead("bucket_s").over(w).cast("long").alias("xn"),
        F.lead(value_col).over(w).cast("long").alias("yn"),
    )
    area2 = F.when(
        F.col("xp").isNotNull() & F.col("xn").isNotNull(),
        F.abs(
            (F.col("xp") - F.col("xn")) * (F.col("y") - F.col("yp"))
            - (F.col("xp") - F.col("x")) * (F.col("yn") - F.col("yp"))
        ),
    ).otherwise(F.lit(-1)).cast("long")
    scored = pts.select(
        "source",
        floor_to(F.col("x"), coarse_w).alias("bucket_s"),
        F.col("x").alias("sel_s"),
        F.col("y").alias("sel_v"),
        area2.alias("area2"),
    )
    wtop = Window.partitionBy("source", "bucket_s").orderBy(
        F.col("area2").desc(), F.col("sel_s").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def ltob_downsample_sql(
    relation: str, coarse_w: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`ltob_downsample` over a named tier relation."""
    return f"""
SELECT source, bucket_s, sel_s, sel_v, area2
FROM (
  SELECT source,
         {floor_sql('x', coarse_w)} AS bucket_s,
         x AS sel_s, y AS sel_v, area2,
         row_number() OVER (
           PARTITION BY source, {floor_sql('x', coarse_w)}
           ORDER BY area2 DESC, x ASC) AS rn
  FROM (
    SELECT source, x, y,
           CASE WHEN xp IS NOT NULL AND xn IS NOT NULL
                THEN abs((xp - xn) * (y - yp) - (xp - x) * (yn - yp))
                ELSE -1 END AS area2
    FROM (
      SELECT source,
             CAST(bucket_s AS BIGINT)    AS x,
             CAST({value_col} AS BIGINT) AS y,
             CAST(lag(bucket_s)  OVER sw AS BIGINT) AS xp,
             CAST(lag({value_col})  OVER sw AS BIGINT) AS yp,
             CAST(lead(bucket_s) OVER sw AS BIGINT) AS xn,
             CAST(lead({value_col}) OVER sw AS BIGINT) AS yn
      FROM {relation}
      WINDOW sw AS (PARTITION BY source ORDER BY bucket_s)
    )
  )
)
WHERE rn = 1
"""


def top_sources(
    tier: DataFrame, k: int, value_col: str = "sum_n_tok"
) -> DataFrame:
    """Dashboard top-N collapse: per time bucket, the ``k`` largest
    sources by ``value_col`` keep their name; everything else folds
    into one ``'(other)'`` row so the panel's series count is bounded
    regardless of source cardinality.

    Output: ``(bucket_s, label, value, n_sources)``. Deterministic
    rank tie-break (value desc, source asc). One per-bucket rank
    window over the tiny tier + one hash agg.
    """
    w = Window.partitionBy("bucket_s").orderBy(
        F.col("v").desc(), F.col("source").asc()
    )
    labeled = tier.select(
        F.col("bucket_s").cast("long").alias("bucket_s"),
        "source",
        F.col(value_col).cast("long").alias("v"),
    ).withColumn(
        "label",
        F.when(F.row_number().over(w) <= k, F.col("source")).otherwise(
            F.lit("(other)")
        ),
    )
    return labeled.groupBy("bucket_s", "label").agg(
        F.sum("v").cast("long").alias("value"),
        F.count("*").cast("long").alias("n_sources"),
    )


def top_sources_sql(
    relation: str, k: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`top_sources` over a named tier relation."""
    return f"""
SELECT CAST(bucket_s AS BIGINT) AS bucket_s, label,
       CAST(sum(v) AS BIGINT)   AS value,
       CAST(count(*) AS BIGINT) AS n_sources
FROM (
  SELECT bucket_s,
         CASE WHEN row_number() OVER (
                PARTITION BY bucket_s
                ORDER BY CAST({value_col} AS BIGINT) DESC, source ASC
              ) <= {k}
              THEN source ELSE '(other)' END AS label,
         CAST({value_col} AS BIGINT) AS v
  FROM {relation}
)
GROUP BY 1, 2
"""


def lttb_downsample(
    tier: DataFrame, coarse_w: int, value_col: str = "sum_n_tok"
) -> DataFrame:
    """Largest-Triangle-Three-Buckets viz downsample, in the
    centroid-anchored (parallel) form: one representative point per
    (source, coarse bucket) — the point maximizing the triangle area
    with the PREVIOUS bucket's centroid and the NEXT bucket's centroid.

    Steinarsson's sequential LTTB anchors the left vertex at the
    previous bucket's *selected* point, a per-series serial dependency
    that cannot parallelize: at 10^12 buckets the recurrence chain is
    the whole series. Anchoring both vertices at bucket centroids
    (Steinarsson §4.3's fixed-anchor relaxation) keeps the perceptual
    behavior — candidates compete against their neighborhood's mass,
    not a single point — and makes every bucket independent: two
    windows over the tiny centroid table + one (source, bucket)
    equi-join + one top-1 window. Both engines compute the identical
    deterministic definition, so the oracle is a full value-hash.

    Exactness: the centroid is never divided out. With prev centroid
    (sxp/np, syp/np), candidate (x, y), next centroid (sxn/nn, syn/nn),
    2·area·np²·nn = |(sxp·nn − sxn·np)(y·np − syp)
                     − (sxp − x·np)(syn·np − syp·nn)|
    and the multiplier np²·nn is constant within a bucket, so the
    argmax is unchanged — decimal(38,0) cross-multiplication, no
    floats (terms stay < 10^38 for epoch-second x and int64 y with
    fan-in ≤ ~10^6 fine buckets per coarse bucket). Edges keep LTTB's
    endpoint rule: the series' first bucket emits its earliest point,
    the last bucket its latest. Tie-break: earliest point.
    """
    D = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pts = tier.select(
        "source",
        floor_to(F.col("bucket_s").cast("long"), coarse_w).alias("cb"),
        F.col("bucket_s").cast("long").alias("x"),
        F.col(value_col).cast("long").alias("y"),
    )
    cent = pts.groupBy("source", "cb").agg(
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.count("*").alias("n"),
    )
    wc = Window.partitionBy("source").orderBy("cb")
    nb = cent.select(
        "source", "cb",
        F.lag("sx").over(wc).alias("sxp"),
        F.lag("sy").over(wc).alias("syp"),
        F.lag("n").over(wc).alias("np"),
        F.lead("sx").over(wc).alias("sxn"),
        F.lead("sy").over(wc).alias("syn"),
        F.lead("n").over(wc).alias("nn"),
    )
    j = pts.join(nb, ["source", "cb"])
    area = F.abs(
        (D(F.col("sxp")) * D(F.col("nn")) - D(F.col("sxn")) * D(F.col("np")))
        * (D(F.col("y")) * D(F.col("np")) - D(F.col("syp")))
        - (D(F.col("sxp")) - D(F.col("x")) * D(F.col("np")))
        * (D(F.col("syn")) * D(F.col("np")) - D(F.col("syp")) * D(F.col("nn")))
    )
    score = (
        F.when(F.col("np").isNull(), D(F.lit(0)))          # first: earliest
        .when(F.col("nn").isNull(), D(F.col("x")))          # last: latest
        .otherwise(area)
    )
    wtop = Window.partitionBy("source", "cb").orderBy(
        score.desc(), F.col("x").asc()
    )
    return (
        j.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("cb").alias("bucket_s"),
            F.col("x").alias("sel_s"),
            F.col("y").alias("sel_v"),
        )
    )


def lttb_downsample_sql(
    relation: str, coarse_w: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`lttb_downsample` over a named tier
    relation (HUGEINT cross-multiplication — internal only, outputs
    are BIGINT)."""
    return f"""
SELECT source, cb AS bucket_s, x AS sel_s, y AS sel_v
FROM (
  SELECT source, cb, x, y,
         row_number() OVER (
           PARTITION BY source, cb
           ORDER BY CASE
             WHEN np IS NULL THEN CAST(0 AS HUGEINT)
             WHEN nn IS NULL THEN CAST(x AS HUGEINT)
             ELSE abs(
               (CAST(sxp AS HUGEINT) * nn - CAST(sxn AS HUGEINT) * np)
               * (CAST(y AS HUGEINT) * np - syp)
               - (CAST(sxp AS HUGEINT) - CAST(x AS HUGEINT) * np)
               * (CAST(syn AS HUGEINT) * np - CAST(syp AS HUGEINT) * nn)
             ) END DESC, x ASC) AS rn
  FROM (
    SELECT p.source, p.cb, p.x, p.y,
           c.sxp, c.syp, c.np, c.sxn, c.syn, c.nn
    FROM (
      SELECT source,
             {floor_sql('CAST(bucket_s AS BIGINT)', coarse_w)} AS cb,
             CAST(bucket_s AS BIGINT)    AS x,
             CAST({value_col} AS BIGINT) AS y
      FROM {relation}
    ) p
    JOIN (
      SELECT source, cb,
             lag(sx)  OVER cw AS sxp,
             lag(sy)  OVER cw AS syp,
             lag(n)   OVER cw AS np,
             lead(sx) OVER cw AS sxn,
             lead(sy) OVER cw AS syn,
             lead(n)  OVER cw AS nn
      FROM (
        SELECT source, cb, sum(x) AS sx, sum(y) AS sy, count(*) AS n
        FROM (
          SELECT source,
                 {floor_sql('CAST(bucket_s AS BIGINT)', coarse_w)} AS cb,
                 CAST(bucket_s AS BIGINT)    AS x,
                 CAST({value_col} AS BIGINT) AS y
          FROM {relation}
        )
        GROUP BY source, cb
      )
      WINDOW cw AS (PARTITION BY source ORDER BY cb)
    ) c ON p.source = c.source AND p.cb = c.cb
  )
)
WHERE rn = 1
"""


def bucket_mode(
    seq: DataFrame, width_s: int, value_col: str = "n_tok"
) -> DataFrame:
    """Modal value per (source, bucket) — the most frequent ``n_tok``
    with a deterministic smallest-value tie-break (engine-portable,
    unlike a hash-agg ``mode()``). Two stages, both partial-agg
    friendly: occurrence counts keyed (source, bucket, value) — output
    bounded by distinct values per bucket — then a per-bucket top-1
    window over those counts."""
    counts = (
        seq.select("source", bucket_col(width_s), value_col)
        .groupBy("source", "bucket_s", value_col)
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("source", "bucket_s").orderBy(
        F.col("cnt").desc(), F.col(value_col).asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("bucket_s").cast("long").alias("bucket_s"),
            F.col(value_col).cast("long").alias("mode_val"),
            F.col("cnt").cast("long").alias("mode_cnt"),
        )
    )


def bucket_mode_sql(width_s: int, value_col: str = "n_tok") -> str:
    """DuckDB twin of :func:`bucket_mode` over the sequences CTE."""
    return f"""
SELECT source, bucket_s,
       CAST({value_col} AS BIGINT) AS mode_val,
       cnt                         AS mode_cnt
FROM (
  SELECT source, bucket_s, {value_col}, cnt,
         row_number() OVER (PARTITION BY source, bucket_s
                            ORDER BY cnt DESC, {value_col} ASC) AS rn
  FROM (SELECT source,
               {floor_sql('event_s', width_s)} AS bucket_s,
               {value_col},
               count(*) AS cnt
        FROM sequences GROUP BY 1, 2, 3)
)
WHERE rn = 1
"""


def source_share(tier: DataFrame, value_col: str = "sum_n_tok") -> DataFrame:
    """Each source's share of every bucket's total — the mixture
    dashboard face ("which sources dominate this day?"). Share ships as
    the exact integer pair (value, bucket_total) plus a deterministic
    rank (value desc, source asc); the float division is the reader's.
    One window exchange keyed on bucket_s — rows are |sources × coarse
    buckets|, tiny at any corpus size."""
    wb = Window.partitionBy("bucket_s")
    wr = Window.partitionBy("bucket_s").orderBy(
        F.col(value_col).desc(), F.col("source").asc()
    )
    return tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col(value_col).cast("long").alias(value_col),
    ).select(
        "source", "bucket_s", value_col,
        F.sum(value_col).over(wb).cast("long").alias("bucket_total"),
        F.row_number().over(wr).cast("long").alias("rank"),
    )


def source_share_sql(relation: str, value_col: str = "sum_n_tok") -> str:
    """DuckDB twin of :func:`source_share` over a named tier relation."""
    return f"""
SELECT source,
       CAST(bucket_s AS BIGINT)    AS bucket_s,
       CAST({value_col} AS BIGINT) AS {value_col},
       CAST(sum({value_col}) OVER (PARTITION BY bucket_s) AS BIGINT)
           AS bucket_total,
       CAST(row_number() OVER (PARTITION BY bucket_s
            ORDER BY {value_col} DESC, source ASC) AS BIGINT) AS rank
FROM {relation}
"""


def slo_burn_sql(
    relation: str, coarse_w: int, threshold: int,
    value_col: str = "sum_n_tok",
) -> str:
    """DuckDB twin of :func:`slo_burn` over a named fine-tier relation."""
    return f"""
SELECT source,
       CAST({floor_sql('bucket_s', coarse_w)} AS BIGINT) AS bucket_s,
       CAST(sum(CASE WHEN {value_col} > {threshold} THEN 1 ELSE 0 END)
            AS BIGINT)                                       AS n_bad,
       count(*)                                              AS n_buckets,
       CAST(max({value_col}) AS BIGINT)                      AS worst
FROM {relation}
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Time-of-day seasonality profile + robust spread (MAD) — tier analytics
# --------------------------------------------------------------------------

def hod_profile(
    tier: DataFrame,
    width_s: int,
    value_col: str = "sum_n_tok",
    day_s: int = 86400,
) -> DataFrame:
    """Time-of-day seasonality profile: fold every bucket onto its
    offset slot within the day (hour-of-day for a 1h tier) and
    aggregate the tier value across all days — "what does a normal 3pm
    look like for this source", the baseline every seasonal anomaly
    check needs.

    Exactness: the slot is ``pmod(bucket_s, day) div width`` — pmod,
    not ``%``, so slots stay in ``[0, day/width)`` for pre-epoch
    buckets (truncated ``%`` would emit negative slots there); stats
    are exact int64 count/sum/min/max.

    Scale: input is a TIER (O(sources × buckets)); one partial+final
    hash aggregate keyed (source, slot); output O(sources × slots).
    """
    if day_s % width_s != 0:
        raise ValueError(f"width {width_s} must divide the day {day_s}")
    slot = F.expr(f"pmod(bucket_s, {day_s}) div {width_s}")
    v = F.col(value_col).cast("long")
    return (
        tier.select("source", slot.alias("slot"), v.alias("v"))
        .groupBy("source", "slot")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum("v").cast("long").alias("sum_v"),
            F.min("v").cast("long").alias("min_v"),
            F.max("v").cast("long").alias("max_v"),
        )
    )


def hod_profile_sql(
    relation: str, width_s: int,
    value_col: str = "sum_n_tok", day_s: int = 86400,
) -> str:
    """DuckDB twin of :func:`hod_profile` over a named tier relation."""
    return f"""
SELECT source,
       (bucket_s - {floor_sql('bucket_s', day_s)}) // {width_s} AS slot,
       count(*)                          AS n_buckets,
       CAST(sum({value_col}) AS BIGINT)  AS sum_v,
       CAST(min({value_col}) AS BIGINT)  AS min_v,
       CAST(max({value_col}) AS BIGINT)  AS max_v
FROM {relation}
GROUP BY 1, 2
"""


def bucket_mad(
    tier: DataFrame, coarse_w: int, value_col: str = "sum_n_tok"
) -> DataFrame:
    """Median absolute deviation of a fine tier's values within each
    coarse bucket — the robust-spread complement of the z-score
    anomaly flag (one wild value corrupts mean/std; it barely moves
    median/MAD).

    Exactness (no float ever leaves the engine): medians are the two
    middle order statistics ``(lo, hi)`` of the sorted value list
    (equal for odd counts), and deviations are doubled —
    ``dev = |2·v − (med_lo + med_hi)|`` — so the midpoint median needs
    no halving; ``(mad2_lo, mad2_hi)`` are the middle order statistics
    of the deviations, i.e. 2×MAD. Consumers compare ``2·|v − med|``
    against ``k · mad2`` and never divide.

    Scale: the group is one coarse bucket's FINE BUCKETS — at most
    ``coarse_w / fine_w`` elements (144 for 10m→1d), so the
    ``collect_list`` is bounded by the tier ratio, never by raw rows;
    one hash aggregate + array ops, all codegen, no Python.
    """
    g = (
        tier.select(
            "source",
            floor_to(F.col("bucket_s"), coarse_w).alias("bucket_s"),
            F.col(value_col).cast("long").alias("v"),
        )
        .groupBy("source", "bucket_s")
        .agg(F.sort_array(F.collect_list("v")).alias("vals"))
    )
    n = F.size("vals")
    med_lo = F.element_at("vals", ((n + 1) / 2).cast("int"))
    med_hi = F.element_at("vals", (n / 2).cast("int") + F.lit(1))
    g = g.select(
        "source", "bucket_s", "vals", n.cast("long").alias("n"),
        med_lo.cast("long").alias("med_lo"),
        med_hi.cast("long").alias("med_hi"),
    ).select(
        "source", "bucket_s", "n", "med_lo", "med_hi",
        F.sort_array(
            F.expr("transform(vals, x -> abs(2*x - (med_lo + med_hi)))")
        ).alias("devs"),
    )
    # size(devs) == n, so the middle indices are reusable
    m = F.size("devs")
    return g.select(
        "source", "bucket_s", "n", "med_lo", "med_hi",
        F.element_at("devs", ((m + 1) / 2).cast("int"))
        .cast("long").alias("mad2_lo"),
        F.element_at("devs", (m / 2).cast("int") + F.lit(1))
        .cast("long").alias("mad2_hi"),
    )


def bucket_mad_sql(
    relation: str, coarse_w: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`bucket_mad` over a named fine-tier
    relation (same doubled-deviation integer discipline)."""
    return f"""
SELECT source, bucket_s, n, med_lo, med_hi,
       CAST(devs[CAST((n + 1) // 2 AS INT)] AS BIGINT)  AS mad2_lo,
       CAST(devs[CAST(n // 2 AS INT) + 1]   AS BIGINT)  AS mad2_hi
FROM (
  SELECT source, bucket_s, n, med_lo, med_hi,
         list_sort(list_transform(vals,
                   x -> abs(2*x - (med_lo + med_hi)))) AS devs
  FROM (
    SELECT source, bucket_s, CAST(len(vals) AS BIGINT) AS n,
           CAST(vals[CAST((len(vals) + 1) // 2 AS INT)] AS BIGINT) AS med_lo,
           CAST(vals[CAST(len(vals) // 2 AS INT) + 1]   AS BIGINT) AS med_hi,
           vals
    FROM (
      SELECT source,
             CAST({floor_sql('bucket_s', coarse_w)} AS BIGINT) AS bucket_s,
             list_sort(list(CAST({value_col} AS BIGINT)))      AS vals
      FROM {relation}
      GROUP BY 1, 2
    )
  )
)
"""


# -- calendar buckets (irregular widths) -------------------------------------

#: units whose boundaries a fixed-seconds cascade cannot express:
#: months/quarters/years vary in length; weeks are fixed-width but
#: non-epoch-aligned (epoch day 0 is a Thursday, weeks start Monday)
CALENDAR_UNITS = ("week", "month", "quarter", "year")


def _with_calendar_bucket(df: DataFrame, src: str, unit: str) -> DataFrame:
    """Add ``bucket_s`` = UTC epoch second of the calendar boundary
    containing ``src`` (the TimescaleDB ``time_bucket('1 month', …)``
    analog).

    Pure int64 civil-calendar arithmetic (Howard Hinnant's
    civil_from_days / days_from_civil, proleptic Gregorian) — NO
    datetime functions, so the result is independent of
    ``spark.sql.session.timeZone``. Spark's ``date_trunc`` truncates
    the SESSION-zone rendering of the instant: on a non-UTC driver
    session it returns local-calendar boundaries and silently diverges
    from the UTC oracle — the artifact class this replaces. Every
    division is integer ``div`` (floor divisions of possibly-negative
    values spelled as the pmod subtraction, the module's standard
    trick), staged through named intermediate columns so the
    expression tree stays linear; whole-stage-codegen integer ops,
    correct pre-epoch and across leap/century rules; pytest-fuzzed
    against ``datetime.date`` over ±200 years.
    """
    if unit not in CALENDAR_UNITS:
        raise ValueError(f"unit must be one of {CALENDAR_UNITS}: {unit!r}")
    tmp = [
        "_days", "_z", "_era", "_doe", "_yoe", "_doy", "_mp", "_m",
        "_y", "_ms", "_yy", "_era2", "_yoe2", "_mp2", "_doy2", "_doe2",
    ]
    d = df.withColumn(
        "_days",
        F.expr(
            f"(CAST({src} AS BIGINT) - pmod(CAST({src} AS BIGINT), 86400))"
            " div 86400"
        ),
    )
    if unit == "week":
        # Monday-start; epoch day 0 (1970-01-01) is a Thursday
        return d.withColumn(
            "bucket_s",
            F.expr("CAST((_days - pmod(_days + 3, 7)) * 86400 AS BIGINT)"),
        ).drop(*tmp)
    ms = {
        "month": "_m",
        "quarter": "((_m - 1) div 3) * 3 + 1",
        "year": "CAST(1 AS BIGINT)",
    }[unit]
    steps = [
        ("_z", "_days + 719468"),
        ("_era", "(_z - pmod(_z, 146097)) div 146097"),
        ("_doe", "_z - _era * 146097"),
        ("_yoe",
         "(_doe - _doe div 1460 + _doe div 36524 - _doe div 146096)"
         " div 365"),
        ("_doy", "_doe - (365 * _yoe + _yoe div 4 - _yoe div 100)"),
        ("_mp", "(5 * _doy + 2) div 153"),
        ("_m", "CASE WHEN _mp < 10 THEN _mp + 3 ELSE _mp - 9 END"),
        # _y is unused by the bucket start (days_from_civil re-derives
        # the shifted year) but kept for clarity of the algorithm
        ("_y", "400 * _era + _yoe + (CASE WHEN _m <= 2 THEN 1 ELSE 0 END)"),
        ("_ms", ms),
        ("_yy", "_y - (CASE WHEN _ms <= 2 THEN 1 ELSE 0 END)"),
        ("_era2", "(_yy - pmod(_yy, 400)) div 400"),
        ("_yoe2", "_yy - 400 * _era2"),
        ("_mp2", "CASE WHEN _ms > 2 THEN _ms - 3 ELSE _ms + 9 END"),
        ("_doy2", "(153 * _mp2 + 2) div 5"),
        ("_doe2", "365 * _yoe2 + _yoe2 div 4 - _yoe2 div 100 + _doy2"),
        ("bucket_s",
         "CAST((146097 * _era2 + _doe2 - 719468) * 86400 AS BIGINT)"),
    ]
    for name, expr in steps:
        d = d.withColumn(name, F.expr(expr))
    return d.drop(*tmp)


def calendar_rollup(seq: DataFrame, unit: str) -> DataFrame:
    """Calendar-bucket continuous aggregate straight from raw — same
    output shape as :func:`rollup_tier0` with calendar boundaries.
    Prefer :func:`calendar_cascade` when a day-aligned tier exists."""
    return (
        _with_calendar_bucket(
            seq.select("source", "event_s", "n_tok"), "event_s", unit
        )
        .select("source", "bucket_s", "n_tok")
        .groupBy("source", "bucket_s")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("n_tok").alias("sum_n_tok"),
            F.min("n_tok").alias("min_n_tok"),
            F.max("n_tok").alias("max_n_tok"),
        )
    )


def calendar_cascade(day_tier: DataFrame, unit: str) -> DataFrame:
    """Calendar tier from a DAY-ALIGNED tier — exact by associativity
    (every calendar boundary falls on a UTC day boundary), so months/
    quarters/years re-aggregate the tiny 1d tier and never rescan raw.
    This is the scale path: the cascade invariant ("tier k+1 from tier
    k") extends to irregular widths as long as boundaries nest."""
    return (
        _with_calendar_bucket(
            day_tier.select("source", "bucket_s", *AGG_COLS),
            "bucket_s",
            unit,
        )
        .select("source", "bucket_s", *AGG_COLS)
        .groupBy("source", "bucket_s")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_n_tok").alias("sum_n_tok"),
            F.min("min_n_tok").alias("min_n_tok"),
            F.max("max_n_tok").alias("max_n_tok"),
        )
    )


def calendar_rollup_sql(unit: str) -> str:
    """DuckDB twin over ``sequences`` (direct from raw — equals the
    cascade by associativity). ``AT TIME ZONE 'UTC'`` converts the
    TIMESTAMPTZ to a NAIVE UTC timestamp before truncating, so the
    oracle is independent of the DuckDB connection's TimeZone setting
    (bare ``date_trunc`` on TIMESTAMPTZ truncates in the connection
    zone — wrong on any non-UTC host)."""
    if unit not in CALENDAR_UNITS:
        raise ValueError(f"unit must be one of {CALENDAR_UNITS}: {unit!r}")
    return f"""
SELECT source,
       CAST(epoch(date_trunc('{unit}',
                  to_timestamp(event_s) AT TIME ZONE 'UTC')) AS BIGINT)
         AS bucket_s,
       count(*)                   AS cnt,
       CAST(sum(n_tok) AS BIGINT) AS sum_n_tok,
       CAST(min(n_tok) AS BIGINT) AS min_n_tok,
       CAST(max(n_tok) AS BIGINT) AS max_n_tok
FROM sequences
GROUP BY 1, 2
"""


def calendar_realtime_merge(
    materialized: DataFrame, tail: DataFrame, unit: str
) -> DataFrame:
    """Real-time continuous aggregate at CALENDAR widths: committed
    cal_<unit> rows ∪ a calendar rollup of the not-yet-materialized raw
    tail, re-combined per bucket (``date_trunc`` of a boundary is the
    identity, so :func:`calendar_cascade` over the union is the exact
    merge — the month straddling the high-water mark carries partials
    from both legs). Same cost shape as :func:`realtime_merge`."""
    cols = ["source", "bucket_s", *AGG_COLS]
    fresh = calendar_rollup(tail, unit)
    return calendar_cascade(
        materialized.select(*cols).unionByName(fresh.select(*cols)), unit
    )


def bucket_trimmed(
    seq: DataFrame, width_s: int, num: int = 1, den: int = 10
) -> DataFrame:
    """Trimmed (robust) rollup: per (source, bucket), drop the lowest
    and highest ``floor(cnt*num/den)`` observations — the
    outlier-resistant mean/total the plain rollup can't give when a few
    runaway documents dominate a bucket. Exact and deterministic: rows
    rank by the (n_tok, doc_id) total order, the trim count is integer
    arithmetic, and the outputs are integer count/sum/min/max of the
    kept middle.

    Scale shape: ONE (source, bucket) exchange carries both window
    passes (rank + bucket size share the sort) and the final hash agg
    re-groups rows already local to the partition.
    """
    if not (0 <= num * 2 < den):
        raise ValueError("trim fraction must satisfy 0 <= 2*num/den < 1")
    d = seq.select(
        "source", bucket_col(width_s), "n_tok",
        F.col("doc_id").cast("string").alias("doc_id"),
    )
    wb = Window.partitionBy("source", "bucket_s")
    d = (
        d.withColumn(
            "rk", F.row_number().over(wb.orderBy("n_tok", "doc_id"))
        )
        .withColumn("n", F.count("*").over(wb))
        .withColumn("k", F.expr(f"(n * {num}) div {den}"))
    )
    kept = d.filter(
        (F.col("rk") > F.col("k")) & (F.col("rk") <= F.col("n") - F.col("k"))
    )
    return kept.groupBy("source", "bucket_s").agg(
        F.count("*").alias("cnt_kept"),
        F.sum("n_tok").cast("long").alias("sum_kept"),
        F.min("n_tok").cast("long").alias("min_kept"),
        F.max("n_tok").cast("long").alias("max_kept"),
    )


def bucket_trimmed_sql(width_s: int, num: int = 1, den: int = 10) -> str:
    """DuckDB twin of :func:`bucket_trimmed` over ``sequences``."""
    return f"""
SELECT source, bucket_s,
       count(*)                   AS cnt_kept,
       CAST(sum(n_tok) AS BIGINT) AS sum_kept,
       CAST(min(n_tok) AS BIGINT) AS min_kept,
       CAST(max(n_tok) AS BIGINT) AS max_kept
FROM (
  SELECT source, bucket_s, n_tok,
         row_number() OVER w AS rk,
         count(*) OVER (PARTITION BY source, bucket_s) AS n
  FROM (
    SELECT source,
           ((event_s) - ((((event_s) % {width_s}) + {width_s}) % {width_s}))
             AS bucket_s,
           n_tok, CAST(doc_id AS VARCHAR) AS doc_id
    FROM sequences
  )
  WINDOW w AS (PARTITION BY source, bucket_s ORDER BY n_tok, doc_id)
)
WHERE rk > (n * {num}) // {den} AND rk <= n - (n * {num}) // {den}
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Log2 histogram sketch (HdrHistogram / DDSketch shape, exactly oracle-able)
# --------------------------------------------------------------------------
#
# The production quantile sketches above (t-digest, HLL) are engine-
# specific byte blobs — their queries are rows-only on the driver board.
# This family is the bounded-relative-error alternative whose state IS
# plain integers, so it gets the FULL value-hash oracle: each value maps
# to a log2 bucket refined by the top two mantissa bits (4 sub-buckets
# per octave, i.e. HdrHistogram with 2 significant bits / DDSketch with
# gamma = 1.25-ish), giving a guaranteed ≤ 12.5 % relative error at any
# quantile while the sketch stays O(4·log2(max)) cells per (source,
# bucket) — mergeable by pure count addition, so it cascades, appends
# and repairs exactly like the histogram family.
#
#   bin(x) = x                                  for x < 4
#          = 4·(bitlen(x) − 2) + top2mant(x)    otherwise
#
# where bitlen is length(bin(x)) — identical in Spark and DuckDB — and
# top2mant is (x >> (bitlen−3)) & 3: the two bits after the leading 1.
# The mapping is monotone, so quantile inversion is a cumulative-count
# walk identical to histogram_quantile; the inverse bounds are exact
# integer shifts. No floats anywhere on either engine.


def log_bin_expr(col: str) -> str:
    """Spark SQL spelling of the log2 bin id of ``col`` (≥ 0)."""
    b = f"length(bin({col}))"
    return (
        f"CAST(CASE WHEN {col} < 4 THEN {col} ELSE "
        f"4 * ({b} - 2) + (shiftright({col}, {b} - 3) & 3) END AS BIGINT)"
    )


def log_bin_sql(col: str) -> str:
    """DuckDB spelling of :func:`log_bin_expr` (same arithmetic)."""
    b = f"length(bin({col}))"
    return (
        f"CAST(CASE WHEN {col} < 4 THEN {col} ELSE "
        f"4 * ({b} - 2) + ((({col}) >> ({b} - 3)) & 3) END AS BIGINT)"
    )


def log_bin_bounds_expr(bin_col: str) -> tuple[str, str]:
    """Spark SQL (lo, hi) inclusive value bounds of a log2 bin id.

    Shift bases are forced to BIGINT: Spark's ``shiftleft`` on an INT
    literal wraps the shift amount mod 32, which silently corrupted
    bounds for values ≥ 2^34 (and the lo term for values past int32) —
    exactly the orders-of-magnitude domain the sketch exists for."""
    b = f"(({bin_col}) div 4 + 2)"
    m = f"(({bin_col}) % 4)"
    lo = (
        f"CAST(CASE WHEN {bin_col} < 4 THEN {bin_col} "
        f"ELSE shiftleft(CAST(4 + {m} AS BIGINT), {b} - 3) END AS BIGINT)"
    )
    hi = (
        # (width - 1) is grouped BEFORE adding to lo: for the top bin
        # (hi = 2^63 - 1) the ungrouped lo + width overflows int64
        f"CAST(CASE WHEN {bin_col} < 4 THEN {bin_col} "
        f"ELSE shiftleft(CAST(4 + {m} AS BIGINT), {b} - 3) "
        f"+ (shiftleft(CAST(1 AS BIGINT), {b} - 3) - 1) END AS BIGINT)"
    )
    return lo, hi


def log_bin_bounds_sql(bin_col: str) -> tuple[str, str]:
    """DuckDB (lo, hi) inclusive value bounds of a log2 bin id."""
    b = f"(({bin_col}) // 4 + 2)"
    m = f"(({bin_col}) % 4)"
    lo = (
        f"CAST(CASE WHEN {bin_col} < 4 THEN {bin_col} "
        f"ELSE CAST(4 + {m} AS BIGINT) << ({b} - 3) END AS BIGINT)"
    )
    hi = (
        f"CAST(CASE WHEN {bin_col} < 4 THEN {bin_col} "
        f"ELSE (CAST(4 + {m} AS BIGINT) << ({b} - 3)) "
        f"+ ((CAST(1 AS BIGINT) << ({b} - 3)) - 1) END AS BIGINT)"
    )
    return lo, hi


def bucket_log_hist(
    seq: DataFrame, width_s: int, value_col: str = "n_tok"
) -> DataFrame:
    """Log2-histogram sketch tier: one row per (source, bucket_s, bin)
    with the count of values landing in that log2 sub-bucket. Same
    partial+final hash-agg shape as :func:`bucket_histogram`, but the
    cell count is O(4·log2(max value)) per group instead of O(range /
    bin_w) — the shape that holds when values span orders of magnitude
    (latencies, token counts across mixed corpora).
    """
    return (
        seq.select(
            "source",
            bucket_col(width_s),
            F.expr(log_bin_expr(value_col)).alias("bin"),
        )
        .groupBy("source", "bucket_s", "bin")
        .agg(F.count("*").alias("cnt"))
    )


def log_hist_cascade(prev: DataFrame, width_s: int) -> DataFrame:
    """Coarser log-histogram tier from a finer one: re-bucket time, sum
    counts (bins are time-invariant — merging is pure addition, the
    mergeability that makes this a production sketch)."""
    return (
        prev.select(
            "source",
            floor_to(F.col("bucket_s"), width_s).alias("bucket_s"),
            "bin",
            "cnt",
        )
        .groupBy("source", "bucket_s", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )


def log_hist_sql(width_s: int, value_col: str = "n_tok") -> str:
    """DuckDB twin of :func:`bucket_log_hist` direct from ``sequences``."""
    return f"""
SELECT source,
       {floor_sql('event_s', width_s)} AS bucket_s,
       {log_bin_sql(value_col)}        AS bin,
       count(*)                        AS cnt
FROM sequences
GROUP BY 1, 2, 3
"""


def log_hist_quantile(
    hist: DataFrame, q_num: int, q_den: int
) -> DataFrame:
    """Quantile readout over the log-histogram tier: per (source,
    bucket_s), the first bin whose cumulative count reaches
    q_num/q_den of the total (ceil-rank, identical to
    :func:`histogram_quantile`), reported as the bin's EXACT inclusive
    value bounds (q_lo, q_hi) — the true quantile provably lies inside,
    with (q_hi − q_lo) / q_lo ≤ 1/4 by construction. One cumulative +
    one total window on the same (source, bucket) partitioning, then an
    argmin aggregate — a single exchange, input is tier-sized."""
    wp = Window.partitionBy("source", "bucket_s")
    w = wp.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rows = hist.select(
        "source",
        "bucket_s",
        "bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wp).alias("total"),
    ).filter(F.col("cum") * q_den >= F.col("total") * q_num)
    best = rows.groupBy("source", "bucket_s").agg(
        F.min(F.struct("bin", "total")).alias("b")
    )
    lo, hi = log_bin_bounds_expr("b.bin")
    return best.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.expr(lo).alias("q_lo"),
        F.expr(hi).alias("q_hi"),
        F.col("b.total").cast("long").alias("total"),
    )


def log_hist_quantile_sql(
    relation: str, q_num: int, q_den: int
) -> str:
    """DuckDB twin of :func:`log_hist_quantile` over a named
    log-histogram relation (source, bucket_s, bin, cnt)."""
    lo, hi = log_bin_bounds_sql("bin")
    return f"""
SELECT source, bucket_s, {lo} AS q_lo, {hi} AS q_hi,
       CAST(total AS BIGINT) AS total
FROM (
  SELECT source, bucket_s, bin, total,
         row_number() OVER (PARTITION BY source, bucket_s
                            ORDER BY bin) AS rn
  FROM (
    SELECT source, bucket_s, bin, cnt,
           sum(cnt) OVER (PARTITION BY source, bucket_s ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(cnt) OVER (PARTITION BY source, bucket_s)          AS total
    FROM {relation}
  )
  WHERE cum * {q_den} >= total * {q_num}
)
WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Theil–Sen robust slope — exact median-of-pairwise-slopes per coarse bucket
# --------------------------------------------------------------------------

def _theilsen_lcm(n_fine: int) -> int:
    """lcm(1..n_fine-1): the common denominator that turns every
    pairwise slope dy/dx (dx in 1..n_fine-1 fine steps) into an exact
    integer key dy·(L/dx)."""
    import math

    return math.lcm(*range(1, n_fine))


def theilsen(
    tier: DataFrame,
    coarse_s: int,
    fine_s: int,
    value_col: str = "sum_n_tok",
) -> DataFrame:
    """Theil–Sen estimator per (source, coarse bucket): the median of
    all pairwise slopes of the fine tier's values inside the bucket —
    the robust counterpart of :func:`bucket_trend` (least squares),
    with a 29.3 % breakdown point instead of 0.

    Exactness: a slope (v_b−v_a)/(x_b−x_a) with x the fine-bucket
    index has denominator dx ∈ 1..n_fine−1, so every slope scales to
    the exact integer key ``dy · (L div dx)`` with L = lcm(1..n_fine−1)
    (for the 1h-in-1d default, L = 5,354,228,880). The median is then
    an exact order statistic of the key list — (slope_lo, slope_hi)
    middle values as decimal(38,0), true median = their midpoint / L
    per fine step; ``slope_den`` carries L so consumers can divide.
    The product is carried as decimal(19,0)×decimal(19,0) →
    decimal(38,0), good for |dy| up to ~10^18.

    Scale shape: the input is a TIER (O(sources × buckets) rows); the
    pair fan-out is a self-EQUI-join on (source, coarse bucket) whose
    per-group width is the constant n_fine (24 for hours-in-day →
    ≤276 pairs per group), then one hash aggregate. No window, no
    cartesian, no raw-data scan.
    """
    n_fine = coarse_s // fine_s
    assert n_fine >= 2
    lcm = _theilsen_lcm(n_fine)
    pts = tier.select(
        "source",
        floor_to(F.col("bucket_s"), coarse_s).alias("cb"),
        F.expr(f"pmod(bucket_s, {coarse_s}) div {fine_s}").alias("x"),
        F.col(value_col).cast("long").alias("v"),
    )
    a = pts.select(
        "source", "cb", F.col("x").alias("xa"), F.col("v").alias("va")
    )
    b = pts.select(
        "source", "cb", F.col("x").alias("xb"), F.col("v").alias("vb")
    )
    key = (
        (F.col("vb") - F.col("va")).cast("decimal(19,0)")
        * F.expr(f"{lcm} div (xb - xa)").cast("decimal(19,0)")
    ).alias("k")
    pairs = (
        a.join(b, ["source", "cb"])
        .filter(F.col("xb") > F.col("xa"))
        .select("source", "cb", key)
    )
    g = pairs.groupBy("source", "cb").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sort_array(F.collect_list("k")).alias("ks"),
    )
    n = F.col("n_pairs")
    return g.select(
        "source",
        F.col("cb").cast("long").alias("bucket_s"),
        "n_pairs",
        F.element_at(F.col("ks"), ((n + 1) / 2).cast("int"))
        .cast("decimal(38,0)").alias("slope_lo"),
        F.element_at(F.col("ks"), (n / 2).cast("int") + 1)
        .cast("decimal(38,0)").alias("slope_hi"),
        F.lit(lcm).cast("long").alias("slope_den"),
    )


def theilsen_sql(
    relation: str, coarse_s: int, fine_s: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`theilsen` over a named fine-tier relation
    carrying (source, bucket_s, value_col)."""
    n_fine = coarse_s // fine_s
    lcm = _theilsen_lcm(n_fine)
    return f"""
SELECT source, bucket_s,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(ks[CAST((n_pairs + 1) // 2 AS INT)] AS DECIMAL(38,0)) AS slope_lo,
       CAST(ks[CAST(n_pairs // 2 AS INT) + 1]   AS DECIMAL(38,0)) AS slope_hi,
       CAST({lcm} AS BIGINT) AS slope_den
FROM (
  SELECT source, cb AS bucket_s,
         count(*) AS n_pairs,
         list_sort(list(k)) AS ks
  FROM (
    SELECT a.source, a.cb,
           CAST(b.v - a.v AS DECIMAL(19,0))
             * CAST({lcm} // (b.x - a.x) AS DECIMAL(19,0)) AS k
    FROM (
      SELECT source,
             {floor_sql('bucket_s', coarse_s)} AS cb,
             (bucket_s - {floor_sql('bucket_s', coarse_s)}) // {fine_s} AS x,
             {value_col} AS v
      FROM {relation}
    ) a
    JOIN (
      SELECT source,
             {floor_sql('bucket_s', coarse_s)} AS cb,
             (bucket_s - {floor_sql('bucket_s', coarse_s)}) // {fine_s} AS x,
             {value_col} AS v
      FROM {relation}
    ) b ON a.source = b.source AND a.cb = b.cb AND b.x > a.x
  )
  GROUP BY 1, 2
)
"""


def theilsen_finish(ts: DataFrame, fine_s: int) -> DataFrame:
    """Float slope (value units per second) from the exact keys —
    derived metric, pytest-checked against a Fraction reference."""
    return ts.select(
        "source", "bucket_s", "n_pairs",
        (
            (F.col("slope_lo") + F.col("slope_hi")).cast("double")
            / (2.0 * F.col("slope_den") * F.lit(float(fine_s)))
        ).alias("slope_per_s"),
    )


# --------------------------------------------------------------------------
# Hour-of-day percentile band — the "typical day" envelope
# --------------------------------------------------------------------------

def hod_band(
    tier: DataFrame,
    width_s: int = 3600,
    value_col: str = "sum_n_tok",
) -> DataFrame:
    """Seasonal percentile band per (source, hour-of-day): the exact
    p10/p50/p90 of the tier's values at that phase across all days —
    the envelope an SRE dashboard shades behind today's line, and the
    seasonal-threshold baseline for "is this hour abnormal FOR this
    hour of day?" alerting.

    Percentiles are exact order statistics at ascending rank
    ``ceil(q·n)`` of the sorted per-phase value list (the engine's
    integer-exact discipline: no interpolation, no float). Output
    ``(source, hod, n_days, p10, p50, p90)``.

    Scale shape: one partial+final hash agg keyed (source, hod);
    group width is the day count of the retention window (a tier is
    O(sources × buckets), and each group holds ~n_days values — 365
    at a year of 1h buckets), so the per-group sort is bounded. No
    window, no join.
    """
    hod = F.expr(f"pmod(bucket_s, 86400) div {width_s}")
    g = (
        tier.select(
            "source",
            hod.cast("long").alias("hod"),
            F.col(value_col).cast("long").alias("v"),
        )
        .groupBy("source", "hod")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sort_array(F.collect_list("v")).alias("vs"),
        )
    )
    n = F.col("n_days")

    def _at(q_num: int, q_den: int):
        # ascending rank ceil(q*n), 1-indexed
        return F.element_at(
            F.col("vs"),
            ((n * q_num + q_den - 1) / q_den).cast("int"),
        ).cast("long")

    return g.select(
        "source", "hod", "n_days",
        _at(1, 10).alias("p10"),
        _at(1, 2).alias("p50"),
        _at(9, 10).alias("p90"),
    )


def hod_band_sql(
    relation: str, width_s: int = 3600, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`hod_band` over a named tier relation."""
    return f"""
SELECT source, hod,
       CAST(n_days AS BIGINT) AS n_days,
       CAST(vs[CAST((n_days * 1 + 9) // 10 AS INT)] AS BIGINT) AS p10,
       CAST(vs[CAST((n_days * 1 + 1) // 2  AS INT)] AS BIGINT) AS p50,
       CAST(vs[CAST((n_days * 9 + 9) // 10 AS INT)] AS BIGINT) AS p90
FROM (
  SELECT source,
         CAST((((bucket_s % 86400) + 86400) % 86400) // {width_s}
              AS BIGINT)               AS hod,
         count(*)                      AS n_days,
         list_sort(list(CAST({value_col} AS BIGINT))) AS vs
  FROM {relation}
  GROUP BY 1, 2
)
"""


def hod_anomaly(
    tier: DataFrame,
    width_s: int = 3600,
    value_col: str = "sum_n_tok",
) -> DataFrame:
    """Seasonal-band anomaly flags: each tier point compared against
    ITS OWN hour-of-day's p10/p90 envelope (:func:`hod_band`) — "is
    3 AM traffic abnormal FOR 3 AM?", the alert rule a flat z-score
    can't express on strongly diurnal series.

    Output (source, bucket_s, value, p10, p90, is_low, is_high) —
    pure integer comparisons. Note the self-referential baseline: a
    point contributes to the very band that judges it (fine for the
    dashboard face; a production alert would compute the band over a
    trailing-exclusive window — same join shape).

    Scale shape: the band is O(sources × period) rows → BROADCAST
    equi-join back onto the tier; one band agg + one join, no window
    over raw data.
    """
    band = hod_band(tier, width_s, value_col)
    pts = tier.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.expr(f"pmod(bucket_s, 86400) div {width_s}")
        .cast("long").alias("hod"),
        F.col(value_col).cast("long").alias("value"),
    )
    return (
        pts.join(F.broadcast(band), ["source", "hod"])
        .select(
            "source", "bucket_s", "value", "p10", "p90",
            (F.col("value") < F.col("p10")).alias("is_low"),
            (F.col("value") > F.col("p90")).alias("is_high"),
        )
    )


def hod_anomaly_sql(
    relation: str, width_s: int = 3600, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`hod_anomaly` over a named tier relation."""
    return f"""
SELECT p.source, p.bucket_s, p.value, b.p10, b.p90,
       p.value < b.p10 AS is_low,
       p.value > b.p90 AS is_high
FROM (
  SELECT source,
         CAST(bucket_s AS BIGINT) AS bucket_s,
         CAST((((bucket_s % 86400) + 86400) % 86400) // {width_s}
              AS BIGINT)          AS hod,
         CAST({value_col} AS BIGINT) AS value
  FROM {relation}
) p
JOIN ({hod_band_sql(relation, width_s, value_col)}) b
  ON p.source = b.source AND p.hod = b.hod
"""


def eta_threshold(
    tier: DataFrame,
    coarse_s: int,
    fine_s: int,
    threshold: int,
    value_col: str = "sum_n_tok",
) -> DataFrame:
    """Capacity-planning ETA: from each coarse bucket's within-bucket
    linear trend (:func:`bucket_trend`'s sufficient statistics) and
    its LAST observed fine value, how long until the metric crosses
    ``threshold`` — "days until the disk is full", the projection
    every SRE capacity review runs over a continuous aggregate.

    Exact rational: seconds-to-cross = (threshold − v_last) · fine_s ·
    slope_den / slope_num, shipped as the integer pair
    ``(eta_s_num, eta_s_den = slope_num)`` plus ``will_cross``
    (rising toward a threshold not yet reached). Flat or receding
    slopes keep their rows (will_cross = false) so dashboards can
    distinguish "safe" from "no data". Consumers divide; nothing
    float crosses engines.

    Scale: one hash aggregate keyed (source, coarse bucket) — exactly
    :func:`bucket_trend`'s plan with a max_by for the last value.
    """
    n_fine = coarse_s // fine_s
    assert n_fine >= 2
    t = F.expr(f"pmod(bucket_s, {coarse_s}) div {fine_s}").alias("t")
    v = F.col(value_col).cast("long").alias("v")
    g = (
        tier.select(
            "source",
            floor_to(F.col("bucket_s"), coarse_s).alias("bucket_s"),
            t,
            v,
        )
        .groupBy("source", "bucket_s")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("t").cast("long").alias("st"),
            F.sum("v").cast("long").alias("sv"),
            F.sum(F.col("t") * F.col("v")).cast("long").alias("stv"),
            F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
            F.max_by("v", F.col("t")).cast("long").alias("v_last"),
        )
    )
    slope_num = F.col("n") * F.col("stv") - F.col("st") * F.col("sv")
    slope_den = F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    gap = F.lit(threshold).cast("long") - F.col("v_last")
    return g.select(
        "source",
        F.col("bucket_s").cast("long").alias("bucket_s"),
        F.col("v_last").alias("v_last"),
        slope_num.cast("long").alias("slope_num"),
        slope_den.cast("long").alias("slope_den"),
        (gap * slope_den * F.lit(fine_s)).cast("long").alias("eta_s_num"),
        ((slope_num > 0) & (gap > 0)).cast("int").alias("will_cross"),
    )


def eta_threshold_sql(
    relation: str,
    coarse_s: int,
    fine_s: int,
    threshold: int,
    value_col: str = "sum_n_tok",
) -> str:
    """DuckDB twin of :func:`eta_threshold` over a named fine-tier
    relation."""
    return f"""
SELECT source, bucket_s, v_last,
       CAST(n * stv - st * sv AS BIGINT) AS slope_num,
       CAST(n * stt - st * st AS BIGINT) AS slope_den,
       CAST(({threshold} - v_last) * (n * stt - st * st) * {fine_s}
            AS BIGINT)                   AS eta_s_num,
       CAST((n * stv - st * sv) > 0
            AND ({threshold} - v_last) > 0 AS INT) AS will_cross
FROM (
  SELECT source,
         {floor_sql('bucket_s', coarse_s)}           AS bucket_s,
         count(*)                                    AS n,
         CAST(sum(tt) AS BIGINT)                     AS st,
         CAST(sum({value_col}) AS BIGINT)            AS sv,
         CAST(sum(tt * {value_col}) AS BIGINT)       AS stv,
         CAST(sum(tt * tt) AS BIGINT)                AS stt,
         CAST(max_by({value_col}, tt) AS BIGINT)     AS v_last
  FROM (
    SELECT *,
           (bucket_s - {floor_sql('bucket_s', coarse_s)}) // {fine_s} AS tt
    FROM {relation}
  )
  GROUP BY 1, 2
)
"""


def hopping_rollup(
    tier: DataFrame,
    win_s: int,
    hop_s: int,
    value_col: str = "sum_n_tok",
) -> DataFrame:
    """Hopping (sliding) window aggregate over a fine tier: every
    ``hop_s`` a ``win_s``-wide window closes — the overlapping-window
    semantics of stream processors (Flink HOP / Kafka Streams hopping
    windows), which the trailing-row :func:`gapfill.rolling_agg`
    deliberately is NOT (that one ignores calendar gaps; this one is
    calendar-true: an empty hop simply contributes nothing).

    Each fine bucket fans out map-side to the constant ``win_s/hop_s``
    windows that contain it (an explode over a literal range — no
    self-join, no spine), then ONE partial+final hash aggregate keyed
    (source, window start). Exact int64 count/sum/min/max.

    Scale: input is a tier (O(sources × buckets)); the fan-out factor
    is the constant overlap count; output O(sources × buckets ·
    win/hop). The 100×-scale plan is Generate + hash agg — gated in
    PLANS.md.
    """
    if win_s % hop_s != 0:
        raise ValueError(f"hop {hop_s} must divide the window {win_s}")
    n = win_s // hop_s
    v = F.col(value_col).cast("long")
    fan = tier.select(
        "source",
        F.explode(
            F.sequence(F.lit(0), F.lit(n - 1))
        ).alias("j"),
        floor_to(F.col("bucket_s"), hop_s).alias("hb"),
        v.alias("v"),
    ).select(
        "source",
        (F.col("hb") - F.col("j") * hop_s).alias("win_start_s"),
        "v",
    )
    return fan.groupBy("source", "win_start_s").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("v").cast("long").alias("sum_v"),
        F.min("v").cast("long").alias("min_v"),
        F.max("v").cast("long").alias("max_v"),
    ).select(
        "source",
        F.col("win_start_s").cast("long").alias("win_start_s"),
        "n_buckets", "sum_v", "min_v", "max_v",
    )


def hopping_rollup_sql(
    relation: str, win_s: int, hop_s: int, value_col: str = "sum_n_tok"
) -> str:
    """DuckDB twin of :func:`hopping_rollup` over a named fine-tier
    relation."""
    n = win_s // hop_s
    return f"""
SELECT source,
       CAST(win_start_s AS BIGINT)   AS win_start_s,
       CAST(count(*) AS BIGINT)      AS n_buckets,
       CAST(sum(v) AS BIGINT)        AS sum_v,
       CAST(min(v) AS BIGINT)        AS min_v,
       CAST(max(v) AS BIGINT)        AS max_v
FROM (
  SELECT source,
         {floor_sql('bucket_s', hop_s)} - j * {hop_s} AS win_start_s,
         CAST({value_col} AS BIGINT) AS v
  FROM {relation}
  CROSS JOIN generate_series(0, {n - 1}) AS g(j)
)
GROUP BY 1, 2
"""


def bucket_fano(tier: DataFrame, day_s: int = 86400) -> DataFrame:
    """Arrival-burstiness sufficient statistics per (source, day):
    over the fine tier's per-bucket event counts, the exact integers
    (n_buckets, Σc, Σc²) from which the Fano factor — index of
    dispersion Var(c)/E[c], the standard burstiness test (≈1 for a
    Poisson arrival process, ≫1 for bursty traffic) — is one float
    division away. Complements ``bucket_moments`` (which takes the
    dispersion of VALUES within a bucket; this takes the dispersion
    of COUNTS across buckets — the arrival process itself).

    NOTE: occupied buckets only — an all-empty bucket contributes no
    tier row, so the statistic is "dispersion across observed
    buckets"; run over a gap-filled tier for the calendar-complete
    reading.

    One partial+final hash agg over the (already tiny) tier — the
    cascade cost class.
    """
    dec = "decimal(38,0)"
    d = tier.select(
        "source",
        floor_to(F.col("bucket_s").cast("long"), day_s).alias("day_s"),
        F.col("cnt").cast("long").alias("c"),
    )
    # Σc² in decimal(38,0): c ~ 3.1e9 already wraps c*c in int64, and
    # non-ANSI Spark wraps SILENTLY while the DuckDB twin errors — the
    # module's standard decimal width removes the divergence
    return d.groupBy("source", "day_s").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("c").cast("long").alias("sum_c"),
        F.sum(F.col("c").cast(dec) * F.col("c").cast(dec))
        .cast(dec)
        .alias("sum_c2"),
    )


def bucket_fano_sql(width_s: int, day_s: int = 86400) -> str:
    """DuckDB twin of :func:`bucket_fano` over ``sequences`` (tier
    re-derived inline at ``width_s``)."""
    return f"""
SELECT source,
       {floor_sql('bucket_s', day_s)}       AS day_s,
       CAST(count(*) AS BIGINT)             AS n_buckets,
       CAST(sum(c) AS BIGINT)               AS sum_c,
       CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS sum_c2
FROM (
  SELECT source,
         {floor_sql('CAST(event_s AS BIGINT)', width_s)} AS bucket_s,
         count(*) AS c
  FROM sequences
  GROUP BY 1, 2
)
GROUP BY 1, 2
"""
