"""SQL surface: expose IcebergLite tables + the raw input as temp views
so users can ``spark.sql`` over the engine's outputs.

    from pyreshaper_spark.sql import register_views
    register_views(spark, cfg)
    spark.sql("SELECT * FROM tier_1h WHERE source = 'src3'").show()

Views are plain DataFrame temp views over the CURRENT snapshot of each
table; re-register after new commits (or pass ``snapshot_ids`` for
time travel).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from pyreshaper_spark.config import RunConfig
from pyreshaper_spark.sources.catalog import get_catalog
from pyreshaper_spark.sources.iceberglite import IcebergLite, stats_overlap


def register_views(
    spark: SparkSession,
    cfg: RunConfig,
    snapshot_ids: dict[str, int] | None = None,
) -> list[str]:
    """Register a temp view per catalog table (+ ``sequences`` for the
    input). Returns the registered view names."""
    cat = get_catalog(cfg.output_path)
    names: list[str] = []
    spark.read.parquet(cfg.input_path).createOrReplaceTempView("sequences")
    names.append("sequences")
    for t in cat.list_tables():
        if not cat.exists(t):
            continue
        sid = (snapshot_ids or {}).get(t)
        cat.read(spark, t, snapshot_id=sid).createOrReplaceTempView(t)
        names.append(t)
    return names


def read_rollup(
    spark: SparkSession,
    cfg: RunConfig,
    width_s: int,
    sources: list[str] | None = None,
    t_min: int | None = None,
    t_max: int | None = None,
    realtime: bool = False,
):
    """Tier-routed rollup read — the query-planner face of the cascade.

    Picks the coarsest committed tier whose width divides ``width_s``
    (:func:`operators.rollup.pick_tier`), reads it pruned
    (:func:`read_tier` — manifest min/max stats on source and
    bucket_s), and
    re-aggregates to the requested width (exact by associativity). A
    45-minute chart over a 1m/5m/1h ladder reads the 5m tier, never
    raw.

    ``realtime=True`` is the TimescaleDB real-time-continuous-aggregate
    analog: rows of the raw input not yet ingested (listed input files
    minus the ``series_enc`` ingest ledger — the same pending-file set
    an append cycle would process) are aggregated on the fly and merged
    into the materialized read, so queries see data that arrived after
    the last pipeline run without rescanning history. The pending set
    is driver-side set arithmetic (no Spark job) and the tail scans only
    those files; with none pending the result is the materialized read
    alone. Cost is O(buckets) + O(new rows). Caveat: the materialized
    leg reflects any retention pruning already applied (pass ``t_min``
    inside the retention window).

    ``t_min``/``t_max`` must be ``width_s``-aligned so tier-bucket
    pruning and output buckets agree.
    """
    from pyspark.sql import functions as F

    from pyreshaper_spark.operators.rollup import (
        pick_tier,
        realtime_merge,
        rollup_cascade,
    )

    for b in (t_min, t_max):
        if b is not None and b % width_s:
            raise ValueError(f"t_min/t_max must be multiples of {width_s}")
    cat = get_catalog(cfg.output_path)
    names = {t.width_s: t.name for t in cfg.tiers}
    w = pick_tier(list(names), width_s)
    mat = rollup_cascade(
        read_tier(spark, cat, f"tier_{names[w]}", sources, t_min, t_max),
        width_s,
    )
    if not realtime:
        return mat

    from pyreshaper_spark.plans.pipeline import ingest_ledger
    from pyreshaper_spark.sources.readers import (
        input_schema,
        list_input_files,
        read_input,
    )

    led = ingest_ledger(cat)
    pending = sorted(
        set(list_input_files(cfg)) - set(led["files"] if led else ())
    )
    if not pending:
        return mat
    schema = led["schema"] if led else input_schema(spark, cfg, pending)
    seq = read_input(spark, cfg, pending, schema)
    if sources is not None:
        seq = seq.filter(F.col("source").isin(list(sources)))
    if t_min is not None:
        seq = seq.filter(F.col("event_s") >= t_min)
    if t_max is not None:
        seq = seq.filter(F.col("event_s") < t_max)
    return realtime_merge(mat, seq, width_s)


def read_tier(
    spark: SparkSession,
    cat: IcebergLite,
    table: str,
    sources: list[str] | None = None,
    t_min: int | None = None,
    t_max: int | None = None,
    snapshot_id: int | None = None,
):
    """Predicate-pushed read of a tier table — the dashboard-query face.

    Tier files are sorted on (source, bucket_s) and the manifest holds
    each file's min/max of both columns (``pipeline.write_tier``). A
    file is opened only if its ``source`` range can hold a requested
    source and its ``bucket_s`` range can meet ``[t_min, t_max)`` —
    pruning at planning time against the snapshot log alone, so at a
    10^12-row deployment "one source, last 6 hours" scans the few files
    whose ranges cover it, and parquet row-group stats prune inside
    them. The same predicates are re-applied row-level (a file can
    straddle the range boundary, and its range can span other sources).
    """
    from pyspark.sql import functions as F

    srcs = None if sources is None else sorted(set(sources))
    hi = None if t_max is None else t_max - 1

    def sf(st: dict) -> bool:
        return stats_overlap(st, "bucket_s", t_min, hi) and (
            srcs is None
            or any(stats_overlap(st, "source", s, s) for s in srcs)
        )

    df = cat.read(
        spark, table, snapshot_id=snapshot_id, stats_filter=sf,
        allow_empty=True,
    )
    if sources is not None:
        df = df.filter(F.col("source").isin(list(sources)))
    if t_min is not None:
        df = df.filter(F.col("bucket_s") >= t_min)
    if t_max is not None:
        df = df.filter(F.col("bucket_s") < t_max)
    return df
