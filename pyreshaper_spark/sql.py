"""SQL surface: expose IcebergLite tables + the raw input as temp views
so users can ``spark.sql`` over the engine's outputs, and the
tier-routed rollup read (:func:`read_rollup`).

    from pyreshaper_spark.sql import register_views
    register_views(spark, cfg)
    spark.sql("SELECT * FROM tier_1h WHERE source = 'src3'").show()

Views are plain DataFrame temp views over the CURRENT snapshot of each
table; re-register after new commits (or pass ``snapshot_ids`` for
time travel).

A realtime read also sees the input files not yet ingested. Their
tier-0 aggregate is staged once per pending set (:func:`stage_tail`)
under ``<output_path>/_realtime/<key>/`` — outside every table, named
by no manifest — and read in the same file scan as the tier:

    <output_path>/_realtime/<key>/part-....parquet
        (source, bucket_s, cnt, sum_n_tok, min_n_tok, max_n_tok) at
        tier 0's width, sorted on (source, bucket_s)

``pipeline.maintain`` removes every staged tail but the current one.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pyreshaper_spark.config import RunConfig
from pyreshaper_spark.operators.rollup import (
    pick_tier,
    rollup_cascade,
    rollup_tier0,
)
from pyreshaper_spark.plans.pipeline import TIER_KEYS, ingest_ledger
from pyreshaper_spark.sources.catalog import get_catalog
from pyreshaper_spark.sources.iceberglite import IcebergLite, stats_overlap
from pyreshaper_spark.sources.readers import (
    input_schema,
    list_input_files,
    local_path,
    read_input,
    split_table_path,
)

#: staged realtime tails, one directory per pending set, under the
#: warehouse root
REALTIME_DIR = "_realtime"


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
    an append cycle would process) count too. Their tier-0 aggregate is
    staged once per pending set (:func:`stage_tail`) and scanned in the
    SAME parquet scan as the routed tier's pruned files, so the plan is
    a dashboard read's: scan → filter → partial/final re-aggregation,
    with no union and no scan of the raw input. The tail's tier-0
    buckets merge exactly into any routed width, because every tier
    width and ``width_s`` are multiples of tier 0's, and the aligned
    ``t_min``/``t_max`` select the same rows on ``bucket_s`` as on
    ``event_s``.

    Cost: the pending set is driver-side set arithmetic (no Spark job).
    The first realtime read of a pending set also aggregates the
    pending files and writes the staged file; every later read of the
    same set costs a dashboard read plus one small file. With none
    pending the result is the materialized read alone. Caveat: the materialized leg reflects any retention pruning already
    applied, while the staged tail holds every pending bucket (pass
    ``t_min`` inside the retention window).

    ``t_min``/``t_max`` must be ``width_s``-aligned so tier-bucket
    pruning and output buckets agree.
    """
    for b in (t_min, t_max):
        if b is not None and b % width_s:
            raise ValueError(f"t_min/t_max must be multiples of {width_s}")
    cat = get_catalog(cfg.output_path)
    names = {t.width_s: t.name for t in cfg.tiers}
    w = pick_tier(list(names), width_s)
    tail = stage_tail(spark, cfg, cat) if realtime else []
    return rollup_cascade(
        read_tier(
            spark, cat, f"tier_{names[w]}", sources, t_min, t_max,
            extra_files=tail,
        ),
        width_s,
    )


def pending_tail(
    cfg: RunConfig, cat: IcebergLite
) -> tuple[dict | None, list[str], str | None]:
    """The ingest ledger, the pending input files (sorted) and the key
    that names their staged tail (None when nothing is pending).

    The key hashes each pending file's ``input_file_name()`` string,
    size and mtime, the ledger schema, tier 0's width, and for an
    IcebergLite input the snapshot read — an equality delete changes
    pending rows without changing a path. Launches no Spark job."""
    led = ingest_ledger(cat)
    pending = sorted(
        set(list_input_files(cfg)) - set(led["files"] if led else ())
    )
    if not pending:
        return led, pending, None
    files = []
    for f in pending:
        st = os.stat(local_path(f))
        files.append([f, st.st_size, st.st_mtime_ns])
    snap = None
    if cfg.input_format == "iceberglite":
        root, table, snap = split_table_path(cfg.input_path)
        if snap is None:
            snap = get_catalog(root).current_snapshot_id(table)
    ident = json.dumps(
        [files, led["schema"] if led else None, cfg.tiers[0].width_s, snap]
    )
    return led, pending, hashlib.sha256(ident.encode()).hexdigest()[:32]


def tail_aggregate(
    spark: SparkSession,
    cfg: RunConfig,
    cat: IcebergLite,
    led: dict | None,
    pending: list[str],
) -> DataFrame:
    """Tier-0 aggregate of the ``pending`` files, typed as tier 0's
    recorded columns and sorted on :data:`TIER_KEYS` in one partition —
    the query :func:`stage_tail` writes."""
    schema = led["schema"] if led else input_schema(spark, cfg, pending)
    tier0 = cfg.tiers[0]
    agg = rollup_tier0(
        read_input(spark, cfg, pending, schema), tier0.width_s
    )
    types = StructType.fromJson(
        json.loads(cat.table_schema_json(f"tier_{tier0.name}"))
    )
    return (
        agg.select(*[F.col(c).cast(types[c].dataType) for c in agg.columns])
        .coalesce(1)
        .sortWithinPartitions(*TIER_KEYS)
    )


def stage_tail(
    spark: SparkSession, cfg: RunConfig, cat: IcebergLite
) -> list[str]:
    """Paths of the staged tail of the current pending set, written on
    the first call for that set (:func:`tail_aggregate`); [] when
    nothing is pending.

    The write goes to a uuid-suffixed sibling directory that
    ``os.replace`` moves to ``_realtime/<key>``, so a reader sees the
    whole file or none; when two readers stage the same key at once,
    the first rename wins and the other drops its copy."""
    led, pending, key = pending_tail(cfg, cat)
    if key is None:
        return []
    final = os.path.join(cfg.output_path, REALTIME_DIR, key)
    if not os.path.isdir(final):
        tmp = f"{final}.tmp-{uuid.uuid4().hex}"
        tail_aggregate(spark, cfg, cat, led, pending).write.parquet(tmp)
        try:
            os.replace(tmp, final)
        except OSError:  # another reader staged this key first
            shutil.rmtree(tmp, ignore_errors=True)
    return sorted(glob.glob(os.path.join(final, "*.parquet")))


def read_tier(
    spark: SparkSession,
    cat: IcebergLite,
    table: str,
    sources: list[str] | None = None,
    t_min: int | None = None,
    t_max: int | None = None,
    snapshot_id: int | None = None,
    extra_files: list[str] = (),
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

    ``extra_files`` (a staged realtime tail) are scanned with the kept
    files (``IcebergLite.read``) under the same row-level predicates.
    """
    srcs = None if sources is None else sorted(set(sources))
    hi = None if t_max is None else t_max - 1

    def sf(st: dict) -> bool:
        return stats_overlap(st, "bucket_s", t_min, hi) and (
            srcs is None
            or any(stats_overlap(st, "source", s, s) for s in srcs)
        )

    df = cat.read(
        spark, table, snapshot_id=snapshot_id, stats_filter=sf,
        allow_empty=True, extra_files=extra_files,
    )
    if sources is not None:
        df = df.filter(F.col("source").isin(list(sources)))
    if t_min is not None:
        df = df.filter(F.col("bucket_s") >= t_min)
    if t_max is not None:
        df = df.filter(F.col("bucket_s") < t_max)
    return df
