"""Tier-routed rollup reads + the real-time continuous aggregate.

``sql.read_rollup`` routes a requested bucket width to the coarsest
committed tier that divides it and re-aggregates (exact by
associativity); ``realtime=True`` merges the not-yet-ingested raw tail
(files absent from the ingest ledger — the append cycle's pending set)
so queries see fresh data without waiting for the next pipeline run.
The tail's tier-0 aggregate is staged once per pending set under
``<output_path>/_realtime/<key>/`` and scanned with the tier files.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from pyreshaper_spark.config import EPOCH0, RunConfig, TierSpec
from pyreshaper_spark.fixtures import sequences_df
from pyreshaper_spark.operators.rollup import pick_tier, rollup_tier0
from pyreshaper_spark.plans.pipeline import maintain, run_pipeline
from pyreshaper_spark.sources.iceberglite import IcebergLite
from pyreshaper_spark.sources.readers import list_input_files, local_path
from pyreshaper_spark.sql import REALTIME_DIR, read_rollup
from tests.conftest import SHUFFLE, large_reads, plan_text

SF = "/root/testdata/sf0.001"
TIERS = (TierSpec("1m", 60), TierSpec("10m", 600))


def _rows(df):
    return sorted(
        df.select(
            "source", "bucket_s", "cnt", "sum_n_tok",
            "min_n_tok", "max_n_tok",
        ).collect()
    )


def test_pick_tier_routing():
    assert pick_tier([60, 600, 3600], 1800) == 600
    assert pick_tier([60, 600, 3600], 3600) == 3600
    assert pick_tier([60, 600, 3600], 7200) == 3600
    # 90s: only the 1m tier is fine enough, and 60 does not divide 90
    with pytest.raises(ValueError):
        pick_tier([60, 600], 90)
    # requested width finer than every tier
    with pytest.raises(ValueError):
        pick_tier([600], 60)


def test_read_rollup_routing_realtime_filters(spark, tmp_path):
    seq = sequences_df(spark, SF)
    part = F.abs(F.xxhash64(F.col("doc_id").cast("string"))) % 2
    p = str(tmp_path / "seq")
    seq.filter(part == 0).write.parquet(p)
    cfg = RunConfig(
        input_path=p, output_path=str(tmp_path / "out"),
        tiers=TIERS, nsalt=2,
        write_mode="append",
    )
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, cfg, ck)

    # routed 30m read (10m tier re-aggregated) == direct rollup of the
    # ingested rows
    want0 = _rows(rollup_tier0(seq.filter(part == 0), 1800))
    assert _rows(read_rollup(spark, cfg, 1800)) == want0

    # a new input file lands: the materialized read is (correctly)
    # stale; the realtime read merges the pending tail and matches a
    # from-scratch rollup of everything
    seq.filter(part == 1).write.mode("append").parquet(p)
    want_all = _rows(rollup_tier0(seq, 1800))
    assert _rows(read_rollup(spark, cfg, 1800)) == want0
    assert _rows(read_rollup(spark, cfg, 1800, realtime=True)) == want_all

    # filtered realtime read: source + width-aligned time range,
    # pruned on BOTH legs
    t0, t1 = EPOCH0 + 2 * 86400, EPOCH0 + 5 * 86400
    src = seq.select("source").orderBy("source").first()["source"]
    want_f = _rows(
        rollup_tier0(
            seq.filter(
                (F.col("source") == src)
                & (F.col("event_s") >= t0) & (F.col("event_s") < t1)
            ),
            1800,
        )
    )
    got_f = read_rollup(
        spark, cfg, 1800, sources=[src], t_min=t0, t_max=t1, realtime=True
    )
    assert _rows(got_f) == want_f

    # misaligned bounds are an error, not a silently-wrong bucket edge
    with pytest.raises(ValueError):
        read_rollup(spark, cfg, 1800, t_min=t0 + 7)

    # the next append cycle materializes the tail: both reads agree
    run_pipeline(spark, cfg, ck)
    assert _rows(read_rollup(spark, cfg, 1800)) == want_all
    assert _rows(read_rollup(spark, cfg, 1800, realtime=True)) == want_all

    # CLI round-trip (jobs/query_job.py): same answer through the
    # spark-submit serving face
    from jobs.query_job import main as query_main

    cfg_path = str(tmp_path / "cfg.json")
    cfg.write(cfg_path)
    out = str(tmp_path / "ans")
    assert query_main(
        ["--config", cfg_path, "--width", "1800", "--realtime",
         "--out", out]
    ) == 0
    assert _rows(spark.read.parquet(out)) == want_all


def test_read_tier_prunes_files_from_manifest(spark, tmp_path):
    """read_tier: on a multi-file table sorted on (source, bucket_s),
    the source predicate and the time range skip files via manifest
    source/bucket_s stats — asserted by counting the files the read
    opens, not just the row results."""
    from pyreshaper_spark.plans.pipeline import TIER_KEYS
    from pyreshaper_spark.sources.iceberglite import IcebergLite
    from pyreshaper_spark.sql import read_tier

    cat = IcebergLite(str(tmp_path / "cat"))
    rows = [
        (s, b * 600, b + 1)
        for s in ("a", "b", "c")
        for b in range(40)
    ]
    df = spark.createDataFrame(
        rows, "source string, bucket_s long, cnt long"
    ).repartitionByRange(6, *TIER_KEYS).sortWithinPartitions(*TIER_KEYS)
    cat.overwrite("tier_x", df, stats_cols=TIER_KEYS)

    out = read_tier(
        spark, cat, "tier_x", sources=["b"], t_min=600 * 10, t_max=600 * 20
    )
    got = sorted((r["source"], r["bucket_s"]) for r in out.collect())
    assert got == [("b", 600 * b) for b in range(10, 20)]

    # manifest-level pruning actually happened: the read opens exactly
    # the files whose stats can hold source b in [6000, 12000), a
    # strict subset of the snapshot's files
    snap = cat._snapshot("tier_x", None)
    assert len(snap["files"]) == 6
    assert all(set(TIER_KEYS) <= set(f["stats"]) for f in snap["files"])
    want = {
        p for p, f in zip(cat.live_paths("tier_x"), snap["files"])
        if f["stats"]["source"][0] <= "b" <= f["stats"]["source"][1]
        and f["stats"]["bucket_s"][0] < 600 * 20
        and f["stats"]["bucket_s"][1] >= 600 * 10
    }
    opened = {p.removeprefix("file://") for p in out.inputFiles()}
    assert opened == want and 0 < len(want) < len(snap["files"])

    # empty prune is a typed empty result, not an exception
    assert read_tier(spark, cat, "tier_x", sources=["zzz"]).count() == 0


# ---- the staged realtime tail ---------------------------------------------


def _duck(files, width_s, sources=None, t_min=None, t_max=None, gone=()):
    """DuckDB rollup of the parquet ``files`` minus the ``gone`` doc_ids,
    as sorted (source, bucket_s, cnt, sum, min, max) tuples."""
    where = ["TRUE"]
    if sources is not None:
        where.append("source IN (" + ", ".join(f"'{s}'" for s in sources) + ")")
    if t_min is not None:
        where.append(f"event_s >= {t_min}")
    if t_max is not None:
        where.append(f"event_s < {t_max}")
    if gone:
        where.append(
            "doc_id NOT IN (" + ", ".join(f"'{d}'" for d in gone) + ")"
        )
    flist = ", ".join(f"'{f}'" for f in files)
    with duckdb.connect() as con:
        rows = con.execute(
            f"""SELECT source, event_s - event_s % {width_s},
                       count(*), sum(n_tok), min(n_tok), max(n_tok)
                FROM read_parquet([{flist}])
                WHERE {' AND '.join(where)} GROUP BY 1, 2"""
        ).fetchall()
    return sorted((s, *map(int, rest)) for s, *rest in rows)


def _got(df):
    return [(r[0], *map(int, r[1:])) for r in _rows(df)]


def _listed(cfg):
    """Ledger ∪ pending: every listed input file, as local paths."""
    return [local_path(f) for f in list_input_files(cfg)]


def _staged(cfg):
    d = os.path.join(cfg.output_path, REALTIME_DIR)
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def _scanned_tails(df):
    return [p for p in df.inputFiles() if f"/{REALTIME_DIR}/" in p]


def test_staged_tail_lifecycle(spark, tmp_path):
    """The first realtime read stages the pending set's tail, later
    reads reuse it, a landed file restages it, an append cycle leaves
    nothing to scan, and maintain() keeps only the current tail —
    every answer equal to DuckDB over ledger ∪ pending files. Tier rows
    carry the per-source columns (``meta_once=False``) that the staged
    tail lacks."""
    seq = sequences_df(spark, SF)
    part = F.abs(F.xxhash64(F.col("doc_id").cast("string"))) % 3
    p = str(tmp_path / "seq")
    seq.filter(part == 0).write.parquet(p)
    cfg = RunConfig(
        input_path=p, output_path=str(tmp_path / "out"), tiers=TIERS,
        nsalt=2, write_mode="append", meta_once=False,
    )
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, cfg, ck)
    assert _staged(cfg) == []

    seq.filter(part == 1).write.mode("append").parquet(p)
    # 1800 s routes to the coarser 10m tier; the tail is at tier 0's 1m
    first = read_rollup(spark, cfg, 1800, realtime=True)
    assert _got(first) == _duck(_listed(cfg), 1800)
    (key,) = _staged(cfg)
    (tail,) = _scanned_tails(first)
    mtime = os.stat(tail.removeprefix("file://")).st_mtime_ns
    # the raw input is not scanned: only the tier file and the tail
    assert not [f for f in first.inputFiles() if p in f]

    # reuse: same key, same file, not rewritten
    again = read_rollup(spark, cfg, 1800, realtime=True)
    assert _got(again) == _duck(_listed(cfg), 1800)
    assert _staged(cfg) == [key] and _scanned_tails(again) == [tail]
    assert os.stat(tail.removeprefix("file://")).st_mtime_ns == mtime

    # filtered read at tier 0's own width
    t0, t1 = EPOCH0 + 2 * 86400, EPOCH0 + 3 * 86400
    src = seq.agg(F.min("source")).first()[0]
    got = read_rollup(
        spark, cfg, 60, sources=[src], t_min=t0, t_max=t1, realtime=True
    )
    assert _got(got) == _duck(_listed(cfg), 60, [src], t0, t1)

    # a new file lands: new key, restaged tail
    seq.filter(part == 2).write.mode("append").parquet(p)
    assert _got(read_rollup(spark, cfg, 1800, realtime=True)) == _duck(
        _listed(cfg), 1800
    )
    staged = _staged(cfg)
    assert len(staged) == 2 and key in staged
    (cur,) = set(staged) - {key}

    # maintain() drops the stale tail and keeps the current one
    maintain(spark, cfg)
    assert _staged(cfg) == [cur]

    # the append cycle ingests the pending files: nothing left to stage
    # or scan, and maintain() removes the last tail
    run_pipeline(spark, cfg, ck)
    done = read_rollup(spark, cfg, 1800, realtime=True)
    assert _got(done) == _duck(_listed(cfg), 1800)
    assert _scanned_tails(done) == []
    maintain(spark, cfg)
    assert _staged(cfg) == []


def test_staged_tail_over_empty_routed_tier(spark, tmp_path):
    """A routed tier whose snapshot holds no rows, or whose files the
    stats prune away: the realtime read is the staged tail alone."""
    seq = sequences_df(spark, SF)
    src = sorted(r[0] for r in seq.select("source").distinct().collect())
    p = str(tmp_path / "seq")
    seq.filter(F.col("source") != src[0]).write.parquet(p)
    cfg = RunConfig(
        input_path=p, output_path=str(tmp_path / "out"), tiers=TIERS,
        nsalt=2, write_mode="append",
    )
    run_pipeline(spark, cfg, str(tmp_path / "ck.json"))
    ingested = set(list_input_files(cfg))
    seq.filter(F.col("source") == src[0]).write.mode("append").parquet(p)
    pending = [
        local_path(f) for f in list_input_files(cfg) if f not in ingested
    ]

    # the pending file's source is in no tier file: stats prune them all
    got = read_rollup(spark, cfg, 1800, sources=[src[0]], realtime=True)
    assert _got(got) == _duck(pending, 1800) != []
    assert len(got.inputFiles()) == 1

    cat = IcebergLite(cfg.output_path)
    cat.overwrite("tier_10m", cat.read(spark, "tier_10m").limit(0))
    assert cat.read(spark, "tier_10m").count() == 0
    got = read_rollup(spark, cfg, 1800, realtime=True)
    assert _got(got) == _duck(pending, 1800)


def test_staged_tail_iceberglite_equality_delete(spark, tmp_path):
    """IcebergLite input: an equality delete on a pending file changes
    the pending rows, not the paths — the input snapshot id in the key
    restages the tail."""
    seq = sequences_df(spark, SF)
    part = F.abs(F.xxhash64(F.col("doc_id").cast("string"))) % 2
    cat_in = IcebergLite(str(tmp_path / "in_cat"))
    cat_in.append("seq", seq.filter(part == 0))
    cfg = RunConfig(
        input_path=f"{cat_in.root}::seq", input_format="iceberglite",
        output_path=str(tmp_path / "out"), tiers=TIERS, nsalt=2,
        write_mode="append",
    )
    run_pipeline(spark, cfg, str(tmp_path / "ck.json"))
    cat_in.append("seq", seq.filter(part == 1))
    assert _got(read_rollup(spark, cfg, 600, realtime=True)) == _duck(
        cat_in.live_paths("seq"), 600
    )
    (key,) = _staged(cfg)

    gone = [
        r[0] for r in seq.filter(part == 1).select("doc_id")
        .orderBy("doc_id").limit(5).collect()
    ]
    cat_in.delete_rows_mor(
        spark, "seq",
        spark.createDataFrame([(d,) for d in gone], "doc_id string"),
        ("doc_id",),
    )
    got = read_rollup(spark, cfg, 600, realtime=True)
    assert _got(got) == _duck(cat_in.live_paths("seq"), 600, gone=gone)
    assert len(_staged(cfg)) == 2 and key in _staged(cfg)


def test_small_reads_plan_no_shuffle(spark, tmp_path):
    """Tier-sized files read as one partition, so a dashboard or
    realtime read plans no Exchange; above the session's
    ``spark.sql.files.openCostInBytes`` the same reads shuffle again and
    return the same rows."""
    seq = sequences_df(spark, SF)
    part = F.abs(F.xxhash64(F.col("doc_id").cast("string"))) % 2
    p = str(tmp_path / "seq")
    seq.filter(part == 0).write.parquet(p)
    cfg = RunConfig(
        input_path=p, output_path=str(tmp_path / "out"), tiers=TIERS,
        nsalt=2, write_mode="append",
    )
    run_pipeline(spark, cfg, str(tmp_path / "ck.json"))
    seq.filter(part == 1).write.mode("append").parquet(p)
    src = seq.agg(F.min("source")).first()[0]
    t0 = EPOCH0 + 86400

    def reads():
        return [
            read_rollup(spark, cfg, 1800),
            read_rollup(spark, cfg, 3600, sources=[src], t_min=t0,
                        t_max=t0 + 86400),
            read_rollup(spark, cfg, 1800, realtime=True),
            read_rollup(spark, cfg, 600, sources=[src], t_min=t0,
                        t_max=t0 + 86400, realtime=True),
        ]

    small = reads()
    for df in small:
        assert not SHUFFLE.search(plan_text(df)), plan_text(df)
    with large_reads(spark):
        large = reads()
        for df in large:
            assert SHUFFLE.search(plan_text(df)), plan_text(df)
        got_large = [_got(df) for df in large]
    assert [_got(df) for df in small] == got_large
    assert got_large[2] == _duck(_listed(cfg), 1800) != []

