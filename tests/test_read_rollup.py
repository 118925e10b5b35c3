"""Tier-routed rollup reads + the real-time continuous aggregate.

``sql.read_rollup`` routes a requested bucket width to the coarsest
committed tier that divides it and re-aggregates (exact by
associativity); ``realtime=True`` merges the not-yet-ingested raw tail
(files absent from the encode lineage — the append cycle's pending set)
so queries see fresh data without waiting for the next pipeline run.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyreshaper_spark.config import EPOCH0, RunConfig, TierSpec
from pyreshaper_spark.fixtures import sequences_df
from pyreshaper_spark.operators.rollup import pick_tier, rollup_tier0
from pyreshaper_spark.plans.pipeline import run_pipeline
from pyreshaper_spark.sql import read_rollup

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
