"""Kill-and-resume pipeline test (SURVEY.md §5.2 item 6).

Run the pipeline to completion once (golden), then run a second copy
that stops after an early commit, resume it, and assert: identical tier
outputs, identical encoded series, no duplicated lineage chunks, and
committed steps were skipped (not recomputed)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyreshaper_spark.config import RunConfig, TierSpec
from pyreshaper_spark.fixtures import sequences_df
from pyreshaper_spark.plans.pipeline import (
    diagnostics,
    ingest_ledger,
    run_pipeline,
)
from pyreshaper_spark.sources.iceberglite import IcebergLite
from pyreshaper_spark.sources.readers import list_input_files

SF = "/root/testdata/sf0.001"
TIERS = (TierSpec("1m", 60), TierSpec("10m", 600), TierSpec("1h", 3600))


@pytest.fixture(scope="module")
def seq_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("seq") / "sequences")
    sequences_df(spark, SF).write.parquet(p)
    return p


def _cfg(seq_path, out) -> RunConfig:
    return RunConfig(
        input_path=seq_path, output_path=str(out), tiers=TIERS, nsalt=4,
    )


def _tier_rows(spark, cfg, name):
    cat = IcebergLite(cfg.output_path)
    return sorted(
        cat.read(spark, name)
        .select("source", "bucket_s", "cnt", "sum_n_tok")
        .collect()
    )


def test_full_run_then_resume_is_identical(spark, seq_path, tmp_path):
    golden_cfg = _cfg(seq_path, tmp_path / "golden")
    res = run_pipeline(spark, golden_cfg, str(tmp_path / "g_ckpt.json"))
    assert "encode" in res.steps_run and not res.steps_skipped

    # interrupted run: stop right after the 10m tier commit
    cfg = _cfg(seq_path, tmp_path / "resumed")
    ck = str(tmp_path / "r_ckpt.json")
    partial = run_pipeline(spark, cfg, ck, stop_after="tier_10m")
    assert partial.steps_run[-1] == "tier_10m"
    assert "encode" not in partial.steps_run

    resumed = run_pipeline(spark, cfg, ck)
    # committed steps skipped, remaining steps run exactly once
    assert set(partial.steps_run) == set(resumed.steps_skipped)
    assert "encode" in resumed.steps_run

    for name in ["tier_1m", "tier_10m", "tier_1h", "tier_10m_filled"]:
        assert _tier_rows(spark, golden_cfg, name) == _tier_rows(spark, cfg, name)

    g_cat, r_cat = IcebergLite(golden_cfg.output_path), IcebergLite(cfg.output_path)
    g_enc = sorted(
        g_cat.read(spark, "series_enc").select("source", "salt", "n").collect()
    )
    r_enc = sorted(
        r_cat.read(spark, "series_enc").select("source", "salt", "n").collect()
    )
    assert g_enc == r_enc

    # lineage: no duplicated (source, salt) chunks after resume
    m = r_cat.read(spark, "metrics")
    dup = m.groupBy("source", "salt").count().filter(F.col("count") > 1).count()
    assert dup == 0

    # the ledger holds exactly the listed input, and lineage has one
    # row per live (source, salt) chunk of series_enc
    assert ingest_ledger(r_cat)["files"] == list_input_files(cfg)
    chunks = r_cat.read(spark, "series_enc").select("source", "salt").distinct()
    assert sorted(m.select("source", "salt").collect()) == sorted(
        chunks.collect()
    )

    d = diagnostics(spark, cfg).collect()[0]
    assert d["points"] == spark.read.parquet(seq_path).count()
    assert d["enc_bytes"] < d["raw_bytes"]


def test_rerun_completed_pipeline_is_noop(spark, seq_path, tmp_path):
    cfg = _cfg(seq_path, tmp_path / "noop")
    ck = str(tmp_path / "ckpt.json")
    first = run_pipeline(spark, cfg, ck)
    again = run_pipeline(spark, cfg, ck)
    assert not again.steps_run
    assert set(again.steps_skipped) == set(first.steps_run)
    # no new snapshots were committed by the no-op re-run
    cat = IcebergLite(cfg.output_path)
    assert cat.current_snapshot_id("tier_1m") == 1
    assert cat.current_snapshot_id("series_enc") == 1
