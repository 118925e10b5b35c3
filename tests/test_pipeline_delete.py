"""Targeted document deletion (plans.delete.delete_docs): every table
of a completed run must equal a from-scratch run on the filtered input,
while tier files whose ``source`` stats hold no affected source are
carried by reference."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pyreshaper_spark.config import RunConfig, TierSpec
from pyreshaper_spark.fixtures import sequences_df
from pyreshaper_spark.operators.encode import decode_series_table
from pyreshaper_spark.plans.delete import delete_docs
from pyreshaper_spark.plans.pipeline import TIER_KEYS, run_pipeline
from pyreshaper_spark.sources.iceberglite import IcebergLite

SF = "/root/testdata/sf0.001"
TIERS = (TierSpec("1m", 60), TierSpec("10m", 600), TierSpec("1h", 3600))


def _cfg(inp, out, **kw):
    base = dict(
        input_path=inp, output_path=out, tiers=TIERS, nsalt=2,
    )
    base.update(kw)
    return RunConfig(**base)


def _rows(df, drop=()):
    cols = sorted(c for c in df.columns if c not in drop)
    return sorted(
        tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()
    )


def _delete_and_reference(spark, root, **kw) -> dict:
    """Run the pipeline on full input, delete victims, plus a reference
    pipeline run on the pre-filtered input, both with config ``kw``."""
    seq = sequences_df(spark, SF)
    full_p = str(root / "seq_full")
    seq.write.parquet(full_p)

    # victims: a few docs from two sources + every doc of one source
    # (exercises the emptied-source path)
    srcs = sorted(r[0] for r in seq.select("source").distinct().collect())
    gone_src = srcs[0]
    some = [
        r["doc_id"]
        for r in seq.filter(F.col("source").isin(srcs[1], srcs[2]))
        .select("doc_id").orderBy("doc_id").limit(7).collect()
    ]
    all_of_src = [
        r["doc_id"]
        for r in seq.filter(F.col("source") == gone_src)
        .select("doc_id").collect()
    ]
    victims = some + all_of_src

    filt_p = str(root / "seq_filtered")
    seq.filter(~F.col("doc_id").isin(victims)).write.parquet(filt_p)

    cfg = _cfg(full_p, str(root / "out"), verify_fidelity=True, **kw)
    run_pipeline(spark, cfg, str(root / "ck.json"))
    cat = IcebergLite(cfg.output_path)
    # several range-clustered tier_1m files, so a repair can carry some
    tier_bytes = sum(os.path.getsize(p) for p in cat.live_paths("tier_1m"))
    cat.compact(
        spark, "tier_1m", target_file_bytes=tier_bytes // 8, min_files=1,
        sort_by=TIER_KEYS,
    )
    files_before = {
        t: {f["path"]: f for f in cat._snapshot(t, None)["files"]}
        for t in ("tier_1m", "series_enc")
    }
    report = delete_docs(spark, cfg, str(root / "ck.json"), victims)

    ref_cfg = _cfg(filt_p, str(root / "ref_out"), **kw)
    run_pipeline(spark, ref_cfg, str(root / "ref_ck.json"))
    return {
        "cfg": cfg, "ref_cfg": ref_cfg, "report": report,
        "victims": victims, "gone_src": gone_src,
        "files_before": files_before,
    }


@pytest.fixture(scope="module")
def deleted_state(spark, tmp_path_factory):
    """The default config: tier rows carry replicated per-source
    metadata (``meta_once=False``)."""
    return _delete_and_reference(spark, tmp_path_factory.mktemp("del"))


TABLES = (
    "tier_1m", "tier_10m", "tier_1h",
    "tier_10m_filled", "tier_1h_filled",
    "meta_source",
)


@pytest.mark.parametrize("table", TABLES)
def test_tables_equal_fresh_run(spark, deleted_state, table):
    cat = IcebergLite(deleted_state["cfg"].output_path)
    ref = IcebergLite(deleted_state["ref_cfg"].output_path)
    assert _rows(cat.read(spark, table)) == _rows(ref.read(spark, table))


def test_series_decode_equals_fresh_run(spark, deleted_state):
    cat = IcebergLite(deleted_state["cfg"].output_path)
    ref = IcebergLite(deleted_state["ref_cfg"].output_path)
    got = decode_series_table(cat.read(spark, "series_enc"))
    want = decode_series_table(ref.read(spark, "series_enc"))
    assert _rows(got) == _rows(want)


def assert_victims_gone(spark, state):
    cat = IcebergLite(state["cfg"].output_path)
    victims = set(state["victims"])
    dec = decode_series_table(cat.read(spark, "series_enc"))
    assert dec.filter(F.col("doc_id").isin(list(victims))).count() == 0
    gone = state["gone_src"]
    for t in TABLES:
        assert (
            cat.read(spark, t).filter(F.col("source") == gone).count() == 0
        ), t
    # no tier file entry is left whose stats cover only the emptied
    # source, and every entry still carries stats on both columns
    for t in TABLES[:-1]:
        for f in cat._snapshot(t, None)["files"]:
            assert set(TIER_KEYS) <= set(f["stats"]), (t, f["path"])
            assert f["stats"]["source"] != [gone, gone], (t, f["path"])


def test_victims_are_gone_everywhere(spark, deleted_state):
    assert_victims_gone(spark, deleted_state)


def test_untouched_files_carried_by_reference(spark, deleted_state):
    """Copy-on-write: tier files whose ``source`` stats hold no affected
    source survive as the SAME manifest entries; every file that can
    hold one is rewritten."""
    cat = IcebergLite(deleted_state["cfg"].output_path)
    affected = deleted_state["report"]["affected_sources"]
    before = deleted_state["files_before"]["tier_1m"]
    after = {
        f["path"]: f for f in cat._snapshot("tier_1m", None)["files"]
    }

    def can_hold_affected(st):
        lo, hi = st["source"]
        return any(lo <= s <= hi for s in affected)

    carried = {
        p for p, f in before.items() if not can_hold_affected(f["stats"])
    }
    rewritten = set(before) - carried
    assert carried and rewritten
    assert all(after.get(p) == before[p] for p in carried)
    assert not rewritten & set(after)
    assert deleted_state["report"]["series_files_untouched"] >= 0


def test_meta_once_delete_equals_fresh_run(spark, tmp_path):
    """With ``meta_once=True`` tier rows carry no per-source metadata;
    the repair must still converge to a from-scratch run, and drop the
    emptied source's files."""
    state = _delete_and_reference(spark, tmp_path, meta_once=True)
    cat = IcebergLite(state["cfg"].output_path)
    ref = IcebergLite(state["ref_cfg"].output_path)
    for t in TABLES:
        assert _rows(cat.read(spark, t)) == _rows(ref.read(spark, t)), t
    assert not any(
        c.startswith("src_") for c in cat.read(spark, "tier_1m").columns
    )
    assert _rows(decode_series_table(cat.read(spark, "series_enc"))) == _rows(
        decode_series_table(ref.read(spark, "series_enc"))
    )
    assert_victims_gone(spark, state)


def test_metrics_reflect_live_chunks(spark, deleted_state):
    cat = IcebergLite(deleted_state["cfg"].output_path)
    m = cat.read(spark, "metrics")
    enc = cat.read(spark, "series_enc")
    assert _rows(
        m.select("source", "salt", "n")
    ) == _rows(enc.select("source", "salt", "n"))
    # lineage totals still reproduce the remaining corpus exactly
    total = (
        m.agg(F.sum("n")).collect()[0][0] or 0
    )
    ref = IcebergLite(deleted_state["ref_cfg"].output_path)
    want = ref.read(spark, "metrics").agg(F.sum("n")).collect()[0][0]
    assert total == want


def test_delete_nothing_is_noop(spark, tmp_path):
    seq = sequences_df(spark, SF).limit(200)
    p = str(tmp_path / "seq")
    seq.write.parquet(p)
    cfg = _cfg(p, str(tmp_path / "out"))
    run_pipeline(spark, cfg, str(tmp_path / "ck.json"))
    cat = IcebergLite(cfg.output_path)
    before = cat.current_snapshot_id("series_enc")
    report = delete_docs(
        spark, cfg, str(tmp_path / "ck.json"), ["no-such-doc"]
    )
    assert report["deleted_rows"] == 0
    assert cat.current_snapshot_id("series_enc") == before


def test_delete_refuses_midcycle(spark, tmp_path):
    seq = sequences_df(spark, SF).limit(100)
    p = str(tmp_path / "seq")
    seq.write.parquet(p)
    cfg = _cfg(p, str(tmp_path / "out"))
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, cfg, ck)
    from pyreshaper_spark.plans.checkpoint import Checkpoint

    c = Checkpoint.load(ck)
    c.cycle = {"bases": {}, "pending": []}
    c.save(ck)
    with pytest.raises(RuntimeError, match="append cycle"):
        delete_docs(spark, cfg, ck, ["0"])


def test_delete_with_retention_on_fine_tier_repairs_coarse_from_raw(
    spark, tmp_path
):
    """A finer tier with a retention policy is pruned; a delete touching
    a coarse bucket whose fine buckets aged out must still repair that
    coarse bucket correctly (from raw remaining rows, never from the
    pruned finer tier). Every tier must equal a from-scratch run with
    the same retention config on the filtered input."""
    seq = sequences_df(spark, SF)
    full_p = str(tmp_path / "seq_full")
    seq.write.parquet(full_p)
    tiers = (
        TierSpec("1m", 60, retention_buckets=30),
        TierSpec("10m", 600),
    )
    cfg = _cfg(full_p, str(tmp_path / "out"), tiers=tiers)
    run_pipeline(spark, cfg, str(tmp_path / "ck.json"))

    # victims: oldest docs of one source — their 1m buckets are already
    # aged out of the pruned fine tier, but their 10m buckets live on
    src = sorted(r[0] for r in seq.select("source").distinct().collect())[1]
    victims = [
        r["doc_id"]
        for r in seq.filter(F.col("source") == src)
        .orderBy("event_s").limit(5).collect()
    ]
    delete_docs(spark, cfg, str(tmp_path / "ck.json"), victims)

    filt_p = str(tmp_path / "seq_filt")
    seq.filter(~F.col("doc_id").isin(victims)).write.parquet(filt_p)
    ref_cfg = _cfg(filt_p, str(tmp_path / "ref_out"), tiers=tiers)
    run_pipeline(spark, ref_cfg, str(tmp_path / "ref_ck.json"))

    cat, ref = IcebergLite(cfg.output_path), IcebergLite(ref_cfg.output_path)
    for t in ("tier_1m", "tier_10m", "tier_10m_filled"):
        assert _rows(cat.read(spark, t)) == _rows(ref.read(spark, t)), t


def test_second_delete_keeps_first_batch_deleted(spark, tmp_path):
    """Two delete batches whose victims share a (source, salt) chunk and
    a (source, day) bucket: the second repair rebuilds those from the
    live input, so every table equals a fresh run on the input minus
    both batches (the input still holds the first batch)."""
    from pyreshaper_spark.operators.transpose import with_salt

    seq = sequences_df(spark, SF)
    full_p = str(tmp_path / "seq_full")
    seq.write.parquet(full_p)
    # pairs of docs in one chunk and one 1d bucket (the fixture has no
    # hour holding two docs of a source): the first doc of a pair goes
    # in batch 1, the second in batch 2
    tiers = (TierSpec("1m", 60), TierSpec("1h", 3600), TierSpec("1d", 86400))
    keyed = with_salt(seq, 2).withColumn(
        "b", F.col("event_s") - F.col("event_s") % 86400
    )
    pairs = (
        keyed.groupBy("source", "salt", "b")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .orderBy("source", "b")
        .limit(5)
        .collect()
    )
    assert len(pairs) == 5
    first = [r["ids"][0] for r in pairs]
    second = [r["ids"][1] for r in pairs]

    cfg = _cfg(full_p, str(tmp_path / "out"), tiers=tiers,
               verify_fidelity=True)
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, cfg, ck)
    delete_docs(spark, cfg, ck, first)
    assert delete_docs(spark, cfg, ck, second)["deleted_rows"] == 5

    filt_p = str(tmp_path / "seq_filtered")
    seq.filter(~F.col("doc_id").isin(first + second)).write.parquet(filt_p)
    ref_cfg = _cfg(filt_p, str(tmp_path / "ref_out"), tiers=tiers)
    run_pipeline(spark, ref_cfg, str(tmp_path / "ref_ck.json"))
    cat, ref = IcebergLite(cfg.output_path), IcebergLite(ref_cfg.output_path)
    for t in ("tier_1m", "tier_1h", "tier_1d", "tier_1h_filled",
              "tier_1d_filled", "meta_source"):
        assert _rows(cat.read(spark, t)) == _rows(ref.read(spark, t)), t
    assert _rows(decode_series_table(cat.read(spark, "series_enc"))) == _rows(
        decode_series_table(ref.read(spark, "series_enc"))
    )
    from pyreshaper_spark.plans.pipeline import ingest_ledger

    assert ingest_ledger(cat)["deleted"] == sorted(first + second)


def test_fidelity_append_cycle_after_delete(spark, tmp_path):
    """The fidelity gate of an append cycle after a delete compares the
    decoded series with the live input, which excludes the victims the
    input still holds."""
    seq = sequences_df(spark, SF)
    part = F.abs(F.xxhash64(F.col("doc_id").cast("string"))) % 2
    p = str(tmp_path / "seq")
    seq.filter(part == 0).write.parquet(p)
    cfg = _cfg(p, str(tmp_path / "out"), write_mode="append",
               verify_fidelity=True)
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, cfg, ck)
    victims = [
        r[0] for r in seq.filter(part == 0).select("doc_id")
        .orderBy("doc_id").limit(10).collect()
    ]
    delete_docs(spark, cfg, ck, victims)
    seq.filter(part == 1).write.mode("append").parquet(p)
    res = run_pipeline(spark, cfg, ck)
    assert "verify_fidelity" in res.steps_run
    cat = IcebergLite(cfg.output_path)
    assert cat.read(spark, "fidelity").collect()[0]["bad_rows"] == 0
    dec = decode_series_table(cat.read(spark, "series_enc"))
    assert dec.filter(F.col("doc_id").isin(victims)).count() == 0


def test_tier_added_after_delete_backfills_live_input(spark, tmp_path):
    """A tier added between append cycles backfills from the whole
    input, which still holds the deleted docs: the backfill leaves
    them out, as a fresh run on the filtered input would."""
    from pyreshaper_spark.operators.rollup import rollup_tier0

    seq = sequences_df(spark, SF)
    part = F.abs(F.xxhash64(F.col("doc_id").cast("string"))) % 2
    p = str(tmp_path / "seq")
    seq.filter(part == 0).write.parquet(p)
    kw = dict(write_mode="append", tiers=(TierSpec("1m", 60),))
    cfg = _cfg(p, str(tmp_path / "out"), **kw)
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, cfg, ck)
    victims = [
        r[0] for r in seq.filter(part == 0).select("doc_id")
        .orderBy("doc_id").limit(10).collect()
    ]
    delete_docs(spark, cfg, ck, victims)
    seq.filter(part == 1).write.mode("append").parquet(p)
    kw["tiers"] = (TierSpec("1m", 60), TierSpec("1h", 3600))
    run_pipeline(spark, _cfg(p, cfg.output_path, **kw), ck)
    live = seq.filter(~F.col("doc_id").isin(victims))
    cat = IcebergLite(cfg.output_path)
    meta = ("src_n_docs", "src_total_tok")
    for t, w in (("tier_1m", 60), ("tier_1h", 3600)):
        got = _rows(cat.read(spark, t), drop=meta)
        assert got == _rows(rollup_tier0(live, w)), t


@pytest.mark.parametrize("op", ["delete", "restate"])
def test_failed_repair_releases_its_cache(spark, tmp_path, monkeypatch, op):
    """A repair that raises mid-walk (here: the tier_1h commit) leaves
    nothing cached in the session."""
    from pyreshaper_spark.plans.delete import restate_docs

    seq = sequences_df(spark, SF).limit(200)
    p = str(tmp_path / "seq")
    seq.write.parquet(p)
    cfg = _cfg(p, str(tmp_path / "out"))
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, cfg, ck)
    victims = [r["doc_id"] for r in seq.limit(3).collect()]

    replace_rows = IcebergLite.replace_rows

    def failing(self, spark, table, *args, **kw):
        if table == "tier_1h":
            raise OSError("injected commit failure")
        return replace_rows(self, spark, table, *args, **kw)

    monkeypatch.setattr(IcebergLite, "replace_rows", failing)
    spark.catalog.clearCache()
    repair = delete_docs if op == "delete" else restate_docs
    with pytest.raises(OSError, match="injected"):
        repair(spark, cfg, ck, victims)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
