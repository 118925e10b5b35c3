"""source_limit (output_limit analog), verify_fidelity gate, multi-spec
runner, and the s2smake CLI analog."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyreshaper_spark.config import RunConfig, TierSpec
from pyreshaper_spark.fixtures import sequences_df
from pyreshaper_spark.plans.pipeline import run_multi, run_pipeline
from pyreshaper_spark.sources.iceberglite import IcebergLite

SF = "/root/testdata/sf0.001"
TIERS = (TierSpec("1m", 60), TierSpec("10m", 600))


@pytest.fixture(scope="module")
def seq_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("seq") / "sequences")
    sequences_df(spark, SF).write.parquet(p)
    return p


def test_source_limit_caps_series(spark, seq_path, tmp_path):
    cfg = RunConfig(
        input_path=seq_path, output_path=str(tmp_path / "out"),
        tiers=TIERS, nsalt=2, source_limit=3,
    )
    run_pipeline(spark, cfg, str(tmp_path / "ck.json"))
    cat = IcebergLite(cfg.output_path)
    srcs = {
        r["source"]
        for r in cat.read(spark, "tier_1m").select("source").distinct().collect()
    }
    all_srcs = sorted(
        r["source"]
        for r in spark.read.parquet(seq_path).select("source").distinct().collect()
    )
    assert srcs == set(all_srcs[:3])
    enc_srcs = {
        r["source"]
        for r in cat.read(spark, "series_enc").select("source").distinct().collect()
    }
    assert enc_srcs == set(all_srcs[:3])


def test_verify_fidelity_step_passes(spark, seq_path, tmp_path):
    cfg = RunConfig(
        input_path=seq_path, output_path=str(tmp_path / "out"),
        tiers=TIERS, nsalt=2,
        verify_fidelity=True, source_limit=4,
    )
    res = run_pipeline(spark, cfg, str(tmp_path / "ck.json"))
    assert "verify_fidelity" in res.steps_run
    cat = IcebergLite(cfg.output_path)
    assert cat.read(spark, "fidelity").collect()[0]["bad_rows"] == 0


def test_run_multi_sequential_specs(spark, seq_path, tmp_path):
    cfgs = [
        RunConfig(
            input_path=seq_path, output_path=str(tmp_path / f"out{i}"),
            tiers=TIERS, nsalt=2, source_limit=2,
        )
        for i in range(2)
    ]
    results = run_multi(spark, cfgs, str(tmp_path / "cks"))
    assert all("encode" in r.steps_run for r in results)
    for i in range(2):
        assert IcebergLite(str(tmp_path / f"out{i}")).exists("tier_1m")


def test_make_config_cli_round_trip(tmp_path):
    from jobs.make_config import main

    spec = str(tmp_path / "run.json")
    main([
        "--input", "/x/seq", "--output", "/x/wh",
        "--tiers", "1m:60", "1h:3600:24",
        "--nsalt", "4", "--source-limit", "5", "--verify-fidelity",
        "-o", spec,
    ])
    cfg = RunConfig.read(spec)
    assert cfg.tiers[1].retention_buckets == 24
    assert cfg.source_limit == 5 and cfg.verify_fidelity
    with pytest.raises(ValueError):
        RunConfig(input_path="a", output_path="b", source_limit=0).validate()


def test_write_mode_overwrite_redoes_steps(spark, seq_path, tmp_path):
    cfg = RunConfig(
        input_path=seq_path, output_path=str(tmp_path / "out"),
        tiers=TIERS, nsalt=2, source_limit=2,
    )
    ck = str(tmp_path / "ck.json")
    first = run_pipeline(spark, cfg, ck)
    assert "encode" in first.steps_run
    # skip mode: everything already committed
    again = run_pipeline(spark, cfg, ck)
    assert not again.steps_run
    # overwrite mode: all steps redone, tables get new snapshots
    redo = run_pipeline(spark, cfg.with_(write_mode="overwrite"), ck)
    assert set(redo.steps_run) >= set(first.steps_run)
    cat = IcebergLite(cfg.output_path)
    assert cat.current_snapshot_id("tier_1m") >= 2


def test_meta_replication_on_tiers(spark, seq_path, tmp_path):
    """meta_once=False (default): per-source metadata rides every tier
    row via broadcast join — the reference's metadata write loop."""
    cfg = RunConfig(
        input_path=seq_path, output_path=str(tmp_path / "out"),
        tiers=TIERS, nsalt=2, source_limit=2,
    )
    run_pipeline(spark, cfg, str(tmp_path / "ck.json"))
    cat = IcebergLite(cfg.output_path)
    tier = cat.read(spark, "tier_1m")
    assert {"src_n_docs", "src_total_tok"} <= set(tier.columns)
    meta = {r["source"]: r["n_docs"]
            for r in cat.read(spark, "meta_source").collect()}
    per_src = tier.groupBy("source").agg(
        F.sum("cnt").alias("s"), F.first("src_n_docs").alias("m")
    ).collect()
    for r in per_src:
        assert r["s"] == r["m"] == meta[r["source"]]

    # once-file mode: metadata only in meta_source
    cfg2 = cfg.with_(output_path=str(tmp_path / "out_once"), meta_once=True)
    run_pipeline(spark, cfg2, str(tmp_path / "ck2.json"))
    t2 = IcebergLite(cfg2.output_path).read(spark, "tier_1m")
    assert "src_n_docs" not in t2.columns


def test_auto_nsalt(spark, seq_path, tmp_path):
    from pyreshaper_spark.fixtures import sequences_df
    from pyreshaper_spark.operators.transpose import suggest_nsalt

    sk = sequences_df(spark, SF, variant="skew")
    assert suggest_nsalt(sk, target_chunk_rows=100) >= 4  # 450 hot rows
    assert suggest_nsalt(sk, target_chunk_rows=10**9) == 1
    # pipeline accepts nsalt=0 (auto)
    cfg = RunConfig(
        input_path=seq_path, output_path=str(tmp_path / "out"),
        tiers=TIERS, nsalt=0, source_limit=2,
    )
    res = run_pipeline(spark, cfg, str(tmp_path / "ck.json"))
    assert "encode" in res.steps_run


def test_write_mode_append_encodes_new_files(spark, tmp_path):
    """Incremental append: new input files arriving after a completed
    run are rolled up AND encoded on the next append-mode run — even
    when their rows land inside existing (source, salt) chunks (extra
    chunk rows). Re-running with nothing new stays idempotent."""
    from pyreshaper_spark.operators.encode import decode_series_table
    from pyreshaper_spark.plans.checkpoint import Checkpoint

    seq = sequences_df(spark, SF)
    part = F.abs(F.xxhash64(F.col("doc_id").cast("string"))) % 2
    p = str(tmp_path / "inc_seq")
    seq.filter(part == 0).write.parquet(p)
    cfg = RunConfig(
        input_path=p, output_path=str(tmp_path / "out"),
        tiers=TIERS, nsalt=2,
        write_mode="append",
    )
    ck = str(tmp_path / "ck.json")
    first = run_pipeline(spark, cfg, ck)
    assert "encode" in first.steps_run
    cat = IcebergLite(cfg.output_path)
    n_first = cat.read(spark, "series_enc").agg(F.sum("n")).collect()[0][0]
    assert n_first == seq.filter(part == 0).count()

    # second batch of files lands in the same input directory
    seq.filter(part == 1).write.mode("append").parquet(p)
    second = run_pipeline(spark, cfg, ck)
    # the silent-no-op bug: append must RE-RUN steps, not skip them
    assert "encode" in second.steps_run and not second.steps_skipped

    total = seq.count()
    dec = decode_series_table(cat.read(spark, "series_enc"))
    assert dec.count() == total
    assert dec.select("doc_id").distinct().count() == total  # no dups
    t = cat.read(spark, "tier_1m").agg(F.sum("cnt")).collect()[0][0]
    assert t == total  # tiers reflect the grown input

    # nsalt resolved once and pinned for chunk-identity stability
    assert Checkpoint.load(ck).nsalt == 2

    # idempotent: a third append run with no new files adds no rows
    run_pipeline(spark, cfg, ck)
    dec3 = decode_series_table(cat.read(spark, "series_enc"))
    assert dec3.count() == total
    assert dec3.select("doc_id").distinct().count() == total


def test_append_cycle_crash_replay_is_exact(spark, tmp_path):
    """Append-cycle pins: a run killed mid-cycle (after the tier-0
    merge commit) replays to EXACTLY the same content — no double-
    counted delta — and a file arriving mid-cycle is deferred to the
    next cycle, never lost."""
    from pyreshaper_spark.operators.encode import decode_series_table
    from pyreshaper_spark.plans.checkpoint import Checkpoint

    seq = sequences_df(spark, SF)
    part = F.abs(F.xxhash64(F.col("doc_id").cast("string"))) % 3
    p = str(tmp_path / "seq")
    seq.filter(part == 0).write.parquet(p)
    cfg = RunConfig(
        input_path=p, output_path=str(tmp_path / "out"),
        tiers=TIERS, nsalt=2,
        write_mode="append",
    )
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, cfg, ck)                       # cycle 1 complete
    assert Checkpoint.load(ck).cycle is None

    # cycle 2: second batch lands; run is killed right after the tier-0
    # merge commit (tier_1m) — pins must survive in the checkpoint
    seq.filter(part == 1).write.mode("append").parquet(p)
    partial = run_pipeline(spark, cfg, ck, stop_after="tier_1m")
    assert partial.steps_run[-1] == "tier_1m"
    assert Checkpoint.load(ck).cycle is not None

    # a THIRD batch arrives while the cycle is interrupted — the pinned
    # pending list must not include it
    seq.filter(part == 2).write.mode("append").parquet(p)

    # replay: tier merge re-commits identical content (no double count)
    run_pipeline(spark, cfg, ck)
    assert Checkpoint.load(ck).cycle is None
    cat = IcebergLite(cfg.output_path)
    two = seq.filter(part < 2)
    t = cat.read(spark, "tier_1m").agg(F.sum("cnt")).collect()[0][0]
    assert t == two.count()  # batches 0+1, batch 2 deferred
    dec = decode_series_table(cat.read(spark, "series_enc"))
    assert dec.count() == two.count()
    assert dec.select("doc_id").distinct().count() == two.count()

    # cycle 3 picks up the deferred batch
    run_pipeline(spark, cfg, ck)
    t = cat.read(spark, "tier_1m").agg(F.sum("cnt")).collect()[0][0]
    assert t == seq.count()
    dec = decode_series_table(cat.read(spark, "series_enc"))
    assert dec.select("doc_id").distinct().count() == seq.count()
    # per-bucket exactness vs a from-scratch batch rollup
    from pyreshaper_spark.operators.rollup import rollup_tier0

    want = sorted(
        rollup_tier0(spark.read.parquet(p), 60)
        .select("source", "bucket_s", "cnt", "sum_n_tok")
        .collect()
    )
    got = sorted(
        cat.read(spark, "tier_1m")
        .select("source", "bucket_s", "cnt", "sum_n_tok")
        .collect()
    )
    assert got == want


def test_overlap_mode_equals_sequential(spark, seq_path, tmp_path):
    """cfg.overlap runs encode concurrently with the tier chain; every
    committed table must be identical to the sequential run's."""
    seq_cfg = RunConfig(
        input_path=seq_path, output_path=str(tmp_path / "seq_out"),
        tiers=TIERS, nsalt=2,
    )
    ovl_cfg = seq_cfg.with_(output_path=str(tmp_path / "ovl_out"), overlap=True)
    r1 = run_pipeline(spark, seq_cfg, str(tmp_path / "ck1.json"))
    r2 = run_pipeline(spark, ovl_cfg, str(tmp_path / "ck2.json"))
    assert set(r1.steps_run) == set(r2.steps_run)
    c1, c2 = IcebergLite(seq_cfg.output_path), IcebergLite(ovl_cfg.output_path)
    for t in ["meta_source", "tier_1m", "tier_10m", "tier_10m_filled"]:
        a = {tuple(r) for r in c1.read(spark, t).collect()}
        b = {tuple(r) for r in c2.read(spark, t).collect()}
        assert a == b, t
    # series chunks: same (source, salt, n) multiset
    key = lambda c, t: sorted(
        (r["source"], r["salt"], r["n"])
        for r in c.read(spark, t).select("source", "salt", "n").collect()
    )
    assert key(c1, "series_enc") == key(c2, "series_enc")
    # overlapped run still checkpoints every step (resume-safe)
    r3 = run_pipeline(spark, ovl_cfg, str(tmp_path / "ck2.json"))
    assert r3.steps_run == [] and "encode" in r3.steps_skipped


def test_overlap_resume_after_partial_sequential_run(spark, seq_path, tmp_path):
    """A run killed mid-cascade (stop_after hook) must resume cleanly in
    overlap mode: committed steps skip, the rest (incl. encode on the
    second thread) complete, and the result equals a clean run."""
    cfg = RunConfig(
        input_path=seq_path, output_path=str(tmp_path / "out"),
        tiers=TIERS, nsalt=2, overlap=True,
    )
    ck = str(tmp_path / "ck.json")
    # overlap is ignored when stop_after is set (sequential semantics)
    r1 = run_pipeline(spark, cfg, ck, stop_after="tier_1m")
    assert "encode" not in r1.steps_run
    r2 = run_pipeline(spark, cfg, ck)
    assert "tier_1m" in r2.steps_skipped and "encode" in r2.steps_run
    # clean-run parity
    clean = cfg.with_(output_path=str(tmp_path / "clean"))
    run_pipeline(spark, clean, str(tmp_path / "ck2.json"))
    a, b = IcebergLite(cfg.output_path), IcebergLite(clean.output_path)
    for t in ["tier_1m", "tier_10m", "tier_10m_filled"]:
        assert ({tuple(r) for r in a.read(spark, t).collect()}
                == {tuple(r) for r in b.read(spark, t).collect()}), t
    enc = lambda c: sorted(
        (r["source"], r["salt"], r["n"])
        for r in c.read(spark, "series_enc").select("source", "salt", "n").collect()
    )
    assert enc(a) == enc(b)


def test_maintenance_compacts_append_cycles(spark, tmp_path):
    """After several append cycles, maintain() bin-packs series_enc,
    expires old snapshots, and every query result is unchanged —
    including decode fidelity and per-source stats pruning."""
    from pyreshaper_spark.operators.encode import decode_series_table
    from pyreshaper_spark.plans.pipeline import maintain

    seq = sequences_df(spark, SF)
    part = F.abs(F.xxhash64(F.col("doc_id").cast("string"))) % 3
    p = str(tmp_path / "inc_seq")
    seq.filter(part == 0).write.parquet(p)
    cfg = RunConfig(
        input_path=p, output_path=str(tmp_path / "out"),
        tiers=TIERS, nsalt=2,
        write_mode="append",
    )
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, cfg, ck)
    for i in (1, 2):
        seq.filter(part == i).write.mode("append").parquet(p)
        run_pipeline(spark, cfg, ck)

    cat = IcebergLite(cfg.output_path)
    n_files_before = len(cat._snapshot("series_enc", None)["files"])
    dec_before = {
        tuple(r) for r in decode_series_table(
            cat.read(spark, "series_enc")
        ).select("doc_id", "n_tok").collect()
    }
    tier_before = {
        tuple(r) for r in cat.read(spark, "tier_1m").collect()
    }

    rep = maintain(spark, cfg, min_files=2, expire_keep=1)
    assert rep["series_enc"]["compacted_snapshot"] is not None
    assert rep["series_enc"]["expired_files"] > 0
    snap = cat._snapshot("series_enc", None)
    assert len(snap["files"]) < n_files_before
    # manifest column stats survive compaction (per-source file skipping)
    assert all("stats" in f for f in snap["files"])

    dec_after = {
        tuple(r) for r in decode_series_table(
            cat.read(spark, "series_enc")
        ).select("doc_id", "n_tok").collect()
    }
    assert dec_after == dec_before
    assert {tuple(r) for r in cat.read(spark, "tier_1m").collect()} == tier_before


def test_maintain_job_cli(spark, tmp_path):
    """Every maintenance op through the spark-submit CLI surface:
    delete, restate (no-op ids), compact, changes, expire."""
    from jobs.maintain_job import main as maintain
    from jobs.make_config import main as mkcfg
    from pyreshaper_spark.fixtures import sequences_df
    from pyreshaper_spark.plans.pipeline import run_pipeline
    from pyreshaper_spark.config import RunConfig
    from pyreshaper_spark.sources.iceberglite import IcebergLite

    seq = sequences_df(spark, "/root/testdata/sf0.001").limit(300).cache()
    inp = str(tmp_path / "seq")
    seq.write.parquet(inp)
    cfg_p = str(tmp_path / "run.json")
    mkcfg([
        "--input", inp, "--output", str(tmp_path / "out"),
        "--tiers", "1m:60", "10m:600", "--nsalt", "2", "-o", cfg_p,
    ])
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, RunConfig.read(cfg_p), ck)
    cat = IcebergLite(str(tmp_path / "out"))
    base_sid = cat.current_snapshot_id("tier_1m")

    victims = [r["doc_id"] for r in seq.limit(2).collect()]
    out = maintain([
        "--config", cfg_p, "--checkpoint", ck, "delete",
        "--doc-ids", *victims,
    ])
    assert out["deleted_rows"] == 2 and "tier_1m" in out["tables_committed"]

    # rollup-cell audit of the delete: exactly the victims' cells
    # changed, total cnt delta == -2, every delta shrinking
    out = maintain([
        "--config", cfg_p, "--checkpoint", ck, "diff",
        "--table", "tier_1m", "--from-snapshot", str(base_sid),
        "--with-rows",
    ])
    assert out["n_cells_changed"] >= 1
    assert out["d_cnt_total"] == -2
    assert all(r["d_cnt"] <= 0 for r in out["rows"])
    assert len(out["rows"]) == out["n_cells_changed"]

    # restate ids whose input didn't change → exact no-op semantics
    ids_file = tmp_path / "ids.txt"
    ids_file.write_text("\n".join(
        r["doc_id"] for r in seq.limit(5).collect() if r["doc_id"] not in victims
    ))
    out = maintain([
        "--config", cfg_p, "--checkpoint", ck, "restate",
        "--doc-ids-file", str(ids_file),
    ])
    assert out["restated_positions"] >= 1

    out = maintain([
        "--config", cfg_p, "--checkpoint", ck, "compact",
        "--table", "tier_1m", "--min-files", "1",
        "--sort-by", "bucket_s", "--stats-cols", "bucket_s",
    ])
    assert out["snapshot_id"] is not None

    out = maintain([
        "--config", cfg_p, "--checkpoint", ck, "changes",
        "--table", "tier_1m", "--from-snapshot", str(base_sid),
    ])
    assert set(out["rows"]) <= {"insert", "delete"} and out["rows"]

    out = maintain([
        "--config", cfg_p, "--checkpoint", ck, "expire",
        "--table", "tier_1m", "--keep-last", "1",
    ])
    assert out["files_deleted"] >= 0

    out = maintain([
        "--config", cfg_p, "--checkpoint", ck, "remove-orphans",
        "--table", "tier_1m", "--older-than-s", "0",
    ])
    # compact + expire above leave at least the _SUCCESS markers behind
    assert out["files_removed"] >= 0 and out["dry_run"] is False
    assert cat.read(spark, "tier_1m").count() > 0


def test_append_retention_on_fine_tier_keeps_coarse_history(spark, tmp_path):
    """ADVICE r2 (medium): retention on a NON-coarsest tier must not bleed
    into coarser tiers across append cycles. The fine tier is pruned to a
    short window each cycle; the coarse tier must still carry FULL history,
    exactly matching a from-scratch run on the complete input."""
    from pyreshaper_spark.operators.rollup import rollup_cascade, rollup_tier0

    seq = sequences_df(spark, SF)
    part = F.abs(F.xxhash64(F.col("doc_id").cast("string"))) % 2
    p = str(tmp_path / "seq")
    seq.filter(part == 0).write.parquet(p)
    tiers = (
        TierSpec("1m", 60, retention_buckets=30),  # fine tier pruned hard
        TierSpec("10m", 600),                      # coarse: keep everything
    )
    cfg = RunConfig(
        input_path=p, output_path=str(tmp_path / "out"),
        tiers=tiers, nsalt=2,
        write_mode="append",
    )
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, cfg, ck)  # cycle 1 (prunes tier_1m at the end)
    seq.filter(part == 1).write.mode("append").parquet(p)
    run_pipeline(spark, cfg, ck)  # cycle 2 must NOT rebuild 10m from pruned 1m

    cat = IcebergLite(cfg.output_path)
    got = {
        (r["source"], r["bucket_s"], r["cnt"], r["sum_n_tok"])
        for r in cat.read(spark, "tier_10m").collect()
    }
    want = {
        (r["source"], r["bucket_s"], r["cnt"], r["sum_n_tok"])
        for r in rollup_cascade(rollup_tier0(seq, 60), 600).collect()
    }
    assert got == want  # full coarse history, bit-exact vs from-scratch


def test_append_new_tier_backfills_full_history(spark, tmp_path):
    """A tier ADDED to the config between append cycles has no pinned
    base — the next cycle must backfill it from the full raw input, not
    commit a delta-only table that silently truncates history to the
    pending files' buckets."""
    from pyreshaper_spark.operators.rollup import rollup_tier0

    seq = sequences_df(spark, SF)
    part = F.abs(F.xxhash64(F.col("doc_id").cast("string"))) % 2
    p = str(tmp_path / "seq")
    seq.filter(part == 0).write.parquet(p)
    base_kw = dict(
        input_path=p, output_path=str(tmp_path / "out"),
        nsalt=2, write_mode="append",
    )
    cfg1 = RunConfig(tiers=(TierSpec("1m", 60),), **base_kw)
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, cfg1, ck)  # cycle 1: only tier_1m exists

    # cycle 2: new files + a new coarser tier
    seq.filter(part == 1).write.mode("append").parquet(p)
    cfg2 = RunConfig(
        tiers=(TierSpec("1m", 60), TierSpec("10m", 600)), **base_kw,
    )
    run_pipeline(spark, cfg2, ck)

    cat = IcebergLite(cfg2.output_path)
    # the new tier carries FULL history (cycle-1 + cycle-2 rows), not
    # just the cycle-2 delta
    assert (
        cat.read(spark, "tier_10m").agg(F.sum("cnt")).collect()[0][0]
        == seq.count()
    )
    got = {
        (r["source"], r["bucket_s"], r["cnt"])
        for r in cat.read(spark, "tier_10m").collect()
    }
    want = {
        (r["source"], r["bucket_s"], r["cnt"])
        for r in rollup_tier0(seq, 600).collect()
    }
    assert got == want


def test_expire_snapshots_rejects_keep_last_zero(spark, tmp_path):
    cat = IcebergLite(str(tmp_path / "t"))
    cat.overwrite("x", spark.range(3))
    with pytest.raises(ValueError, match="keep_last"):
        cat.expire_snapshots("x", keep_last=0)


def test_read_changes_empty_table_returns_empty_changelog(spark, tmp_path):
    """ADVICE r2 (low): polling an idle or fully-pruned table yields an
    EMPTY typed changelog, not SnapshotNotFound."""
    cat = IcebergLite(str(tmp_path / "t"))
    df = spark.range(5).withColumnRenamed("id", "k")
    s1 = cat.overwrite("x", df)
    s2 = cat.overwrite("x", df.limit(0))  # table now empty
    ch = cat.read_changes(spark, "x", s2, s2)  # no changes, empty to-snap
    assert ch.count() == 0
    assert set(ch.columns) == {"k", "_change_type"}


def test_suggest_nsalt_sampled_estimate(spark):
    """The 1% hash-sample estimate lands within one power-of-two step of
    the exact suggestion on a skewed input (the rounding absorbs
    sampling error); tiny samples degrade to nsalt=1, never crash."""
    from pyreshaper_spark.operators.transpose import suggest_nsalt

    sk = sequences_df(spark, SF, variant="skew")
    exact = suggest_nsalt(sk, target_chunk_rows=20)
    est = suggest_nsalt(sk, target_chunk_rows=20, sample_denom=10)
    assert est in (exact // 2, exact, exact * 2)
    assert suggest_nsalt(sk, target_chunk_rows=20, sample_denom=10**9) == 1


def test_maintain_job_cli_refresh(spark, tmp_path):
    """The refresh subcommand: iceberglite-table input, an input upsert
    commit, CLI refresh between snapshots converges the tier tables."""
    from jobs.maintain_job import main as maintain
    from pyreshaper_spark.operators.rollup import rollup_tier0
    from pyreshaper_spark.plans.pipeline import run_pipeline

    seq = sequences_df(spark, SF).limit(200).cache()
    cols = ["doc_id", "tokens", "n_tok", "source", "event_s"]
    in_root = str(tmp_path / "in_cat")
    cat_in = IcebergLite(in_root)
    s1 = cat_in.overwrite("seq", seq.select(*cols))

    cfg = RunConfig(
        input_path=f"{in_root}::seq", output_path=str(tmp_path / "out"),
        tiers=TIERS, nsalt=2,
        input_format="iceberglite",
    )
    cfg_p = str(tmp_path / "run.json")
    cfg.write(cfg_p)
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, cfg, ck)

    victims = [r["doc_id"] for r in seq.limit(2).collect()]
    keys = spark.createDataFrame([(d,) for d in victims], "doc_id string")
    cat_in.replace_rows(spark, "seq", keys=keys, key_cols=("doc_id",))

    out = maintain([
        "--config", cfg_p, "--checkpoint", ck, "refresh",
        "--from-snapshot", str(s1),
    ])
    assert out["changed_docs"] == 2

    cat = IcebergLite(cfg.output_path)
    live = cat_in.read(spark, "seq")
    got = {
        (r["source"], r["bucket_s"], r["cnt"])
        for r in cat.read(spark, "tier_1m").collect()
    }
    want = {
        (r["source"], r["bucket_s"], r["cnt"])
        for r in rollup_tier0(
            live.withColumn("event_s", F.col("event_s")), 60
        ).collect()
    }
    assert got == want


def test_empty_input_runs_end_to_end(spark, tmp_path):
    """An empty (zero-row, schema-typed) input corpus is a legitimate
    state — the pipeline must commit typed empty tables at every step
    (tiers, fill, encode, metrics, fidelity gate) instead of raising
    SnapshotNotFound in the cascade."""
    inp = str(tmp_path / "seq")
    sequences_df(spark, SF).limit(0).write.parquet(inp)
    cfg = RunConfig(
        input_path=inp, output_path=str(tmp_path / "out"),
        tiers=TIERS, verify_fidelity=True,
    )
    res = run_pipeline(spark, cfg, str(tmp_path / "ck"))
    assert "encode" in res.steps_run and "verify_fidelity" in res.steps_run
    cat = IcebergLite(str(tmp_path / "out"))
    for t in ("tier_1m", "tier_10m", "series_enc", "metrics"):
        df = cat.read(spark, t, allow_empty=True)
        assert df.count() == 0 and len(df.columns) > 0

    # maintenance over the empty run output is a clean no-op too
    from pyreshaper_spark.plans.delete import delete_docs

    rep = delete_docs(spark, cfg, str(tmp_path / "ck"), ["doc-nope"])
    assert isinstance(rep, dict)
    assert cat.read(spark, "tier_1m", allow_empty=True).count() == 0


def test_delete_after_empty_run_with_late_arriving_input(spark, tmp_path):
    """Regression: delete_docs on a run whose tiers are still typed-empty
    (empty first run) but whose INPUT dir has since received files must
    repair from raw — with a retention tier, the live table's high-water
    is None and must not poison the resurrect filter (None - int)."""
    inp = str(tmp_path / "seq")
    seq = sequences_df(spark, SF)
    seq.limit(0).write.parquet(inp)
    cfg = RunConfig(
        input_path=inp, output_path=str(tmp_path / "out"),
        tiers=(TierSpec("1m", 60), TierSpec("10m", 600, retention_buckets=4)),
    )
    run_pipeline(spark, cfg, str(tmp_path / "ck"))

    # data lands in the input dir AFTER the (empty) run
    seq.write.mode("append").parquet(inp)
    victim = seq.select("doc_id").first()["doc_id"]

    from pyreshaper_spark.plans.delete import delete_docs

    rep = delete_docs(spark, cfg, str(tmp_path / "ck"), [victim])
    assert rep["deleted_rows"] >= 1
    cat = IcebergLite(str(tmp_path / "out"))
    # the run output had ingested nothing, so the repaired tier is
    # still (typed) empty — the point is the hw=None retention filter
    # ran without crashing; the late files belong to the NEXT append run
    t = cat.read(spark, "tier_10m", allow_empty=True)
    assert t.count() == 0 and "bucket_s" in t.columns
