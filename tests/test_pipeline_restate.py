"""Restatement (plans.delete.restate_docs): after in-place input
corrections — payload edits, a source/bucket move, a removal, a
brand-new doc — every table must equal a from-scratch run on the
corrected input, at victim-bounded cost."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyreshaper_spark.config import RunConfig, TierSpec
from pyreshaper_spark.fixtures import sequences_df
from pyreshaper_spark.operators.encode import decode_series_table
from pyreshaper_spark.plans.delete import restate_docs
from pyreshaper_spark.plans.pipeline import run_pipeline
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


@pytest.fixture(scope="module")
def restated_state(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("restate")
    seq = sequences_df(spark, SF).cache()
    srcs = sorted(r[0] for r in seq.select("source").distinct().collect())
    docs = [
        r["doc_id"]
        for r in seq.filter(F.col("source") == srcs[1])
        .select("doc_id").orderBy("doc_id").limit(3).collect()
    ]
    d_payload, d_move, d_gone = docs
    d_new = "restated-new-doc"

    full_p = str(root / "seq_orig")
    seq.write.parquet(full_p)

    # corrected input: payload edit, source+bucket move, removal, insert
    corrected = (
        seq.filter(F.col("doc_id") != d_gone)
        .withColumn(
            "tokens",
            F.when(
                F.col("doc_id") == d_payload, F.expr("slice(tokens, 1, 5)")
            ).otherwise(F.col("tokens")),
        )
        .withColumn(
            "n_tok",
            F.when(F.col("doc_id") == d_payload, F.lit(5)).otherwise(
                F.col("n_tok")
            ),
        )
        .withColumn(
            "source",
            F.when(F.col("doc_id") == d_move, F.lit(srcs[2])).otherwise(
                F.col("source")
            ),
        )
        .withColumn(
            "event_s",
            F.when(
                F.col("doc_id") == d_move, F.col("event_s") + 7200
            ).otherwise(F.col("event_s")),
        )
    )
    new_row = spark.createDataFrame(
        [(d_new, [1, 2, 3, 4], 4, srcs[0], 1704067777)],
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "event_s long",
    )
    corrected = corrected.unionByName(new_row)
    corr_p = str(root / "seq_corrected")
    corrected.write.parquet(corr_p)

    # run on the original, then restate against the corrected input
    cfg = _cfg(full_p, str(root / "out"), verify_fidelity=True)
    ck = str(root / "ck.json")
    run_pipeline(spark, cfg, ck)
    corr_cfg = _cfg(corr_p, str(root / "out"), verify_fidelity=True)
    report = restate_docs(
        spark, corr_cfg, ck, [d_payload, d_move, d_gone, d_new]
    )

    ref_cfg = _cfg(corr_p, str(root / "ref_out"))
    run_pipeline(spark, ref_cfg, str(root / "ref_ck.json"))
    return {
        "cfg": corr_cfg, "ref_cfg": ref_cfg, "report": report,
        "moved": d_move, "gone": d_gone, "new": d_new,
        "payload": d_payload, "to_src": srcs[2],
    }


TABLES = (
    "tier_1m", "tier_10m", "tier_1h",
    "tier_10m_filled", "tier_1h_filled",
    "meta_source",
)


@pytest.mark.parametrize("table", TABLES)
def test_tables_equal_fresh_run(spark, restated_state, table):
    cat = IcebergLite(restated_state["cfg"].output_path)
    ref = IcebergLite(restated_state["ref_cfg"].output_path)
    assert _rows(cat.read(spark, table)) == _rows(ref.read(spark, table))


def test_series_decode_equals_fresh_run(spark, restated_state):
    cat = IcebergLite(restated_state["cfg"].output_path)
    ref = IcebergLite(restated_state["ref_cfg"].output_path)
    got = decode_series_table(cat.read(spark, "series_enc"))
    want = decode_series_table(ref.read(spark, "series_enc"))
    assert _rows(got) == _rows(want)


def test_moved_doc_lives_only_at_new_position(spark, restated_state):
    cat = IcebergLite(restated_state["cfg"].output_path)
    dec = decode_series_table(cat.read(spark, "series_enc"))
    moved = dec.filter(F.col("doc_id") == restated_state["moved"]).collect()
    assert len(moved) == 1
    assert moved[0]["source"] == restated_state["to_src"]
    gone = dec.filter(F.col("doc_id") == restated_state["gone"]).count()
    assert gone == 0
    new = dec.filter(F.col("doc_id") == restated_state["new"]).collect()
    assert len(new) == 1 and list(new[0]["tokens"]) == [1, 2, 3, 4]
    pay = dec.filter(F.col("doc_id") == restated_state["payload"]).collect()
    assert len(pay) == 1 and len(pay[0]["tokens"]) == 5


def test_restate_nothing_is_noop(spark, tmp_path):
    seq = sequences_df(spark, SF).limit(100)
    p = str(tmp_path / "seq")
    seq.write.parquet(p)
    cfg = _cfg(p, str(tmp_path / "out"))
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, cfg, ck)
    cat = IcebergLite(cfg.output_path)
    before = cat.current_snapshot_id("series_enc")
    report = restate_docs(spark, cfg, ck, ["no-such-doc"])
    assert report["restated_positions"] == 0
    assert cat.current_snapshot_id("series_enc") == before


def test_unchanged_restate_is_lossless(spark, tmp_path):
    """Restating docs whose input did NOT change must leave every row
    identical (the repair is exact, not just convergent)."""
    seq = sequences_df(spark, SF).limit(150)
    p = str(tmp_path / "seq")
    seq.write.parquet(p)
    cfg = _cfg(p, str(tmp_path / "out"))
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, cfg, ck)
    cat = IcebergLite(cfg.output_path)
    some = [r["doc_id"] for r in seq.limit(5).collect()]
    before = _rows(cat.read(spark, "tier_1m"))
    dec_before = _rows(decode_series_table(cat.read(spark, "series_enc")))
    restate_docs(spark, cfg, ck, some)
    assert _rows(cat.read(spark, "tier_1m")) == before
    assert (
        _rows(decode_series_table(cat.read(spark, "series_enc")))
        == dec_before
    )


def test_refresh_from_changes_cdc(spark, tmp_path):
    """CDC-driven refresh: the pipeline input lives in an IcebergLite
    table; after an upsert + delete + append commit to the input, a
    refresh between the two input snapshots converges every table to a
    from-scratch run on the new input — and an empty changelog is a
    no-op that commits nothing."""
    from pyreshaper_spark.plans.delete import refresh_from_changes

    seq = sequences_df(spark, SF)
    in_root = str(tmp_path / "in_cat")
    cat_in = IcebergLite(in_root)
    cols = ["doc_id", "tokens", "n_tok", "source", "event_s"]
    s1 = cat_in.overwrite("seq", seq.select(*cols))

    cfg = _cfg(
        f"{in_root}::seq", str(tmp_path / "out"),
        input_format="iceberglite",
    )
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, cfg, ck)

    # mutate the input: delete 3 docs, rewrite 2 (shifted event time,
    # different tokens), insert 2 brand-new docs — one atomic commit
    docs = sorted(r["doc_id"] for r in seq.select("doc_id").collect())
    gone, edited = docs[:3], docs[3:5]
    new_rows = spark.createDataFrame(
        [("new_a", [1, 2, 3], 3, "src0", 1704067200 + 123),
         ("new_b", [9, 9], 2, "src1", 1704067200 + 456)],
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "event_s long",
    )
    edited_rows = (
        seq.filter(F.col("doc_id").isin(edited))
        .select(*cols)
        .withColumn("event_s", F.col("event_s") + 7200)
        .withColumn("tokens", F.slice("tokens", 1, 2))
        .withColumn("n_tok", F.least(F.col("n_tok"), F.lit(2)))
    )
    keys = spark.createDataFrame(
        [(d,) for d in gone + edited], "doc_id string"
    )
    cat_in.replace_rows(
        spark, "seq", keys=keys, key_cols=("doc_id",),
        replacement=edited_rows.unionByName(
            new_rows.select(*edited_rows.columns)
        ),
    )

    rep = refresh_from_changes(spark, cfg, ck, from_snapshot_id=s1)
    assert rep["changed_docs"] == 7  # 3 gone + 2 edited + 2 new

    # from-scratch reference on the live input
    ref_cfg = _cfg(
        f"{in_root}::seq", str(tmp_path / "ref_out"),
        input_format="iceberglite",
    )
    run_pipeline(spark, ref_cfg, str(tmp_path / "ref_ck.json"))
    cat = IcebergLite(cfg.output_path)
    ref = IcebergLite(ref_cfg.output_path)
    from pyreshaper_spark.operators.encode import decode_series_table

    for t in ("tier_1m", "tier_10m", "tier_1h", "meta_source"):
        assert _rows(cat.read(spark, t)) == _rows(ref.read(spark, t)), t
    got = _rows(
        decode_series_table(cat.read(spark, "series_enc"))
        .select("doc_id", "tokens", "event_s")
    )
    want = _rows(
        decode_series_table(ref.read(spark, "series_enc"))
        .select("doc_id", "tokens", "event_s")
    )
    assert got == want

    # the refresh reports which input snapshot it converged to
    cur = cat_in.current_snapshot_id("seq")
    assert rep["input_snapshot_id"] == cur

    # empty changelog → no-op
    rep2 = refresh_from_changes(spark, cfg, ck, from_snapshot_id=cur)
    assert rep2["changed_docs"] == 0 and rep2["snapshot_ids"] == {}

    # a stale ::pin in input_path must be rejected, not silently
    # ignored — the restate would read the pinned (old) snapshot and
    # converge the tables to neither endpoint
    import dataclasses as _dc
    import pytest as _pytest

    pinned_cfg = _dc.replace(cfg, input_path=f"{in_root}::seq::{s1}")
    with _pytest.raises(ValueError, match="pins snapshot"):
        refresh_from_changes(spark, pinned_cfg, ck, from_snapshot_id=s1)
    # ... while a pin that MATCHES the refresh target is fine (no-op
    # here: from == to yields an empty changelog)
    ok_cfg = _dc.replace(cfg, input_path=f"{in_root}::seq::{cur}")
    rep3 = refresh_from_changes(spark, ok_cfg, ck, from_snapshot_id=cur)
    assert rep3["changed_docs"] == 0
