"""Input-validation gate — the reference's hard-fail inspection phase
recast (FIXTURES.md F4 assertions 1-2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyreshaper_spark.operators import validate as V
from pyreshaper_spark.operators.rollup import rollup_tier0


def test_valid_input_passes(seq):
    V.validate_input(seq)


def test_missing_column_fails(seq):
    with pytest.raises(V.ValidationError, match="missing columns"):
        V.check_schema(seq.drop("n_tok"))


def test_duplicate_doc_ids_fail(seq):
    dup = seq.union(seq.limit(1))
    with pytest.raises(V.ValidationError, match="duplicated doc_ids"):
        V.validate_input(dup)


def test_n_tok_contract_violation_fails(seq):
    broken = seq.withColumn(
        "n_tok", F.when(F.col("source") == "src1", F.col("n_tok") + 1).otherwise(F.col("n_tok"))
    )
    with pytest.raises(V.ValidationError, match="null/n_tok"):
        V.validate_input(broken)


def test_tier_monotonicity_holds(seq):
    tier = rollup_tier0(seq, 60)
    assert V.count_monotonicity_violations(tier) == 0


def test_source_completeness(seq):
    tier = rollup_tier0(seq, 60)
    V.check_source_completeness(seq, tier)
    with pytest.raises(V.ValidationError):
        V.check_source_completeness(seq, tier.filter(F.col("source") != "src1"))


def test_defer_mode_prunes_tokens_and_encoder_enforces(seq):
    from pyreshaper_spark.operators.encode import encode_series_table
    from pyreshaper_spark.operators.transpose import transpose_to_series

    broken = seq.withColumn(
        "n_tok",
        F.when(F.col("source") == "src1", F.col("n_tok") + 1).otherwise(
            F.col("n_tok")
        ),
    )
    # defer: the narrow gate passes (nulls/uniqueness fine) …
    V.validate_input(broken, token_sizes="defer")
    # … and the encode pass raises on the deferred size contract,
    # on both the packed and the unpacked path
    for pack in (True, False):
        enc = encode_series_table(
            transpose_to_series(broken, nsalt=2, pack=pack)
        )
        with pytest.raises(Exception, match="n_tok == size"):
            enc.count()
    # clean input encodes fine under the same paths
    assert (
        encode_series_table(
            transpose_to_series(seq, nsalt=2, pack=True)
        ).count()
        > 0
    )


def test_check_doc_ids_paths(seq):
    """The concurrent doc_id-only gate: pass / null / duplicate."""
    V.check_doc_ids(seq)
    with pytest.raises(V.ValidationError, match="duplicated doc_ids"):
        V.check_doc_ids(seq.union(seq.limit(1)))
    nulled = seq.withColumn(
        "doc_id",
        F.when(F.col("source") == "src1", F.lit(None)).otherwise(
            F.col("doc_id")
        ),
    )
    with pytest.raises(V.ValidationError, match="null doc_id"):
        V.check_doc_ids(nulled)


def test_head_aggregate_fuses_tier0_meta_and_counters(seq):
    """One scan ≡ the three scans it replaces, column for column."""
    from pyreshaper_spark.operators.rollup import (
        AGG_COLS,
        head_aggregate,
        meta_from_head,
    )

    head = head_aggregate(seq, 60)
    # tier-0 face: identical to rollup_tier0
    from tests.conftest import rows_set

    assert rows_set(head.select("source", "bucket_s", *AGG_COLS)) == rows_set(
        rollup_tier0(seq, 60)
    )
    # meta face: identical to the direct per-source aggregate
    direct = seq.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tok"),
        F.min("event_s").alias("first_event_s"),
        F.max("event_s").alias("last_event_s"),
    )
    assert rows_set(meta_from_head(head)) == rows_set(direct)
    # counter face: clean input has zero bad rows; a negative n_tok and
    # a null source are each counted
    assert head.agg(F.sum("bad_rows")).collect()[0][0] == 0
    broken = seq.withColumn(
        "n_tok",
        F.when(F.col("doc_id") == seq.first()["doc_id"], -1).otherwise(
            F.col("n_tok")
        ),
    )
    assert (
        head_aggregate(broken, 60).agg(F.sum("bad_rows")).collect()[0][0] == 1
    )


@pytest.mark.parametrize("overlap", [False, True])
def test_pipeline_rejects_bad_input_before_any_commit(
    spark, seq, tmp_path, overlap
):
    """The fused gate keeps the old semantics: a contract-violating
    input aborts the run with NO table committed — including in overlap
    mode, where the encode stage COMPUTES concurrently with validation
    but its manifest commit is gated on the validation event (orphan
    data files are allowed; a committed snapshot is not)."""
    from pyreshaper_spark.config import RunConfig
    from pyreshaper_spark.plans.pipeline import run_pipeline

    inp = str(tmp_path / "seq_bad")
    seq.withColumn(
        "n_tok", F.when(F.col("source") == "src1", None).otherwise(F.col("n_tok"))
    ).write.parquet(inp)
    out = str(tmp_path / f"out_{overlap}")
    cfg = RunConfig(input_path=inp, output_path=out, nsalt=2,
                    overlap=overlap)
    with pytest.raises(V.ValidationError, match="null/n_tok"):
        run_pipeline(spark, cfg, str(tmp_path / f"ckpt_{overlap}.json"))
    from pyreshaper_spark.sources.iceberglite import IcebergLite

    cat = IcebergLite(out)
    # the gate makes "never commits" race-free by construction: the
    # encode thread's commit path re-raises on the recorded val_err, so
    # no post-raise wait is needed before asserting
    for t in ("tier_1m", "meta_source", "series_enc", "metrics"):
        assert not cat.exists(t)
