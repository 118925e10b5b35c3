"""Text-analysis operators and the manifest-pruned ``sql.read_tier``.
Semantics tests here; exact oracle parity is covered by
tools/oracle_check.py over __spark_entry__ entries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyreshaper_spark.operators import text
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").cache()


def test_text_stats_consistency(docs):
    r = text.text_stats(docs)
    bad = r.filter(
        (F.col("n_distinct_words") > F.col("n_words"))
        | (F.col("n_words") <= 0)
        | (F.col("total_word_chars") < F.col("n_words"))  # words ≥ 1 char
    )
    assert bad.count() == 0
    assert r.count() == docs.count()


def test_quality_flag_integer_ratio(docs):
    r = text.quality_score(docs)
    row = r.filter(F.col("ok") == 1).first()
    assert row is not None
    assert 10 <= row["n_words"] <= 100000


def test_lang_id_deterministic_argmax(docs):
    r = text.lang_id(docs)
    assert r.count() == docs.count()
    langs = {x["lang_pred"] for x in r.select("lang_pred").distinct().collect()}
    assert langs <= set(text.LANG_MARKERS)


def test_fingerprint_detects_reorder(spark):
    d = spark.createDataFrame(
        [(1, "aa bb cc"), (2, "cc bb aa"), (3, "aa bb cc")],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x for x in text.fingerprint(d).collect()}
    assert r[1]["fp_roll"] == r[3]["fp_roll"]
    assert r[1]["fp_roll"] != r[2]["fp_roll"]  # order-sensitive
    assert r[1]["fp_set_sum"] == r[2]["fp_set_sum"]  # order-insensitive


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
