"""Text-analysis operators. Semantics tests here; exact oracle parity is covered by
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
