"""Slice→series transpose + encode/decode round-trip + port-fidelity
invariant (FIXTURES.md F3/F6; the reference's core conversion tests)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyreshaper_spark.fixtures import sequences_df
from pyreshaper_spark.operators.encode import (
    compression_report,
    decode_series_table,
    encode_series_table,
)
from pyreshaper_spark.operators.transpose import transpose_to_series, with_salt
from tests.conftest import SF_SMOKE

NSALT = 4


@pytest.fixture(scope="module")
def series(spark, seq):
    return transpose_to_series(seq, nsalt=NSALT).cache()


@pytest.fixture(scope="module")
def encoded(series):
    return encode_series_table(series).cache()


def test_transpose_preserves_rows_exactly(seq, series):
    assert series.count() == seq.count()
    assert series.select("doc_id").distinct().count() == seq.count()


def test_transpose_token_fidelity_invariant(seq, series):
    """Per-row token-array equality source vs reorganized (BASELINE.json:15)."""
    j = seq.alias("a").join(series.alias("b"), "doc_id", "full_outer")
    missing = j.filter(F.col("a.tokens").isNull() | F.col("b.tokens").isNull())
    assert missing.count() == 0
    mismatch = j.filter(F.col("a.tokens") != F.col("b.tokens"))
    assert mismatch.count() == 0


def test_salt_is_deterministic_and_bounded(seq):
    s1 = with_salt(seq, NSALT).select("doc_id", "salt")
    s2 = with_salt(seq, NSALT).select("doc_id", "salt")
    assert s1.exceptAll(s2).count() == 0
    rng = s1.agg(F.min("salt"), F.max("salt")).collect()[0]
    assert rng[0] >= 0 and rng[1] < NSALT


def test_one_encoded_chunk_per_source_salt(series, encoded):
    expected = series.select("source", "salt").distinct().count()
    assert encoded.count() == expected
    # variable completeness: every source present
    assert (
        series.select("source").distinct().exceptAll(
            encoded.select("source").distinct()
        ).count()
        == 0
    )


def test_decode_roundtrip_exact(seq, encoded):
    """decode(encode(x)) == x: event times, n_tok, doc ids AND full
    token arrays — the fidelity golden through the codec path."""
    dec = decode_series_table(encoded)
    assert dec.count() == seq.count()
    j = seq.alias("a").join(dec.alias("b"), "doc_id", "full_outer")
    bad = j.filter(
        F.col("a.tokens").isNull()
        | F.col("b.tokens").isNull()
        | (F.col("a.tokens") != F.col("b.tokens"))
        | (F.col("a.n_tok") != F.col("b.n_tok"))
        | (F.col("a.event_s") != F.col("b.event_s"))
        | (F.col("a.source") != F.col("b.source"))
    )
    assert bad.count() == 0


def test_decoded_series_time_ordered(encoded):
    """Within each encoded chunk, decoded event times are non-decreasing
    (the reference's time-ordering output assertion)."""
    from pyspark.sql import Window

    dec = decode_series_table(encoded)
    w = Window.partitionBy("source", "salt").orderBy("event_s")
    viol = (
        dec.withColumn("prev", F.lag("event_s").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("event_s") < F.col("prev")))
    )
    assert viol.count() == 0


def test_lineage_columns_populated(encoded):
    row = compression_report(encoded).collect()[0]
    assert row["points"] > 0 and row["raw_bytes"] > row["enc_bytes"] > 0
    bad = encoded.filter(
        (F.col("partition_id") < 0) | (F.col("wall_ms") < 0) | (F.col("n") <= 0)
    )
    assert bad.count() == 0


def test_skewed_source_splits_across_salts(spark):
    """F3: hot source must spread over all NSALT chunks, none dominating."""
    sk = sequences_df(spark, SF_SMOKE, variant="skew")
    series = transpose_to_series(sk, nsalt=NSALT)
    enc = encode_series_table(series)
    hot = enc.filter(F.col("source") == "srcHOT").select("salt", "n").collect()
    assert len(hot) == NSALT
    sizes = sorted(r["n"] for r in hot)
    assert sizes[-1] <= 2 * sizes[0]  # roughly balanced chunks


def test_packed_path_roundtrip_exact(spark, seq):
    """pack=True (u16 binary through the shuffle) must be byte-exact
    with the list<int> path after decode."""
    series = transpose_to_series(seq, nsalt=NSALT, pack=True)
    assert "tok_bin" in series.columns and "tokens" not in series.columns
    dec = decode_series_table(encode_series_table(series))
    j = seq.alias("a").join(dec.alias("b"), "doc_id", "full_outer")
    bad = j.filter(
        F.col("a.tokens").isNull()
        | F.col("b.tokens").isNull()
        | (F.col("a.tokens") != F.col("b.tokens"))
        | (F.col("a.event_s") != F.col("b.event_s"))
    )
    assert bad.count() == 0


def test_chunk_cap_splits_large_groups(spark):
    """A group larger than MAX_POINTS_PER_CHUNK becomes multiple chunks
    whose decoded concatenation is exact (bounded-memory invariant)."""
    from pyreshaper_spark.operators.encode import MAX_POINTS_PER_CHUNK

    n = MAX_POINTS_PER_CHUNK + 1000
    seq = (
        spark.range(n)
        .selectExpr(
            "cast(id as string) as doc_id",
            "array(cast(id % 50000 as int)) as tokens",
            "1 as n_tok",
            "'hot' as source",
            "id as event_s",
        )
    )
    series = transpose_to_series(seq, nsalt=1, pack=True)
    enc = encode_series_table(series).cache()
    assert enc.count() >= 2  # split into chunks
    assert enc.agg(F.max("n")).collect()[0][0] <= MAX_POINTS_PER_CHUNK
    dec = decode_series_table(enc)
    assert dec.count() == n
    assert dec.agg(F.sum("event_s")).collect()[0][0] == n * (n - 1) // 2


def test_groups_stay_whole_when_aqe_sizes_the_shuffle(spark, seq):
    """The transpose sets no partition count: AQE sizes the shuffle.
    With many small hash partitions and a tiny advisory size, every
    (source, salt) group must still be one chunk in one partition and
    decode byte-exactly."""
    conf = {
        "spark.sql.shuffle.partitions": "16",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        series = transpose_to_series(seq, nsalt=NSALT, pack=True)
        enc = encode_series_table(series).cache()
        groups = (
            with_salt(seq, NSALT).select("source", "salt").distinct().count()
        )
        assert enc.count() == groups
        assert enc.select("source", "salt").distinct().count() == groups
        assert enc.select("partition_id").distinct().count() > 1
        dec = decode_series_table(enc)
        j = seq.alias("a").join(dec.alias("b"), "doc_id", "full_outer")
        bad = j.filter(
            F.col("a.tokens").isNull()
            | F.col("b.tokens").isNull()
            | (F.col("a.tokens") != F.col("b.tokens"))
            | (F.col("a.n_tok") != F.col("b.n_tok"))
            | (F.col("a.event_s") != F.col("b.event_s"))
            | (F.col("a.source") != F.col("b.source"))
        )
        assert bad.count() == 0
        enc.unpersist()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _wide_input(spark, n=40):
    """Rows mixing u16-range and wide (BPE-vocab / int32-max) token ids
    within ONE source — the same chunk must carry both."""
    rows = [
        (
            f"w{i}",
            [i, 70_000 + i, 2**31 - 1 - i] if i % 2 else [i, i + 1, i + 2],
            3,
            "wide_src",
            1_600_000_000 + i * 60,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "event_s long",
    )


@pytest.mark.parametrize("pack", [True, False])
def test_wide_vocab_tokens_roundtrip(spark, pack):
    """Token ids beyond uint16 (any modern tokenizer's vocabulary, up
    to int32 max) must round-trip bit-exactly — the chunk payload
    upgrades to the 32-bit stream instead of rejecting the corpus."""
    seq = _wide_input(spark)
    dec = decode_series_table(
        encode_series_table(
            transpose_to_series(seq, nsalt=2, pack=pack)
        )
    )
    j = seq.alias("a").join(dec.alias("b"), "doc_id", "full_outer")
    bad = j.filter(
        F.col("a.tokens").isNull()
        | F.col("b.tokens").isNull()
        | (F.col("a.tokens") != F.col("b.tokens"))
        | (F.col("a.event_s") != F.col("b.event_s"))
    )
    assert bad.count() == 0


def test_mixed_width_batches_roundtrip(spark):
    """Force tiny Arrow batches so the pre-shuffle pack emits BOTH u16
    and u32 rows for one (source, salt) — the chunk assembler must
    splice mixed-width runs into a single flagged payload."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        seq = _wide_input(spark)
        series = transpose_to_series(seq, nsalt=1, pack=True)
        enc = encode_series_table(series).cache()
        flags = {r["tok_payload"][0] for r in enc.collect()}
        assert flags & {2, 3}, f"expected a 32-bit payload flag, got {flags}"
        dec = decode_series_table(enc)
        got = {
            (r["doc_id"], tuple(r["tokens"])) for r in dec.collect()
        }
        want = {
            (r["doc_id"], tuple(r["tokens"])) for r in seq.collect()
        }
        assert got == want
        enc.unpersist()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_small_vocab_stays_u16(spark, seq):
    """Fixture-scale ids must keep the half-width payload (flag 0/1) —
    the wide path is pay-for-what-you-use."""
    enc = encode_series_table(
        transpose_to_series(seq, nsalt=2, pack=True)
    )
    flags = {r["tok_payload"][0] for r in enc.select("tok_payload").collect()}
    assert flags <= {0, 1}, flags


def test_negative_token_rejected(spark):
    seq = _wide_input(spark).withColumn(
        "tokens", F.array(F.lit(-1), F.lit(2), F.lit(3))
    )
    for pack in (True, False):
        enc = encode_series_table(
            transpose_to_series(seq, nsalt=1, pack=pack)
        )
        with pytest.raises(Exception, match="negative token id"):
            enc.count()
