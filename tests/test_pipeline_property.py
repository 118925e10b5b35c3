"""Config-space property fuzz of the end-to-end pipeline.

The dedicated suites pin specific configs; this one drives randomized
(seeded, reproducible) tier-width ladders — including deliberately
odd widths — through ``run_pipeline`` and asserts every committed
tier equals a direct one-shot aggregation of the raw input at that
width, per-source metadata equals the direct per-source aggregate,
and retention pruning matches ``apply_retention`` of the brute-force
tier. Catches cascade/fusion/merge regressions that a fixed-width
test never exercises (non-divisible width ladders re-bucket on
boundaries the standard 1m/10m/1h/1d ladder never hits — widths are
only required to be multiples of the previous tier).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pyreshaper_spark.config import RunConfig, TierSpec
from pyreshaper_spark.operators.rollup import bucket_col
from pyreshaper_spark.plans.pipeline import run_pipeline
from pyreshaper_spark.sources.iceberglite import IcebergLite
from tests.conftest import rows_set

def _aggs():
    # built lazily — Column construction needs an active session
    return (
        F.count("*").alias("cnt"),
        F.sum("n_tok").alias("sum_n_tok"),
        F.min("n_tok").alias("min_n_tok"),
        F.max("n_tok").alias("max_n_tok"),
    )


def _input(spark, seed: int, n: int = 300):
    rng = random.Random(seed)
    rows = [
        (
            f"d{seed}_{i}",
            [i % 7, (i * 3) % 11],
            2,
            f"src{rng.choices([0, 1, 2], weights=[6, 3, 1])[0]}",
            # event times spread over ~3 widths of the coarsest tier,
            # with ties and bucket-boundary values
            1_600_000_000 + rng.randrange(0, 40_000),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "event_s long",
    )


def _ladder(rng: random.Random) -> list[TierSpec]:
    """2-4 tiers; each width a random multiple of the previous one."""
    widths = [rng.choice([7, 13, 30, 60])]
    for _ in range(rng.randrange(1, 4)):
        widths.append(widths[-1] * rng.choice([2, 3, 5, 7, 12]))
    return [TierSpec(f"w{w}", w) for w in widths]


@pytest.mark.parametrize("seed", [11, 22, 37, 58])
def test_random_tier_ladders_match_direct_aggregation(
    spark, tmp_path, seed
):
    rng = random.Random(seed * 977)
    tiers = _ladder(rng)
    # retention on the coarsest tier for odd seeds (pruning runs after
    # the full cascade, so finer tiers stay complete)
    if seed % 2:
        tiers[-1] = TierSpec(tiers[-1].name, tiers[-1].width_s, 2)
    seq = _input(spark, seed)
    inp = str(tmp_path / "inp")
    seq.write.parquet(inp)
    out = str(tmp_path / "out")
    cfg = RunConfig(
        input_path=inp, output_path=out, tiers=tuple(tiers), nsalt=2,
        overlap=bool(seed % 2),
    )
    run_pipeline(spark, cfg, str(tmp_path / "ckpt.json"))
    cat = IcebergLite(out)

    for t in tiers:
        want = seq.select("source", bucket_col(t.width_s), "n_tok").groupBy(
            "source", "bucket_s"
        ).agg(*_aggs())
        if t.retention_buckets is not None:
            from pyreshaper_spark.operators.rollup import apply_retention

            want = apply_retention(want, t.width_s, t.retention_buckets)
        got = cat.read(spark, f"tier_{t.name}").select(
            "source", "bucket_s", "cnt", "sum_n_tok", "min_n_tok",
            "max_n_tok",
        )
        assert rows_set(got) == rows_set(want), f"tier {t.name} diverged"

    meta_want = seq.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tok"),
        F.min("event_s").alias("first_event_s"),
        F.max("event_s").alias("last_event_s"),
    )
    assert rows_set(cat.read(spark, "meta_source")) == rows_set(meta_want)


def test_pre_epoch_input_end_to_end(spark, tmp_path):
    """Pre-epoch (negative event_s) input through the FULL pipeline:
    committed tiers equal the direct floored aggregation (buckets go
    BACK in time, date_trunc semantics), and the encoded series decode
    back bit-exact — negative first_ts exercises the delta-of-delta
    codec's signed path end-to-end."""
    rng = random.Random(424242)
    rows = [
        (
            f"pe_{i}",
            [i % 7, (i * 3) % 11, 65_000 + i],
            3,
            f"src{i % 3}",
            # straddle the epoch: [-20000, 20000), hitting 0 and
            # negative bucket boundaries
            rng.randrange(-20_000, 20_000),
        )
        for i in range(300)
    ]
    seq = spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "event_s long",
    )
    inp = str(tmp_path / "inp")
    seq.write.parquet(inp)
    out = str(tmp_path / "out")
    tiers = (TierSpec("1m", 60), TierSpec("10m", 600), TierSpec("1h", 3600))
    cfg = RunConfig(
        input_path=inp, output_path=out, tiers=tiers, nsalt=2,
    )
    run_pipeline(spark, cfg, str(tmp_path / "ckpt.json"))
    cat = IcebergLite(out)

    for t in tiers:
        want = seq.select("source", bucket_col(t.width_s), "n_tok").groupBy(
            "source", "bucket_s"
        ).agg(*_aggs())
        got = cat.read(spark, f"tier_{t.name}").select(
            "source", "bucket_s", "cnt", "sum_n_tok", "min_n_tok",
            "max_n_tok",
        )
        assert rows_set(got) == rows_set(want), f"tier {t.name} diverged"
        # floor, not truncation: the minimum bucket is <= the minimum
        # event (a truncating bucket would sit above it)
        min_e = seq.agg(F.min("event_s")).collect()[0][0]
        min_b = got.agg(F.min("bucket_s")).collect()[0][0]
        assert min_b <= min_e < 0

    from pyreshaper_spark.operators.encode import decode_series_table

    dec = decode_series_table(cat.read(spark, "series_enc"))
    j = seq.alias("a").join(dec.alias("b"), "doc_id", "full_outer")
    bad = j.filter(
        F.col("a.tokens").isNull()
        | F.col("b.tokens").isNull()
        | (F.col("a.tokens") != F.col("b.tokens"))
        | (F.col("a.event_s") != F.col("b.event_s"))
    )
    assert bad.count() == 0
