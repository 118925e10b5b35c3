"""Bench harness — headline throughput for the tiered rollup engine.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` (default 32) and prints ONE JSON line:

    {"metric": "rolled_up_points_per_sec", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1, ...}

Headline metric (BASELINE.json:2): rolled-up points/sec across all
retention tiers, plus sequences/sec ingested. Each query is timed as a
full action (plan → execute → count) on a warm session.

Two-cluster-size scaling evidence (north_rule): run with
``SPARK_GRAFT_CPUS=8`` and ``SPARK_GRAFT_CPUS=32`` on the same input;
``tools/scaling_bench.py`` automates that and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    # Shuffle-partition sizing follows DATA VOLUME, not core count: every
    # post-aggregation exchange here carries O(groups) rows (~225k tier
    # points at sf0.1 — a few MB), so 32 partitions × 4 tiers is pure
    # task-wave overhead (measured 2.5 s → 0.9 s cascade at 8). A 100 TB
    # run sizes this by the ~64 MB/partition rule instead (and AQE
    # coalesce, left ON, absorbs runtime variance either way); the env
    # override is the knob for that.
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", "8")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"pyreshaper-spark-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def run_bench(sf_dir: str, cpus: int, repeat: int = 1) -> dict:
    from pyspark.sql import functions as F

    from pyreshaper_spark.fixtures import sequences_df
    from pyreshaper_spark.operators.encode import encode_series_table
    from pyreshaper_spark.operators.gapfill import gapfill_locf
    from pyreshaper_spark.operators.rollup import rollup_all_tiers
    from pyreshaper_spark.operators.transpose import transpose_to_series

    spark = build_spark(cpus)
    widths = [60, 600, 3600, 86400]
    queries: dict[str, float] = {}

    # Materialize the fixture once to parquet so every query times the
    # engine, not the fixture tokenizer; this also mirrors the real
    # deployment where `sequences` is a stored Iceberg table.
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp/pyreshaper_bench")
    seq_path = os.path.join(scratch, f"sequences_{os.path.basename(sf_dir)}_r{repeat}")
    if not os.path.exists(os.path.join(seq_path, "_SUCCESS")):
        sequences_df(spark, sf_dir, repeat=repeat).write.mode("overwrite").parquet(
            seq_path
        )
    seq = spark.read.parquet(seq_path)
    n_seq = seq.count()

    # q1: full tier cascade (the flagship) — count every rolled-up point.
    # Each tier is persisted before its successor executes (a real run
    # writes each tier to a table), so the cascade re-aggregates tier k
    # rather than recomputing from raw. One untimed warm-up pass first:
    # JIT/page-cache cold starts on this sandbox VM are 3-8× and would
    # otherwise dominate the headline number.
    def run_cascade():
        t0 = time.perf_counter()
        tiers = rollup_all_tiers(seq, widths)
        for w in widths:
            tiers[w].persist()
        # count the COARSEST tier first: that one job materializes the
        # whole persisted cascade (each tier caches as its partitions
        # compute inside the chain), so the remaining counts are cached
        # reads — one job wave instead of four
        pts = 0
        for w in reversed(widths):
            pts += tiers[w].count()
        return tiers, pts, time.perf_counter() - t0

    # Min over PASSES timed executions per query: run-to-run spread on
    # this shared VM is ±15-20%, and min-of-k is the standard noise
    # floor (5 passes: the floor typically appears on pass 2-4 after
    # page cache + JIT settle; costs ~5 s extra at sf0.1).
    passes = int(os.environ.get("SPARK_GRAFT_PASSES", "5"))
    # Every timed pass is reported (`all_runs` in the JSON) so
    # round-over-round deltas are interpretable against the shared-VM
    # jitter band instead of comparing two opaque minima.
    all_runs: dict[str, list[float]] = {}

    warm_tiers, _, _ = run_cascade()
    for w in widths:
        warm_tiers[w].unpersist()
    tiers = total_points = t_cascade = None
    all_runs["tier_cascade"] = []
    for _ in range(passes):
        if tiers is not None:
            for w in widths:
                tiers[w].unpersist()
        t2, p2, w2 = run_cascade()
        all_runs["tier_cascade"].append(round(w2, 3))
        if t_cascade is None or w2 < t_cascade:
            t_cascade = w2
        tiers, total_points = t2, p2
    queries["tier_cascade"] = round(t_cascade, 3)

    # q2: gap-fill + LOCF on the 10m tier.
    best = None
    all_runs["gapfill_locf_10m"] = []
    for _ in range(passes):
        t0 = time.perf_counter()
        gapfill_locf(tiers[600], 600).count()
        dt = time.perf_counter() - t0
        all_runs["gapfill_locf_10m"].append(round(dt, 3))
        best = dt if best is None else min(best, dt)
    queries["gapfill_locf_10m"] = round(best, 3)

    # q3: salted transpose + Gorilla/DoD encode of every series.
    from pyreshaper_spark.operators.encode import decode_series_table

    best, enc = None, None
    all_runs["transpose_encode"] = []
    for _ in range(passes):
        if enc is not None:
            enc.unpersist()
        t0 = time.perf_counter()
        series = transpose_to_series(
            seq, nsalt=8, pack=True
        )
        enc = encode_series_table(series).persist()
        enc.agg(F.sum("n").alias("n")).collect()
        dt = time.perf_counter() - t0
        all_runs["transpose_encode"].append(round(dt, 3))
        best = dt if best is None else min(best, dt)
    queries["transpose_encode"] = round(best, 3)

    # q4: decode re-hydration — the reverse path a training job runs
    # (encoded chunks → per-doc rows with token arrays), stream-split
    # vectorized decode.
    best = None
    all_runs["decode_rehydrate"] = []
    for _ in range(passes):
        t0 = time.perf_counter()
        decode_series_table(enc).agg(F.sum("n_tok").alias("t")).collect()
        dt = time.perf_counter() - t0
        all_runs["decode_rehydrate"].append(round(dt, 3))
        best = dt if best is None else min(best, dt)
    queries["decode_rehydrate"] = round(best, 3)
    enc.unpersist()

    total = sum(queries.values())
    out = {
        "metric": "rolled_up_points_per_sec",
        "value": round(total_points / t_cascade, 1),
        "unit": "sec",
        "queries": queries,
        "all_runs": all_runs,
        "sf": float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0),
        "cpus": cpus,
        "n_sequences": n_seq,
        "rolled_up_points": total_points,
        "sequences_per_sec": round(n_seq / t_cascade, 1),
        "total_sec": round(total, 3),
    }
    spark.stop()
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # documents.parquet is tiny (5k rows at sf0.1); row-multiply
    # deterministically (FIXTURES.md F1) so throughput numbers measure
    # the engine, not fixed overhead. Oracle-compared runs use repeat=1.
    repeat = int(os.environ.get("SPARK_GRAFT_REPEAT", "100"))
    print(json.dumps(run_bench(sf_dir, cpus, repeat)))


if __name__ == "__main__":
    main()
