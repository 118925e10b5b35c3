"""Seeded input generator for the rollup benchmark.

Every input row comes from ``pyreshaper_spark.fixtures.sequences_df``
over a copy of the sf0.1 (or, in smoke mode, sf0.001) ``documents``
table shipped under ``perfbench/data``. Rows are replicated the way the
fixture's ``repeat`` path replicates them (``doc_id#rep``, ``doc_num +
rep * 1_000_003``, the same Lehmer event-time spread), except that the
replica offsets are drawn from the seed, so each seed shifts the
``doc_id``s and event times. The seed also decides which replicas land
in which batch, how a batch's rows split into files, and (in the
callers) the delete victims and the query mix.

Tokenization runs once through Spark and is cached; replication and
file splitting are plain Arrow, so generating a run's input costs well
under a second. A batch is written once into a staging directory; ``land`` moves its
files into the input directory the program reads, which is how new
data "arrives" between append cycles.
"""

from __future__ import annotations

import glob
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from pyreshaper_spark.config import EPOCH0, HORIZON_S
from pyreshaper_spark.fixtures import sequences_df

REP_STRIDE = 1_000_003  # fixtures.sequences_df's per-replica doc_num shift
HOT_SOURCE = "srcHOT"  # fixtures F3: 90% of rows remapped to one source
DOC_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
])


@dataclass(frozen=True)
class Batch:
    """One landing of input files.

    ``reps`` replicas of the documents table; ``keep_pct`` keeps that
    share of the documents (seeded by doc_id), so an append batch can be
    ~1% of the base; ``skew`` applies the F3 hot-source remap."""

    name: str
    reps: tuple[int, ...]
    keep_pct: int
    files: int
    skew: bool


def plan_batches(
    seed: int, base_reps: int, base_files: int, n_appends: int,
    append_keep_pct: int, append_files: int, skew: bool,
) -> list[Batch]:
    """A base batch (when ``base_reps`` > 0) plus ``n_appends`` append
    batches, replica offsets and their order drawn from ``seed``."""
    rng = random.Random(seed)
    # disjoint ranges: appended replicas never repeat a base doc_id
    base = sorted(rng.sample(range(1, 100_000), base_reps))
    batches = [Batch("base", tuple(base), 100, base_files, skew)] if base_reps else []
    for i, rep in enumerate(rng.sample(range(100_000, 200_000), n_appends)):
        batches.append(Batch(f"app{i:02d}", (rep,), append_keep_pct,
                             append_files, skew))
    return batches


def tokenized_docs(spark: SparkSession, docs_dir: str, cache: str) -> pa.Table:
    """The documents table through ``sequences_df`` (doc_id, tokens, n_tok,
    source), computed once per checkout and cached at ``cache``: it
    does not depend on the seed, and Spark tokenization would otherwise
    cost every run several seconds."""
    if not os.path.exists(cache):
        pdf = (
            sequences_df(spark, docs_dir, "base")
            .select("doc_id", "tokens", "n_tok", "source")
            .toPandas()
        )
        table = pa.Table.from_pandas(pdf, schema=DOC_SCHEMA, preserve_index=False)
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        tmp = f"{cache}.{os.getpid()}.tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, cache)
    return pq.read_table(cache, schema=DOC_SCHEMA)


def generate(docs: pa.Table, stage_dir: str, batches: list[Batch], seed: int) -> None:
    """Write every batch as parquet files under ``stage_dir/<batch>/``.

    Files hold exactly the engine's input contract columns
    (doc_id, tokens, n_tok, source, event_s)."""
    base_num = np.array([int(d) for d in docs.column("doc_id").to_pylist()],
                        dtype=np.int64)
    ids = docs.column("doc_id").to_pylist()
    for bi, b in enumerate(batches):
        rng = np.random.default_rng([seed, bi])
        keep = np.flatnonzero(rng.random(len(ids)) * 100 < b.keep_pct)
        parts = []
        for rep in b.reps:
            doc_num = base_num[keep] + rep * REP_STRIDE
            source = np.array(docs.column("source").take(keep).to_pylist(),
                              dtype=object)
            if b.skew:
                source[doc_num % 10 < 9] = HOT_SOURCE
            parts.append(pa.table({
                "doc_id": pa.array([f"{ids[k]}#{rep}" for k in keep]),
                "tokens": docs.column("tokens").take(keep),
                "n_tok": docs.column("n_tok").take(keep),
                "source": pa.array(source, pa.string()),
                "event_s": pa.array(
                    EPOCH0 + (doc_num * 48271 + 11) % HORIZON_S, pa.int64()),
            }))
        rows = pa.concat_tables(parts).combine_chunks()
        file_of = rng.integers(0, b.files, rows.num_rows)
        out = os.path.join(stage_dir, b.name)
        os.makedirs(out, exist_ok=True)
        for f in range(b.files):
            part = rows.take(np.flatnonzero(file_of == f))
            pq.write_table(part, os.path.join(out, f"{b.name}-{f:03d}.parquet"),
                           compression="zstd")


def land(stage_dir: str, batch: str, input_dir: str) -> list[str]:
    """Move a staged batch's files into the input directory; returns
    the landed paths."""
    os.makedirs(input_dir, exist_ok=True)
    landed = []
    for p in sorted(glob.glob(os.path.join(stage_dir, batch, "*.parquet"))):
        dst = os.path.join(input_dir, os.path.basename(p))
        os.rename(p, dst)
        landed.append(dst)
    return landed


def pick_victims(rng: random.Random, reps: tuple[int, ...], n_docs: int,
                 k: int) -> list[str]:
    """``k`` distinct doc_ids of a full (keep_pct=100) batch of ``reps``."""
    picks = set()
    while len(picks) < k:
        picks.add(f"{rng.randrange(n_docs)}#{rng.choice(reps)}")
    return sorted(picks)
