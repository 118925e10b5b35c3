"""Slice→series transpose — THE core reference operator, Spark-first.

Reference: for each time-series variable, gather its hyperslab from
every slice file in time order and write one contiguous series file
[U: reshaper.py :: Slice2SeriesReshaper.convert inner loops], with MPI
ranks load-balanced over variables by byte size [U: partition.py ::
WeightBalanced].

Here the "variable" is ``source`` and the transpose is a single
hash-partitioned shuffle:

    salt = pmod(xxhash64(doc_id), NSALT)          # skew splitter
    repartition(source, salt)                     # series co-location
    sortWithinPartitions(source, salt, event_s, doc_id)  # time order

After this, every (source, salt) series chunk is contiguous and
time-ordered within one partition — the exact layout the per-series
encoder (operators.encode) consumes without further movement, and the
layout written to the series table so downstream per-series scans are
partition-local.

Why this scales:

* Hash partitioning on the group key needs NO pre-pass: Spark's
  RangePartitioner would SAMPLE its input to place boundaries — and
  on the encode path that input includes the pre-shuffle token-packing
  stage, so range partitioning executes the pack over the corpus
  TWICE (measured 1.45 s → 1.08 s on the sf0.1 encode leg from this
  change alone; at 100 TB the sampling pass is a full extra read).
* The partition count follows the data, not a setting: the shuffle
  hashes into ``spark.sql.shuffle.partitions`` buckets and AQE
  coalesces adjacent buckets up to its advisory size. Coalescing only
  merges whole hash partitions and the sort runs after it, so a
  (source, salt) group is never split. Each partition is one Python
  task of the encoder's ``mapInArrow``, and a Python task has a fixed
  start-up cost far above a small append's work, so a small input
  runs a few tasks, not a fixed count of mostly empty ones.
* Row balance comes from the SALT, not the partitioner: nsalt is
  sized so the hottest source splits into ~equal (source, salt)
  groups (``suggest_nsalt``): no group is much larger than
  ``target_chunk_rows``, and with many groups per hash bucket the
  buckets hold near-equal rows — the WeightBalanced analog.
* The salt splits a hot source across NSALT partitions —
  ``applyInPandas`` groups are NOT covered by AQE skew handling, so
  salting is mandatory, not optional [BASELINE.json:14].
* Sorting happens within partitions only (no global sort barrier).
* ``tokens`` rides through exactly one shuffle here (it must — the
  series layout carries payloads); every aggregate path projects it
  away before shuffling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(seq: DataFrame, nsalt: int) -> DataFrame:
    """Deterministic per-doc salt in [0, nsalt)."""
    return seq.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(nsalt)).cast("int")
    )


def suggest_nsalt(
    seq: DataFrame,
    target_chunk_rows: int = 250_000,
    sample_denom: int | None = None,
) -> int:
    """Size-aware salt count — the `WeightBalanced` analog [U:
    partition.py :: WeightBalanced]: pick nsalt so the HOTTEST source
    splits into chunks of ≈ ``target_chunk_rows``. Returns at least 1
    and rounds up to a power of two (stable chunk identities as data
    grows ~2×).

    ``sample_denom``: estimate the hottest source from a deterministic
    1/denom hash sample instead of a full scan — at 10^12 rows the
    exact pre-pass costs a whole extra read of the corpus for a number
    that only needs to be right within 2× (the power-of-two rounding
    absorbs estimation error). ``None`` keeps the exact count (small
    inputs / tests). The sample is hash-of-doc_id-based, so the
    estimate is reproducible, and it scales counts back up by denom."""
    counted = seq
    scale = 1
    if sample_denom is not None and sample_denom > 1:
        counted = seq.filter(
            F.pmod(F.xxhash64(F.col("doc_id"), F.lit(41)), sample_denom) == 0
        )
        scale = sample_denom
    hottest = (
        counted.groupBy("source").count().agg(F.max("count")).collect()[0][0]
        or 0
    ) * scale
    need = max(1, -(-int(hottest) // target_chunk_rows))
    p = 1
    while p < need:
        p *= 2
    return p


def transpose_to_series(
    seq: DataFrame,
    nsalt: int = 8,
    pack: bool = False,
) -> DataFrame:
    """Reorganize row-per-doc slices into per-(source, salt) series layout.

    Input must carry ``event_s``. Output columns: doc_id, tokens, n_tok,
    source, event_s, salt — physically clustered by (source, salt) and
    time-ordered within the cluster.

    ``pack=True`` converts ``tokens`` to a u16 binary column BEFORE the
    shuffle (operators.encode.pack_series_payload): half the shuffled
    bytes and no list<int> serialization through the exchange — the
    encoder consumes either form. Use for the bulk encode; keep
    ``pack=False`` where downstream wants the tokens array itself, and
    for a re-encode bounded by a few chunks (the delete's), where the
    pack stage's Python tasks cost more than the bytes they save.

    Rows with an identical (source, salt) land in ONE partition however
    AQE sizes the shuffle (see module docstring), so every series chunk
    is whole and contiguous after the within-partition sort — the
    encoder runs as a single mapInArrow pass with NO second shuffle.
    """
    if pack:
        from pyreshaper_spark.operators.encode import pack_series_payload

        seq = pack_series_payload(seq)
    return (
        with_salt(seq, nsalt)
        .repartition("source", "salt")
        .sortWithinPartitions("source", "salt", "event_s", "doc_id")
    )
