"""Input validation — the reference's hard-fail inspection phase.

Reference behavior [U: reshaper.py :: input-inspection]:
* every slice file must contain the identical variable set (schema
  set-equality, not inference);
* the unlimited ``time`` dimension must exist and be 1-D;
* time values must strictly increase across sorted slices — overlap or
  regression is a fatal error, not a warning.

Recast as DataFrame assertions over the sequences table / tier outputs.
Each check returns the offending-row count (0 == pass) or raises
:class:`ValidationError`; tests call these directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

EXPECTED_COLUMNS = {"doc_id", "tokens", "n_tok", "source"}


class ValidationError(ValueError):
    """Fatal input-contract violation (reference: hard error + abort)."""


def check_schema(seq: DataFrame) -> None:
    """Variable-set equality: required columns present, no inference."""
    missing = EXPECTED_COLUMNS - set(seq.columns)
    if missing:
        raise ValidationError(f"sequences table missing columns: {sorted(missing)}")


def count_monotonicity_violations(tier: DataFrame) -> int:
    """Per-source bucket regression check (window lag) on a tier table."""
    w = Window.partitionBy("source").orderBy("bucket_s")
    return (
        tier.withColumn("prev_b", F.lag("bucket_s").over(w))
        .filter(F.col("prev_b").isNotNull() & (F.col("bucket_s") <= F.col("prev_b")))
        .count()
    )


def check_source_completeness(seq: DataFrame, tier: DataFrame) -> None:
    """Every input source appears in the tier output and vice versa —
    the reference's 'every TSV got exactly one output file' assertion."""
    in_only = seq.select("source").distinct().exceptAll(
        tier.select("source").distinct()
    )
    out_only = tier.select("source").distinct().exceptAll(
        seq.select("source").distinct()
    )
    n_in, n_out = in_only.count(), out_only.count()
    if n_in or n_out:
        raise ValidationError(
            f"source sets differ: {n_in} missing from output, {n_out} extra"
        )


def validate_report(seq: DataFrame) -> DataFrame:
    """One-row validation summary (the non-raising, oracle-comparable
    face of :func:`validate_input`): total rows, contract-violating
    rows, distinct doc_ids, duplicated doc_ids. Single scan,
    partial+final aggregate."""
    bad_cond = (
        F.col("doc_id").isNull()
        | F.col("tokens").isNull()
        | F.col("source").isNull()
        | (F.col("n_tok") != F.size("tokens"))
    )
    return seq.agg(
        F.count("*").alias("n_rows"),
        F.sum(bad_cond.cast("long")).alias("bad_rows"),
        F.count_distinct("doc_id").alias("n_ids"),
        (F.count("*") - F.count_distinct("doc_id")).alias("dup_ids"),
    )


def check_doc_ids(seq: DataFrame) -> None:
    """doc_id contract on a doc_id-only scan: non-null + globally unique.

    The pipeline's fused head (rollup.head_aggregate) folds every other
    validation counter into the tier-0 scan, but global uniqueness is
    not a grouped aggregate — per-group distinct counts don't compose —
    so it keeps its own pass. That pass reads EXACTLY one column
    (doc_id), and the pipeline runs it in a second driver thread
    concurrent with the head aggregate, so at N executors it adds no
    serial wall time and at 10^12 rows it reads ~2% of the bytes.

    Same hash fast path as :func:`validate_input`: all-distinct 64-bit
    hashes PROVE all-distinct ids; only a collision (~n²/2⁶⁵) triggers
    the exact string-distinct pass.
    """
    row = seq.agg(
        F.count("*").alias("n"),
        F.sum(F.col("doc_id").isNull().cast("long")).alias("null_ids"),
        F.count_distinct(F.xxhash64("doc_id")).alias("n_hashes"),
    ).collect()[0]
    if row["null_ids"]:
        raise ValidationError(f"{row['null_ids']} rows have null doc_id")
    if row["n_hashes"] != row["n"]:
        n_ids = seq.agg(F.count_distinct("doc_id").alias("x")).collect()[0]["x"]
        if n_ids != row["n"]:
            raise ValidationError(
                f"{row['n'] - n_ids} duplicated doc_ids (overlapping slices)"
            )


def validate_input(seq: DataFrame, token_sizes: str = "scan") -> None:
    """Full input gate: schema, nulls, doc_id uniqueness.

    One aggregate pass (partial+final, no groupBy shuffle for the null
    checks; count_distinct handles uniqueness) — the validation cost at
    10^12 rows is a single scan, not three.

    ``token_sizes``:

    * ``"scan"`` (default) — check ``n_tok == size(tokens)`` here. The
      scan must then read the ``tokens`` column: ~95% of the table's
      bytes, read ONLY for its lengths.
    * ``"defer"`` — restrict this gate to the narrow columns (the scan
      prunes ``tokens`` entirely — at 10^12 rows that turns validation
      from a full-table read into a ~5% read) and leave the token-size
      contract to the encode pass, which materializes every token
      buffer anyway and raises on the first length mismatch
      (operators.encode). Same rows checked, same failure class,
      one less full-table scan.
    """
    check_schema(seq)
    if token_sizes not in ("scan", "defer"):
        raise ValueError("token_sizes must be 'scan' or 'defer'")
    bad_cond = (
        F.col("doc_id").isNull()
        | F.col("source").isNull()
        | F.col("n_tok").isNull()
        | (F.col("n_tok") < 0)
    )
    if token_sizes == "scan":
        bad_cond = bad_cond | F.col("tokens").isNull() | (
            F.col("n_tok") != F.size("tokens")
        )
    # uniqueness fast path: count_distinct over the 64-bit doc_id hash
    # shuffles fixed-width ints instead of strings. If every hash is
    # distinct, every doc_id is PROVABLY distinct (equal ids ⇒ equal
    # hashes); only a hash collision (~n²/2⁶⁵) forces the exact
    # string-distinct pass, so the slow path almost never runs and the
    # check stays exact.
    row = seq.agg(
        F.count("*").alias("n"),
        F.sum(bad_cond.cast("int")).alias("bad"),
        F.count_distinct(F.xxhash64("doc_id")).alias("n_hashes"),
    ).collect()[0]
    if row["bad"]:
        raise ValidationError(f"{row['bad']} rows violate null/n_tok contract")
    if row["n_hashes"] != row["n"]:
        n_ids = seq.agg(F.count_distinct("doc_id").alias("x")).collect()[0]["x"]
        if n_ids != row["n"]:
            raise ValidationError(
                f"{row['n'] - n_ids} duplicated doc_ids (overlapping slices)"
            )
