"""IcebergLite input — the north rule's "Iceberg table of pre-tokenized
training sequences" (BASELINE.json input_hint) as the pipeline's actual
upstream:

    sequences(doc_id string, tokens array<int>, n_tok int,
              source string, event_s long)

An input path ``<catalog_root>::<table>[::<snapshot_id>]`` names the
table and, optionally, a pinned snapshot. Reading through the catalog
sees exactly that snapshot's live files, never dead files awaiting
expiry, which is what snapshot-pinned reads and CDC-driven refresh
(``plans.delete.refresh_from_changes``) build on. Parquet input needs
no reader of its own: ``plans.pipeline._load_input`` reads it directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyreshaper_spark.sources.catalog import get_catalog

_COLS = ["doc_id", "tokens", "n_tok", "source", "event_s"]


def split_table_path(path: str) -> tuple[str, str, int | None]:
    """``<root>::<table>[::<snapshot_id>]`` → (root, table, snapshot id
    or None)."""
    parts = path.split("::")
    if len(parts) not in (2, 3):
        raise ValueError(
            "iceberglite input path must be '<root>::<table>' or "
            f"'<root>::<table>::<snapshot_id>', got {path!r}"
        )
    snap = int(parts[2]) if len(parts) == 3 else None
    return parts[0], parts[1], snap


def read_sequences_iceberglite(spark: SparkSession, path: str) -> DataFrame:
    """The sequences of the IcebergLite table (and snapshot) ``path``
    names, contract columns first."""
    root, table, snap = split_table_path(path)
    df = get_catalog(root).read(spark, table, snapshot_id=snap)
    return df.select(*[c for c in _COLS if c in df.columns],
                     *[c for c in df.columns if c not in _COLS])
