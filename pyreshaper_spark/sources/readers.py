"""Input of the pipeline: listing and reading the input files.

The input is a parquet directory or an IcebergLite table — the north
rule's "Iceberg table of pre-tokenized training sequences"
(BASELINE.json input_hint):

    sequences(doc_id string, tokens array<int>, n_tok int,
              source string, event_s long)

An IcebergLite input path ``<catalog_root>::<table>[::<snapshot_id>]``
names the table and, optionally, a pinned snapshot. Reading through the
catalog sees exactly that snapshot's live files (with its equality
deletes applied), which is what snapshot-pinned reads and CDC-driven
refresh (``plans.delete.refresh_from_changes``) build on.

Every consumer works on explicit file sets: :func:`list_input_files` is
the one place that lists the input, driver-side and without a Spark
job, and :func:`read_input` reads a subset of that listing with a
recorded schema, so no read infers one. The pipeline keeps the set of
files it has ingested as a ledger in the ``series_enc`` snapshot
(``plans.pipeline.ingest_ledger``); pending work is the listing minus
the ledger.
"""

from __future__ import annotations

import json
import os
import string
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pyreshaper_spark.config import RunConfig
from pyreshaper_spark.operators.event_time import ensure_event_time
from pyreshaper_spark.session import local_frame, small_read
from pyreshaper_spark.sources.catalog import get_catalog

_COLS = ["doc_id", "tokens", "n_tok", "source", "event_s"]

# characters java.net.URI leaves unescaped in a path: the form
# input_file_name() reports, e.g. file:///data/my%20input/part-0.parquet
_URI_SAFE = frozenset(
    string.ascii_letters + string.digits + "-_.!~*'()/;:@&=+$,"
)


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


def file_uri(path: str) -> str:
    """The ``input_file_name()`` string of a local file: a ``file://``
    URI whose path escapes what java.net.URI escapes (ASCII outside
    the URI path alphabet; non-ASCII letters stay as they are)."""
    return "file://" + "".join(
        c
        if c in _URI_SAFE
        or (ord(c) > 127 and c.isprintable() and not c.isspace())
        else quote(c, safe="")
        for c in os.path.abspath(path)
    )


def local_path(uri: str) -> str:
    """The local path of a :func:`file_uri` string."""
    return unquote(uri[len("file://"):])


def _hidden(name: str) -> bool:
    # Spark's file index skips these: _SUCCESS, .crc sidecars, _temporary
    # (a "_key=value" partition directory is data)
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def list_input_files(cfg: RunConfig) -> list[str]:
    """The input's data files as sorted ``input_file_name()`` strings —
    the only place the input is listed. A parquet directory is walked
    on the driver; an IcebergLite input lists the live files of the
    pinned (or current) snapshot from its manifest. Launches no Spark
    job."""
    if cfg.input_format == "iceberglite":
        root, table, snap = split_table_path(cfg.input_path)
        paths = get_catalog(root).live_paths(table, snap)
    else:
        paths = []
        for d, subdirs, names in os.walk(cfg.input_path):
            subdirs[:] = [s for s in subdirs if not _hidden(s)]
            paths += [os.path.join(d, n) for n in names if not _hidden(n)]
    return sorted(file_uri(p) for p in paths)


def input_schema(spark: SparkSession, cfg: RunConfig, files: list[str]) -> str:
    """Schema JSON of the input, for a run with no ledger to take it
    from. Parquet infers it from the files' footers (one Spark job);
    IcebergLite takes the table's recorded schema."""
    if cfg.input_format == "iceberglite":
        return read_input(spark, cfg, files, None).schema.json()
    if not files:
        raise FileNotFoundError(f"no input files under {cfg.input_path!r}")
    return (
        spark.read.option("basePath", cfg.input_path)
        .parquet(*map(local_path, files))
        .schema.json()
    )


def read_input(
    spark: SparkSession, cfg: RunConfig, files: list[str], schema: str | None
) -> DataFrame:
    """Rows of the input ``files`` (strings from :func:`list_input_files`)
    with their ``input_file`` lineage column and ``event_s``.

    Parquet files are read with ``schema`` (recorded in the ingest
    ledger), so nothing is inferred; an empty file set is an empty frame
    of that schema. IcebergLite input is read through the catalog — its
    recorded schemas apply, and so do the snapshot's equality deletes.
    Either way, files totalling at most the session's
    ``spark.sql.files.openCostInBytes`` read as one partition
    (:func:`session.small_read`).
    """
    if cfg.input_format == "iceberglite":
        root, table, snap = split_table_path(cfg.input_path)
        want = set(map(local_path, files))
        df = get_catalog(root).read(
            spark, table, snapshot_id=snap, allow_empty=True,
            path_filter=want.__contains__, file_col="input_file",
        )
        df = df.select(*[c for c in _COLS if c in df.columns],
                       *[c for c in df.columns if c not in _COLS])
    elif files:
        paths = [local_path(f) for f in files]
        df = small_read(
            spark.read.schema(StructType.fromJson(json.loads(schema)))
            .option("basePath", cfg.input_path)
            .parquet(*paths),
            paths,
        )
    else:
        df = local_frame(spark, StructType.fromJson(json.loads(schema)))
    if "input_file" not in df.columns:
        # captured at scan time (pre-shuffle) — the reference's
        # per-variable input-file accounting
        df = df.withColumn("input_file", F.input_file_name())
    return ensure_event_time(df)
