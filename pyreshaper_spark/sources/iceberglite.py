"""IcebergLite — snapshot-versioned parquet tables with atomic commits.

The north rule mandates Iceberg-table semantics (snapshot id, atomic
commit, resume-from-snapshot) but no Iceberg runtime jar ships in this
sandbox (SURVEY.md §7.4). This module supplies the minimal subset the
engine needs, behind the same interface a real Iceberg catalog would
serve, so swapping in `spark.read.format("iceberg")` later is a
one-file change.

Layout on disk (all JSON commits are write-tmp-then-``os.replace`` —
atomic on POSIX, so a crash mid-commit leaves the previous snapshot
intact; data files written but not yet referenced by a committed
snapshot are invisible, exactly like Iceberg orphan files):

    <root>/<table>/data/s<commit>/...            parquet (optionally hive
                                                 key=val partition dirs)
    <root>/<table>/metadata/snapshots.json       the snapshot log

``snapshots.json``::

    {"current": 3,
     "snapshots": [{"id": 1, "parent": 0, "op": "append",
                    "files": [{"path": "s1/source=src0/part-....parquet",
                               "partition": {"source": "src0"}}, ...],
                    "ledger": {"files": [...], "schema": "..."}}]}

A snapshot may carry an ingest ``ledger`` (see :meth:`ledger`): the
pipeline records in ``series_enc`` which input files its data covers,
so the ledger commits in the same atomic log replace as the data.

Manifest entries can carry per-file min/max ``stats`` of chosen
columns (read from the parquet footer at commit time), so
`read(..., stats_filter=...)` skips files at planning time from the
manifest alone — the IcebergLite analog of Iceberg's manifest column
stats. The engine's own tables are unpartitioned and clustered: tier
tables are sorted on (source, bucket_s) with stats on both columns,
``series_enc`` is clustered on source with stats on it, so a one-source,
one-window query opens only the files whose ranges can hold it
(:func:`stats_overlap`). Hive ``key=val`` partition directories are
still supported for tables written with ``partition_by``: their entries
carry the partition tuple (parsed from the path).

Reference analog: the snapshot log is the `.s2s` Specifier + the
write-mode existence checks [U: specification.py :: Specifier.write;
reshaper.py :: output-existence checks] — the substrate that makes
restart idempotent.
"""

from __future__ import annotations

import glob
import json
import os
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pyreshaper_spark.session import local_frame, small_read


class SnapshotNotFound(KeyError):
    pass


def _footer_stats(
    path: str, cols: tuple[str, ...]
) -> dict[str, list]:
    """Per-file [min, max] for ``cols`` from the parquet footer only —
    the IcebergLite analog of Iceberg's manifest column stats, enabling
    planning-time FILE skipping without hive partition directories
    (used for tables whose rows are clustered but not partitioned,
    e.g. the encoded-series table)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict[str, list] = {}
    for c in cols:
        if c not in idx:
            continue
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                break
            mins.append(st.min)
            maxs.append(st.max)
        else:
            if mins:
                out[c] = [min(mins), max(maxs)]
    return out


def stats_overlap(
    stats: dict[str, list], col: str, lo: Any = None, hi: Any = None
) -> bool:
    """Whether a file with manifest ``stats`` can hold a ``col`` value in
    ``[lo, hi]`` (a None bound is open). A file without stats on ``col``
    cannot be proven to miss, so it is kept."""
    if col not in stats:
        return True
    fmin, fmax = stats[col]
    return (hi is None or fmin <= hi) and (lo is None or fmax >= lo)


def _parse_partition(relpath: str) -> dict[str, str]:
    """Extract hive-style ``key=val`` segments from a relative file path."""
    out: dict[str, str] = {}
    for seg in relpath.split(os.sep)[1:-1]:  # skip s<id>/ and the filename
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[k] = v
    return out


class IcebergLite:
    """A tiny snapshot-versioned table catalog over a local/posix root."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths -----------------------------------------------------------
    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _data(self, name: str) -> str:
        return os.path.join(self._tdir(name), "data")

    def _log_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "metadata", "snapshots.json")

    # -- snapshot log ----------------------------------------------------
    def _read_log(self, name: str) -> dict[str, Any]:
        p = self._log_path(name)
        if not os.path.exists(p):
            return {"current": 0, "snapshots": []}
        with open(p) as f:
            return json.load(f)

    def _next_sid(self, name: str) -> int:
        """Next snapshot id: one past the max of current and every
        recorded snapshot. Logs written by older versions may hold
        staged snapshots above ``current``, so ``current + 1`` alone
        could collide."""
        return self._sid_after(self._read_log(name))

    @staticmethod
    def _sid_after(log: dict) -> int:
        return max([log["current"], *(s["id"] for s in log["snapshots"])]) + 1

    def _write_log(self, name: str, log: dict) -> None:
        p = self._log_path(name)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(log, f)
        os.replace(tmp, p)  # the atomic commit point

    def _commit(
        self,
        name: str,
        files: list[dict],
        op: str,
        schema: str | None = None,
        deletes: list[dict] | None = None,
        commit_key: str | None = None,
        ledger: dict | None = None,
    ) -> int:
        """Atomically append a snapshot referencing ``files`` (full live set).

        ``schema`` (Spark schema JSON) is recorded per snapshot — like
        Iceberg's per-snapshot schema — so readers can type an EMPTY
        snapshot (e.g. a fully-pruned table's changelog).

        ``deletes``: the snapshot's live EQUALITY-DELETE files (see
        :meth:`delete_rows_mor`) — each ``{"paths": [rel...],
        "key_cols": [...], "seq": commit-id}``, applied at read time to
        data files with a strictly older sequence number.

        ``ledger``: the snapshot's ingest ledger. When None, every
        commit but a full ``overwrite`` carries the parent's ledger
        unchanged (appends, row replacements, compactions and deletes
        keep describing the same ingested input)."""
        import time

        log = self._read_log(name)
        if ledger is None and op != "overwrite":
            ledger = self._snapshot(name, log["current"], log).get("ledger")
        sid = self._sid_after(log)
        snap = {
            "id": sid,
            "parent": log["current"],
            "op": op,
            "ts": time.time(),
            "files": files,
        }
        if schema is not None:
            snap["schema"] = schema
        if deletes:
            snap["deletes"] = deletes
        if commit_key is not None:
            snap["commit_key"] = commit_key
        if ledger is not None:
            snap["ledger"] = ledger
        log["snapshots"].append(snap)
        log["current"] = sid
        self._write_log(name, log)
        return sid

    def snapshots(self, name: str) -> list[dict]:
        return self._read_log(name)["snapshots"]

    def current_snapshot_id(self, name: str) -> int:
        return self._read_log(name)["current"]

    def _snapshot(
        self, name: str, snapshot_id: int | None, log: dict | None = None
    ) -> dict:
        log = log or self._read_log(name)
        sid = log["current"] if snapshot_id is None else snapshot_id
        if sid == 0:
            return {"id": 0, "files": []}
        for s in log["snapshots"]:
            if s["id"] == sid:
                return s
        raise SnapshotNotFound(f"{name}@{sid}")

    def ledger(self, name: str) -> dict | None:
        """The current snapshot's ingest ledger (``{"files": [...],
        "schema": ...}``), or None when the snapshot carries none."""
        return self._snapshot(name, None).get("ledger")

    def live_paths(self, name: str, snapshot_id: int | None = None) -> list[str]:
        """Absolute paths of the snapshot's live data files, from the
        manifest alone."""
        data = os.path.abspath(self._data(name))
        return [
            os.path.join(data, f["path"])
            for f in self._snapshot(name, snapshot_id)["files"]
        ]

    # -- writes ----------------------------------------------------------
    def _write_data(
        self,
        name: str,
        df: DataFrame,
        partition_by: tuple[str, ...],
        stats_cols: tuple[str, ...] = (),
        options: dict | None = None,
    ) -> list[dict]:
        sid = self._next_sid(name)
        ddir = os.path.join(self._data(name), f"s{sid}")
        w = df.write.mode("overwrite")
        for k, v in (options or {}).items():
            w = w.option(k, v)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(ddir)
        paths = sorted(
            glob.glob(os.path.join(ddir, "**", "*.parquet"), recursive=True)
        )
        stats: dict[str, dict] = {}
        if stats_cols and paths:
            # footer reads are tiny but latency-bound — overlap them
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(min(8, len(paths))) as ex:
                for p, st in zip(
                    paths, ex.map(lambda q: _footer_stats(q, stats_cols), paths)
                ):
                    stats[p] = st
        files = []
        for p in paths:
            rel = os.path.relpath(p, self._data(name))
            entry = {"path": rel, "partition": _parse_partition(rel)}
            if stats_cols:
                entry["stats"] = stats[p]
            files.append(entry)
        return files

    def append(
        self,
        name: str,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
        stats_cols: tuple[str, ...] = (),
        options: dict | None = None,
        gate=None,
        ledger: dict | None = None,
    ) -> int:
        new = self._write_data(name, df, partition_by, stats_cols, options)
        if gate is not None:
            # barrier between the (expensive, side-effect-free) data-file
            # write and the atomic manifest commit: a raising gate leaves
            # orphan files but NO snapshot references them — the table is
            # unchanged (the next write to this sid overwrites the dir).
            # The pipeline uses this to overlap encode with validation
            # while keeping "invalid input commits nothing" airtight.
            gate()
        parent = self._snapshot(name, None)
        live = parent["files"] + new
        # equality-delete files stay live: they apply to the OLD data
        # files (seq < delete seq), never to this append's new files
        return self._commit(
            name, live, "append", df.schema.json(),
            deletes=parent.get("deletes"), ledger=ledger,
        )

    def _has_rows(self, name: str, files: list[dict]) -> bool:
        """True if any of the just-written manifest entries holds rows
        — parquet-footer reads only, stopping at the first non-empty
        file (the common 1-file case costs one footer)."""
        import pyarrow.parquet as pq

        data = self._data(name)
        return any(
            pq.ParquetFile(os.path.join(data, f["path"])).metadata.num_rows
            > 0
            for f in files
        )

    def append_once(
        self,
        name: str,
        df: DataFrame,
        key: str,
        partition_by: tuple[str, ...] = (),
        stats_cols: tuple[str, ...] = (),
        options: dict | None = None,
    ) -> int:
        """Idempotent append: commit ``df`` tagged with ``key`` unless a
        snapshot carrying that key already exists — Iceberg's
        commit-dedup for exactly-once writers (the key is typically
        ``<writer-id>:<batch-id>``; a replayed batch finds its own
        earlier commit and no-ops). The key check
        happens BEFORE any data is written, so a duplicate costs one
        manifest read, zero parquet writes."""
        for s in self._read_log(name)["snapshots"]:
            if s.get("commit_key") == key:
                return s["id"]
        new = self._write_data(name, df, partition_by, stats_cols, options)
        parent = self._snapshot(name, None)
        if not self._has_rows(name, new):
            # empty batch: no rows → no snapshot, no key recorded (a
            # replay is vacuously idempotent). Emptiness comes from the
            # WRITTEN files (zero files for a partitioned write; footer
            # num_rows otherwise — early-exit, driver-local), so idle
            # batches don't grow the snapshot log and the caller needs
            # no isEmpty() pre-scan re-running its source. The empty
            # part file, if any, is unreferenced — remove_orphan_files
            # sweeps it.
            return parent["id"]
        return self._commit(
            name, parent["files"] + new, "append", df.schema.json(),
            deletes=parent.get("deletes"), commit_key=key,
        )

    def overwrite(
        self,
        name: str,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
        stats_cols: tuple[str, ...] = (),
        options: dict | None = None,
        gate=None,
        ledger: dict | None = None,
    ) -> int:
        new = self._write_data(name, df, partition_by, stats_cols, options)
        if gate is not None:
            gate()  # see append(): pre-commit barrier, orphan-safe
        return self._commit(
            name, new, "overwrite", df.schema.json(), ledger=ledger
        )

    def overwrite_partitions(
        self, name: str, df: DataFrame, keys: tuple[str, ...]
    ) -> int:
        """Dynamic partition overwrite: replace exactly the partitions
        present in ``df``, keep the rest — Iceberg's `overwritePartitions`.

        NOTE: the replaced partitions' rows come verbatim from ``df`` —
        callers on tables carrying equality deletes should write the
        already-delete-applied read (the kept partitions' delete
        entries are carried forward)."""
        parent = self._snapshot(name, None)
        new = self._write_data(name, df, keys)
        replaced = {tuple(sorted(f["partition"].items())) for f in new}
        kept = [
            f
            for f in parent["files"]
            if tuple(sorted(f["partition"].items())) not in replaced
        ]
        return self._commit(
            name, kept + new, "overwrite_partitions", df.schema.json(),
            deletes=self._applicable_deletes(parent.get("deletes"), kept),
        )

    # -- reads -----------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        name: str,
        snapshot_id: int | None = None,
        stats_filter: Callable[[dict[str, list]], bool] | None = None,
        allow_empty: bool = False,
        apply_deletes: bool = True,
        path_filter: Callable[[str], bool] | None = None,
        file_col: str | None = None,
        extra_files: list[str] = (),
    ) -> DataFrame:
        """Read a snapshot (time travel via ``snapshot_id``).

        Files are grouped per commit dir and each group is read with
        its own ``basePath`` so hive partition columns are recovered,
        then unioned by name — commit count is small, file count is
        what scales, so the union stays cheap.

        ``allow_empty``: when the snapshot has no (surviving) files,
        return an EMPTY DataFrame typed from the recorded snapshot
        schema instead of raising — for callers where "filter pruned
        everything" is a legitimate state (e.g. repairing a source all
        of whose rows aged out of a retention-pruned tier).

        ``apply_deletes``: apply the snapshot's equality-delete files
        (see :meth:`delete_rows_mor`) — a broadcast anti-join per
        delete file against the data files it covers. Pass ``False``
        to see the raw data files (merge-on-read debugging).

        ``path_filter`` keeps only the files whose absolute path (as
        :meth:`live_paths` reports it) it accepts — the pipeline reads
        an input-file subset this way, with the snapshot's deletes
        still applied. ``file_col`` names a column that receives each
        row's ``input_file_name()``, taken at the scan (it cannot be
        taken above a delete's anti-join).

        ``extra_files`` (absolute parquet paths outside the table) are
        read together with the snapshot's kept files, typed by its
        recorded schema; a column a file lacks reads as null. For an
        unpartitioned snapshot with no applicable deletes — every table
        the engine writes — that is ONE file scan over both sets.
        ``file_col`` does not apply to this read.

        A read whose files total at most the session's
        ``spark.sql.files.openCostInBytes`` is planned as one partition
        (:func:`session.small_read`), so the aggregate, window or sort
        above it plans no shuffle; a larger one scans in parallel.
        """
        log = self._read_log(name)
        snap = self._snapshot(name, snapshot_id, log)
        files = snap["files"]
        if path_filter is not None:
            data = os.path.abspath(self._data(name))
            files = [
                f for f in files if path_filter(os.path.join(data, f["path"]))
            ]
        if stats_filter is not None:
            # keep files with NO stats (cannot prove they don't match)
            files = [
                f
                for f in files
                if not f.get("stats") or stats_filter(f["stats"])
            ]
        schema_json = snap.get("schema")
        if not files and not extra_files:
            if allow_empty and schema_json is not None:
                return local_frame(
                    spark, StructType.fromJson(json.loads(schema_json))
                )
            raise SnapshotNotFound(
                f"{name}@{snap.get('id')}: no files (empty snapshot or "
                "filter pruned everything)"
            )
        deletes = snap.get("deletes") if apply_deletes else None
        if not extra_files:
            return self._df_for_files(
                spark, name, files, log, deletes, file_col
            )
        reader = spark.read
        if schema_json is not None:
            reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
        data = self._data(name)
        paths = [os.path.join(data, f["path"]) for f in files]
        if files and (
            any(f.get("partition") for f in files)
            or self._applicable_deletes(deletes, files)
        ):
            # a hive-partitioned (older layout) or merge-on-read-deleted
            # snapshot needs its per-commit read; the extra files join it
            df = self._scan_files(spark, name, files, log, deletes)
            df = df.unionByName(
                reader.parquet(*extra_files), allowMissingColumns=True
            )
        else:
            df = reader.parquet(*paths, *extra_files)
        return small_read(df, [*paths, *extra_files])

    def _df_for_files(
        self,
        spark: SparkSession,
        name: str,
        files: list[dict],
        log: dict,
        deletes: list[dict] | None = None,
        file_col: str | None = None,
    ) -> DataFrame:
        """:meth:`_scan_files`, planned as one partition when the files
        total at most ``spark.sql.files.openCostInBytes``
        (:func:`session.small_read`)."""
        df = self._scan_files(spark, name, files, log, deletes, file_col)
        data = self._data(name)
        return small_read(df, (os.path.join(data, f["path"]) for f in files))

    def _scan_files(
        self,
        spark: SparkSession,
        name: str,
        files: list[dict],
        log: dict,
        deletes: list[dict] | None = None,
        file_col: str | None = None,
    ) -> DataFrame:
        """DataFrame over an explicit manifest-file subset. Files are
        grouped per commit dir and each group read with its own
        ``basePath`` so hive partition columns are recovered, then
        unioned by name. ``log`` is the parsed snapshot log the caller
        took ``files`` from; it supplies each commit's recorded schema.

        Schema evolution (add-column): commits may carry different
        column sets; the union aligns by NAME and null-fills columns a
        commit predates — Iceberg's add-column read semantics. (True
        drop/rename needs field-id tracking and is out of scope; a
        rename reads as drop+add.)

        ``deletes`` (equality-delete entries): applied PER COMMIT
        GROUP — a delete covers only data files with a strictly older
        sequence number (Iceberg v2 semantics: a row re-inserted after
        the delete survives). Each application is a broadcast
        ``left_anti`` join on the delete's key columns; delete files
        are tiny by construction (keys only), so this never shuffles
        the data side.
        """
        data = self._data(name)
        by_commit: dict[str, list[str]] = {}
        for f in files:
            sdir = f["path"].split(os.sep, 1)[0]
            by_commit.setdefault(sdir, []).append(os.path.join(data, f["path"]))
        keyed = (
            self._delete_keys(spark, name, deletes) if deletes else []
        )
        schema_by_id = {s["id"]: s.get("schema") for s in log["snapshots"]}
        parts = []
        for sdir, paths in sorted(by_commit.items()):
            reader = spark.read.option("basePath", os.path.join(data, sdir))
            # hive partition columns come back TYPE-INFERRED from the
            # directory strings, and a post-hoc cast CANNOT undo that:
            # a string partition value '00' is inferred as int 0 and
            # casts back to '0' — silent corruption. Supplying the
            # commit's recorded schema makes Spark parse each directory
            # value directly AS the declared type (a string column
            # keeps its exact text), so the logical type AND value
            # survive the round-trip.
            sj = schema_by_id.get(self._file_seq(sdir))
            if sj is not None:
                reader = reader.schema(StructType.fromJson(json.loads(sj)))
            df = reader.parquet(*paths)
            if file_col is not None:
                df = df.withColumn(file_col, F.input_file_name())
            if keyed:
                df = self._anti_join_deletes(df, keyed, self._file_seq(sdir))
            parts.append(df)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        return df

    # -- merge-on-read (equality) deletes ---------------------------------
    @staticmethod
    def _file_seq(path: str) -> int:
        """Data sequence number of a manifest path: the commit id in
        its leading directory (``s7/...`` → 7, ``d7/...`` → 7). Files
        carried across commits keep their original directory, so the
        sequence survives any number of snapshot hops."""
        return int(path.split(os.sep, 1)[0][1:])

    @classmethod
    def _applicable_deletes(
        cls, deletes: list[dict] | None, files: list[dict]
    ) -> list[dict] | None:
        """The subset of ``deletes`` that still covers at least one of
        ``files`` (a delete applies to data files with seq < its own).
        Rewrites call this to drop delete files the rewrite
        materialized — full compaction leaves the table delete-free."""
        if not deletes:
            return None
        seqs = [cls._file_seq(f["path"]) for f in files]
        return [d for d in deletes if any(s < d["seq"] for s in seqs)] or None

    def _delete_keys(
        self, spark: SparkSession, name: str, deletes: list[dict]
    ) -> list[tuple[int, list[str], DataFrame]]:
        """Materialize each delete entry's key DataFrame ONCE (they are
        re-applied per commit group — G groups x D deletes must not
        plan G x D parquet scans of the same tiny files)."""
        data = self._data(name)
        return [
            (
                d["seq"],
                list(d["key_cols"]),
                spark.read.parquet(
                    *(os.path.join(data, p) for p in d["paths"])
                ),
            )
            for d in sorted(deletes, key=lambda d: d["seq"])
        ]

    @staticmethod
    def _anti_join_deletes(
        df: DataFrame,
        keyed: list[tuple[int, list[str], DataFrame]],
        data_seq: int,
    ) -> DataFrame:
        for seq, key_cols, keys in keyed:
            if seq <= data_seq:
                continue
            if any(c not in df.columns for c in key_cols):
                # equality-delete semantics: a row whose key column is
                # absent (file predates an add-column evolution) has a
                # NULL key — NULL never equals, so the group is untouched
                continue
            df = df.join(F.broadcast(keys), key_cols, "left_anti")
        return df

    def delete_rows_mor(
        self,
        spark: SparkSession,
        name: str,
        keys: DataFrame,
        key_cols: tuple[str, ...],
    ) -> int:
        """Merge-on-read row-level delete — Iceberg v2 EQUALITY-DELETE
        files. Copy-on-write (:meth:`replace_rows`) rewrites every file
        that COULD hold a matching row; at 100 TB that is a gigabyte of
        rewrite per deleted document. This instead writes only the key
        set (one tiny parquet file) and commits a snapshot whose
        manifest references the SAME data files plus the delete entry;
        readers subtract the keys with a broadcast anti-join, applied
        only to data files with an older sequence number (so a later
        re-insert of the same key survives — Iceberg v2 sequence-number
        semantics). Compaction (:meth:`compact`) materializes
        outstanding deletes into the rewritten files and drops entries
        no remaining file needs.

        Delete cost: O(keys). Read cost: one broadcast anti-join per
        outstanding delete file — which is why periodic compaction
        matters, exactly as with real Iceberg MOR tables.

        Time travel across the delete works: prior snapshots carry no
        delete entry and read the original rows.

        Returns the new snapshot id.
        """
        log = self._read_log(name)
        snap = self._snapshot(name, None, log)
        if not snap["files"]:
            raise SnapshotNotFound(f"{name}: empty table")
        # a delete keyed on a column the table doesn't have would commit
        # fine and then break EVERY subsequent read's anti-join — reject
        # at commit time against the current table schema
        if snap.get("schema") is not None:
            cols = {
                f["name"]
                for f in json.loads(snap["schema"]).get("fields", [])
            }
        else:
            cols = set(
                self._df_for_files(spark, name, snap["files"], log).columns
            )
        missing = [c for c in key_cols if c not in cols]
        if missing:
            raise ValueError(
                f"delete_rows_mor: key column(s) {missing} not in "
                f"{name}'s current schema {sorted(cols)}"
            )
        sid = self._next_sid(name)
        ddir = os.path.join(self._data(name), f"d{sid}")
        # keys are small by contract (a compliance batch, not a corpus);
        # one file keeps the read-side broadcast single-shot
        keys.select(*key_cols).distinct().coalesce(1).write.mode(
            "overwrite"
        ).parquet(ddir)
        paths = sorted(
            os.path.relpath(p, self._data(name))
            for p in glob.glob(os.path.join(ddir, "*.parquet"))
        )
        entry = {"paths": paths, "key_cols": list(key_cols), "seq": sid}
        return self._commit(
            name,
            snap["files"],
            "delete",
            snap.get("schema"),
            deletes=(snap.get("deletes") or []) + [entry],
        )

    def read_changes(
        self,
        spark: SparkSession,
        name: str,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        eliminate_carryovers: bool = True,
    ) -> DataFrame:
        """Incremental / CDC changelog read — Iceberg's
        ``create_changelog_view``: every row change between two
        snapshots, tagged ``_change_type`` ∈ {insert, delete}.

        The diff is computed on the MANIFEST (file sets), so the
        common append-only case reads exactly the files added since
        ``from_snapshot_id`` — O(new data), never a table scan. That
        is the incremental-consumer contract: a downstream job
        checkpoints the snapshot id it last saw and reads only the
        delta.

        Copy-on-write rewrites (:meth:`replace_rows`, :meth:`compact`)
        carry unchanged rows through both the removed and added file
        sets; with ``eliminate_carryovers`` those are cancelled by a
        multiset ``exceptAll`` in each direction (Iceberg's
        carryover-row removal), leaving only net inserts/deletes.
        The exceptAll cost is bounded by the REWRITTEN files, not the
        table. Pure compaction therefore yields an empty changelog.
        """
        log = self._read_log(name)
        from_snap = self._snapshot(name, from_snapshot_id, log)
        from_files = {f["path"] for f in from_snap["files"]}
        to_snap = self._snapshot(name, to_snapshot_id, log)
        to_files = {f["path"] for f in to_snap["files"]}
        added = [f for f in to_snap["files"] if f["path"] not in from_files]
        removed = [
            f for f in from_snap["files"] if f["path"] not in to_files
        ]
        # merge-on-read equality deletes committed in the range change
        # NO data files — their net row deletions are computed from the
        # delete keys against the data files that survive in BOTH
        # snapshots (rewritten files are already accounted by the file
        # diff; rows MOR-deleted before the range are masked by earlier
        # delete entries so they never re-emit)
        from_del_ids = {d["seq"] for d in from_snap.get("deletes") or []}
        to_dels = to_snap.get("deletes") or []
        del_parts: list[DataFrame] = []
        for d in to_dels:
            if d["seq"] in from_del_ids:
                continue
            common = [
                f
                for f in to_snap["files"]
                if f["path"] in from_files
                and self._file_seq(f["path"]) < d["seq"]
            ]
            if not common:
                continue
            prior = [x for x in to_dels if x["seq"] < d["seq"]]
            base = self._df_for_files(spark, name, common, log, prior or None)
            keys = spark.read.parquet(
                *(os.path.join(self._data(name), p) for p in d["paths"])
            )
            del_parts.append(
                base.join(F.broadcast(keys), list(d["key_cols"]), "left_semi")
                .withColumn("_change_type", F.lit("delete"))
            )
        tag = F.lit("insert")
        if not added and not removed and not del_parts:
            # no file changes → EMPTY changelog (an incremental consumer
            # polling an idle — or fully-pruned — table must get zero
            # rows, never an exception). Type it from the to-snapshot's
            # files if any, else from the recorded snapshot schema, else
            # from any snapshot in the log that still has files.
            if to_snap["files"]:
                return (
                    self._df_for_files(spark, name, to_snap["files"], log)
                    .limit(0)
                    .withColumn("_change_type", tag)
                )
            schema_json = to_snap.get("schema")
            if schema_json is None:
                for s in reversed(log["snapshots"]):
                    if s.get("schema") or s["files"]:
                        if s.get("schema"):
                            schema_json = s["schema"]
                        else:
                            return (
                                self._df_for_files(
                                    spark, name, s["files"], log
                                )
                                .limit(0)
                                .withColumn("_change_type", tag)
                            )
                        break
            if schema_json is None:
                raise SnapshotNotFound(
                    f"{name}: empty table with no recorded schema"
                )
            return local_frame(
                spark, StructType.fromJson(json.loads(schema_json))
            ).withColumn("_change_type", tag)
        # added files read under the TO snapshot's deletes (a delete in
        # the range may cover a file also added in the range — those
        # rows net to nothing); removed files under FROM's (rows gone
        # before the range must not re-emit as deletes)
        ins = (
            self._df_for_files(spark, name, added, log, to_snap.get("deletes"))
            if added
            else None
        )
        dels = (
            self._df_for_files(
                spark, name, removed, log, from_snap.get("deletes")
            )
            if removed
            else None
        )
        if (
            ins is not None
            and dels is not None
            and eliminate_carryovers
            # a schema-evolved rewrite cannot carry rows verbatim
            and set(ins.columns) == set(dels.columns)
        ):
            ins, dels = (
                ins.exceptAll(dels.select(*ins.columns)),
                dels.select(*ins.columns).exceptAll(ins),
            )
        parts = []
        if ins is not None:
            parts.append(ins.withColumn("_change_type", tag))
        if dels is not None:
            parts.append(dels.withColumn("_change_type", F.lit("delete")))
        parts.extend(del_parts)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def exists(self, name: str) -> bool:
        return self.current_snapshot_id(name) > 0

    def list_tables(self) -> list[str]:
        """All table names under the warehouse root that carry a
        snapshot log — including tables with no readable snapshot
        (``current == 0``), which :meth:`exists` reports False for but
        maintenance still owns."""
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.exists(self._log_path(d))
        )

    def table_schema_json(self, name: str) -> str | None:
        """The current snapshot's recorded schema (Spark JSON), or
        None when the table predates schema recording. Public face of
        the ``_snapshot(...)["schema"]`` probe the maintain CLI used."""
        return self._snapshot(name, None).get("schema")

    # -- metadata tables (Iceberg's t.snapshots / t.files inspection
    # surface). Built driver-side from the manifest — exactly where
    # Iceberg itself plans from — so they are O(manifest),
    # never O(data), and come back as ordinary DataFrames that can be
    # joined/filtered like any other relation.
    def inspect_snapshots(self, spark: SparkSession, name: str) -> DataFrame:
        """One row per recorded snapshot: (snapshot_id, parent_id,
        operation, committed_at_s, is_current, n_data_files,
        n_delete_files)."""
        log = self._read_log(name)
        rows = [
            (
                s["id"],
                s.get("parent", 0),
                s["op"],
                float(s.get("ts", 0.0)),
                s["id"] == log["current"],
                len(s["files"]),
                sum(len(d["paths"]) for d in s.get("deletes", [])),
            )
            for s in log["snapshots"]
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, parent_id long, operation string, "
            "committed_at_s double, is_current boolean, "
            "n_data_files int, n_delete_files int",
        )

    def inspect_files(
        self,
        spark: SparkSession,
        name: str,
        snapshot_id: int | None = None,
        with_rows: bool = False,
    ) -> DataFrame:
        """One row per live file at a snapshot: (content, file_path,
        partition map, seq, stats min/max map, record_count). ``seq`` is
        the commit sequence number MOR deletes compare against.
        ``with_rows=True`` additionally reads each parquet footer for
        ``record_count`` (|files| tiny metadata reads — opt-in, like
        Iceberg's files-table record_count which it keeps in manifests)."""
        snap = self._snapshot(name, snapshot_id)
        entries: list[tuple] = []
        for f in snap["files"]:
            entries.append(("data", f["path"], f.get("partition", {}),
                            self._file_seq(f["path"]),
                            {k: [str(v[0]), str(v[1])]
                             for k, v in f.get("stats", {}).items()}))
        for d in snap.get("deletes", []):
            for p in d["paths"]:
                entries.append(("equality-deletes", p, {}, d["seq"], {}))
        counts: dict[str, int | None] = {}
        if with_rows:
            import pyarrow.parquet as pq
            from concurrent.futures import ThreadPoolExecutor

            data = self._data(name)
            paths = [e[1] for e in entries]
            with ThreadPoolExecutor(min(8, max(1, len(paths)))) as ex:
                for rel, n in zip(paths, ex.map(
                    lambda r: pq.ParquetFile(
                        os.path.join(data, r)).metadata.num_rows, paths
                )):
                    counts[rel] = n
        rows = [(*e, counts.get(e[1])) for e in entries]
        return spark.createDataFrame(
            rows,
            "content string, file_path string, partition map<string,string>, "
            "seq long, stats map<string,array<string>>, record_count long",
        )

    def replace_rows(
        self,
        spark: SparkSession,
        name: str,
        keys: DataFrame,
        key_cols: tuple[str, ...],
        replacement: DataFrame | None = None,
        stats_filter: Callable[[dict[str, list]], bool] | None = None,
        stats_cols: tuple[str, ...] = (),
        options: dict | None = None,
        ledger: dict | None = None,
        sort_by: tuple[str, ...] = (),
    ) -> tuple[int, int, int]:
        """Copy-on-write row-level delete/upsert — Iceberg's
        ``MERGE``/``DELETE`` with copy-on-write semantics: rows whose
        ``key_cols`` match a row of ``keys`` are removed; ``replacement``
        rows (if any) are added; everything lands in ONE atomic commit.

        File skipping is the point at scale: only files that COULD hold
        a matching row (per ``stats_filter`` against the manifest
        stats; a file without stats is always a candidate) are read and
        rewritten — every other file is carried into the new snapshot by
        reference, so the rewrite cost is O(affected files), not
        O(table). The rewrite is unpartitioned. Prior snapshots still
        reference the old files (time travel across the delete works
        until :meth:`expire_snapshots`).

        ``ledger`` replaces the ingest ledger; by default the parent's
        is carried. ``sort_by`` sorts the rewritten rows before the
        write, so a table clustered on those columns stays clustered.

        Returns (snapshot_id, files_rewritten, files_untouched).
        """
        log = self._read_log(name)
        snap = self._snapshot(name, None, log)
        cand, untouched = [], []
        for f in snap["files"]:
            skip = (
                stats_filter is not None
                and f.get("stats")
                and not stats_filter(f["stats"])
            )
            (untouched if skip else cand).append(f)
        parts: list[DataFrame] = []
        if cand:
            # apply outstanding equality deletes while reading the
            # rewrite candidates — a rewrite must not resurrect
            # MOR-deleted rows into its (newer-sequence) output files
            parts.append(
                self._df_for_files(
                    spark, name, cand, log, snap.get("deletes")
                ).join(keys, list(key_cols), "left_anti")
            )
        if replacement is not None:
            parts.append(replacement)
        if not parts:
            return snap["id"], 0, len(untouched)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if sort_by:
            df = df.orderBy(*sort_by)
        new = self._write_data(name, df, (), stats_cols, options)
        sid = self._commit(
            name, untouched + new, "replace", df.schema.json(),
            deletes=self._applicable_deletes(snap.get("deletes"), untouched),
            ledger=ledger,
        )
        return sid, len(cand), len(untouched)

    # -- maintenance -----------------------------------------------------
    def compact(
        self,
        spark: SparkSession,
        name: str,
        partition_by: tuple[str, ...] = (),
        target_file_bytes: int = 128 << 20,
        min_files: int = 2,
        stats_cols: tuple[str, ...] = (),
        sort_by: tuple[str, ...] = (),
    ) -> int | None:
        """Bin-pack small-file compaction — Iceberg's
        ``rewrite_data_files``. Long-running append cycles (the
        file-incremental pipeline commits per cycle) accrete many small
        parquet files per partition; at 100 TB that multiplies
        scan-planning and open() cost. This
        rewrites every partition holding ≥ ``min_files`` files into
        ~``target_file_bytes`` files and commits a ``rewrite`` snapshot
        referencing the new files plus the untouched ones.

        ``sort_by`` makes it a SORT-based rewrite (Iceberg's
        ``rewrite_data_files(strategy => 'sort')``): rows are
        range-partitioned + sorted on the given columns before the
        write, so each output file covers a narrow, non-overlapping
        value range — which turns the manifest min/max ``stats_cols``
        into an effective file-skipping index (a point/range
        ``stats_filter`` then opens O(matching range) files instead of
        all of them). Appends arrive unsorted; periodic sorted
        compaction is how the read path earns pruning without paying a
        global sort on every write. With ``min_files=1`` every
        partition is re-clustered even if already compacted.

        The rewritten files record stats on ``stats_cols``, on the
        ``sort_by`` columns, and on every column the files they replace
        already had stats on — a compaction never strips the stats a
        pruned read depends on.

        Logically lossless: rows are identical before and after (test
        asserts set equality), and prior snapshots still reference the
        old files — time travel across the compaction keeps working
        until :meth:`expire_snapshots` reclaims them.

        Returns the new snapshot id, or None if nothing needed rewriting.
        """
        import math

        log = self._read_log(name)
        snap = self._snapshot(name, None, log)
        groups: dict[tuple, list[dict]] = {}
        for f in snap["files"]:
            groups.setdefault(tuple(sorted(f["partition"].items())), []).append(f)
        todo = [fs for fs in groups.values() if len(fs) >= min_files]
        if not todo:
            return None
        rewrite = [f for fs in todo for f in fs]
        stats_cols = tuple(dict.fromkeys([
            *stats_cols, *sort_by,
            *(c for f in rewrite for c in f.get("stats", {})),
        ]))
        data = self._data(name)
        total = sum(
            os.path.getsize(os.path.join(data, f["path"])) for f in rewrite
        )
        # materialize outstanding equality deletes into the rewrite
        df = self._df_for_files(spark, name, rewrite, log, snap.get("deletes"))
        n = max(1, math.ceil(total / target_file_bytes))
        # partitioned tables: bound files PER partition dir; unpartitioned:
        # bound total output files
        if sort_by:
            keys = [*partition_by, *sort_by]
            df = df.repartitionByRange(n, *keys).sortWithinPartitions(*keys)
        elif partition_by:
            df = df.repartition(n, *partition_by)
        else:
            df = df.repartition(n)
        new = self._write_data(name, df, partition_by, stats_cols)
        rewritten = {f["path"] for f in rewrite}
        kept = [f for f in snap["files"] if f["path"] not in rewritten]
        return self._commit(
            name, kept + new, "rewrite", df.schema.json(),
            deletes=self._applicable_deletes(snap.get("deletes"), kept),
        )

    def expire_snapshots(
        self,
        name: str,
        keep_last: int = 1,
        older_than_s: float | None = None,
    ) -> int:
        """Expire all but the newest ``keep_last`` snapshots and delete
        data files no longer referenced by any retained snapshot —
        Iceberg's ``expire_snapshots`` maintenance. Returns the number
        of data files deleted. The log rewrite is the same atomic
        tmp+``os.replace`` as a commit; file deletion happens only
        AFTER the new log is durable (a crash in between leaves
        harmless orphans, never a broken snapshot).

        ``older_than_s`` (Iceberg's ``older_than``, as an age in
        seconds): when set, only snapshots committed more than this
        many seconds ago are ELIGIBLE to expire — newer ones are
        retained in addition to the ``keep_last`` newest, so the two
        criteria compose exactly like Iceberg's (retain_last AND
        older_than). Snapshots from before commit timestamps were
        recorded (no ``ts``) count as infinitely old."""
        import time

        if keep_last < 1:
            # keep_last=0 would slice to the FULL list ([-0:]) and
            # expire nothing — reject instead of silently no-opping
            raise ValueError("expire_snapshots: keep_last must be >= 1")
        if older_than_s is not None and older_than_s < 0:
            raise ValueError("expire_snapshots: older_than_s must be >= 0")
        log = self._read_log(name)
        if len(log["snapshots"]) <= keep_last:
            return 0
        # retained = newest keep_last, plus current (not the list tail
        # in logs written by older versions with staged snapshots)
        keep_ids = {s["id"] for s in log["snapshots"][-keep_last:]}
        if older_than_s is not None:
            cutoff = time.time() - older_than_s
            keep_ids.update(
                s["id"]
                for s in log["snapshots"]
                if float(s.get("ts", 0.0)) > cutoff
            )
        keep_ids.add(log["current"])
        kept_snaps = [s for s in log["snapshots"] if s["id"] in keep_ids]
        if len(kept_snaps) == len(log["snapshots"]):
            return 0

        def _paths(s: dict) -> set[str]:
            return {f["path"] for f in s["files"]} | {
                p for d in s.get("deletes") or [] for p in d["paths"]
            }

        live = {p for s in kept_snaps for p in _paths(s)}
        dead = {
            p
            for s in log["snapshots"]
            if s["id"] not in keep_ids
            for p in _paths(s)
        } - live
        log["snapshots"] = kept_snaps
        self._write_log(name, log)
        data = self._data(name)
        for rel in sorted(dead):
            try:
                os.remove(os.path.join(data, rel))
            except FileNotFoundError:
                pass
        # drop now-empty commit dirs (cosmetic)
        for d in sorted(glob.glob(os.path.join(data, "[sd]*")), reverse=True):
            for sub, _, names in list(os.walk(d, topdown=False)):
                if not names and not os.listdir(sub):
                    os.rmdir(sub)
        return len(dead)

    def remove_orphan_files(
        self,
        name: str,
        older_than_s: float = 3 * 86400,
        dry_run: bool = False,
    ) -> list[str]:
        """Delete files under the table's data directory referenced by
        NO snapshot in the log — Iceberg's ``remove_orphan_files``
        maintenance.

        Orphans are created BY DESIGN here, not only by crashes: a
        gated commit that aborts (pipeline validation failure — see
        ``append(gate=...)``) leaves its already-written data files
        with no referencing snapshot, a crash between the data write
        and the atomic log replace does the same, and Spark drops
        ``_SUCCESS`` markers the manifest never tracks. None of these
        affect reads (readers see only manifest-listed files), but at
        10^12-row scale abandoned encode outputs are real storage.

        Safety: only files whose mtime is older than ``older_than_s``
        are swept (default 3 days, mirroring Iceberg's
        ``older_than``), so the data files of a commit that is
        IN FLIGHT right now — written, gate still running, manifest
        not yet replaced — are never deleted from under it.

        Returns the (relative) paths removed — or, with ``dry_run``,
        the paths that WOULD be removed.
        """
        import time

        if older_than_s < 0:
            raise ValueError("remove_orphan_files: older_than_s must be >= 0")
        log = self._read_log(name)
        live = {f["path"] for s in log["snapshots"] for f in s["files"]} | {
            p
            for s in log["snapshots"]
            for d in s.get("deletes") or []
            for p in d["paths"]
        }
        data = self._data(name)
        cutoff = time.time() - older_than_s
        doomed: list[str] = []
        for path in glob.glob(os.path.join(data, "**"), recursive=True):
            if not os.path.isfile(path):
                continue
            rel = os.path.relpath(path, data)
            if rel in live:
                continue
            try:
                if os.path.getmtime(path) > cutoff:
                    continue  # possibly an in-flight commit's file
            except FileNotFoundError:
                continue
            doomed.append(rel)
        if not dry_run:
            for rel in sorted(doomed):
                try:
                    os.remove(os.path.join(data, rel))
                except FileNotFoundError:
                    pass
            for d in sorted(glob.glob(os.path.join(data, "[sd]*")), reverse=True):
                for sub, _, names in list(os.walk(d, topdown=False)):
                    if not names and not os.listdir(sub):
                        os.rmdir(sub)
        return sorted(doomed)
