"""Targeted document deletion and restatement with incremental repair.

The mutation faces of the retention engine: :func:`delete_docs` is
"right to be forgotten" (remove a set of ``doc_id``s from EVERY data
product of a completed pipeline run); :func:`restate_docs` is the
upsert twin (the input rows for a set of ``doc_id``s were corrected in
place — payload, source, or event time — and every data product must
converge to a from-scratch run on the corrected input). Both repair
encoded series chunks, the tier and gap-filled tier tables, per-source
metadata, and lineage metrics — without recomputing any of them from
scratch.

Work is proportional to what the victims actually touched, never to
the corpus, and each fact is computed once. The victim positions
``(source, salt, event_s)`` are collected to the driver in one job (a
compliance batch, not a corpus); the chunk keys, affected sources and
every tier's victim buckets are built from that list as Arrow-backed
local relations (:func:`session.local_frame`).

* **series_enc** — only the (source, salt) chunks that contained a
  victim are re-encoded (from the remaining raw rows of exactly those
  chunks: salt = ``pmod(xxhash64(doc_id), nsalt)`` is derivable from
  the victim list alone, using the checkpoint-pinned nsalt), in one
  Python stage: the encoder takes ``tokens`` itself, so the bulk
  encode's pre-shuffle pack stage is not worth its task here. The
  table commit is a single-snapshot copy-on-write
  :meth:`IcebergLite.replace_rows`: files that cannot hold an affected
  chunk (manifest ``source`` stats) are carried by reference.
* **tiers** — a victim at event time t invalidates exactly one bucket
  per tier width. The affected sources' remaining raw rows are scanned
  ONCE into the pipeline's fused head (:func:`rollup.head_aggregate`
  at tier 0's width, persisted), and every tier's victim buckets
  re-aggregate from the head rows inside them — exact by
  associativity, since every width is a multiple of tier 0's. Never
  from a finer committed tier, whose live rows may be
  retention-pruned. Tier and gap-filled tables are committed through
  :meth:`IcebergLite.replace_rows` keyed on the affected sources: each
  source's rows are rebuilt from its live rows outside the victim
  buckets plus the repaired buckets (a gap-filled row, and a tier row
  carrying the replicated per-source metadata, depends on the whole
  source). Tier files are sorted on (source, bucket_s) with manifest
  stats on both, so files whose ``source`` range holds no affected
  source are carried by reference.
* **meta_source / metrics** — the affected sources' meta rows come
  from the same head (:func:`rollup.meta_from_head`); metrics is an
  O(chunks) rebuild.

At a 10^12-row deployment the repair reads the affected sources' raw
rows (the pushed ``source IN (...)`` filter prunes row groups) once for
the head and once for the victim chunks, without ``tokens`` in the
head scan, and the tier reads prune to the files whose stats cover an
affected source. The victim lookup is still a narrow scan of every
listed input file.

Retention interplay: repair never *adds* history — repaired buckets
are re-filtered against the live table's retention high-water mark, so
a bucket already aged out cannot be resurrected by a delete.
"""

from __future__ import annotations

import bisect
import dataclasses
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyreshaper_spark.config import RunConfig
from pyreshaper_spark.operators.encode import encode_series_table
from pyreshaper_spark.operators.gapfill import gapfill_locf
from pyreshaper_spark.operators.rollup import (
    floor_py,
    head_aggregate,
    meta_from_head,
    rollup_cascade,
)
from pyreshaper_spark.operators.transpose import (
    transpose_to_series,
    with_salt,
)
from pyreshaper_spark.plans.checkpoint import Checkpoint
from pyreshaper_spark.plans.pipeline import (
    TIER_KEYS,
    fidelity_bad_rows,
    ingest_ledger,
    read_ingested,
    without_deleted,
    write_lineage,
)
from pyreshaper_spark.session import local_frame
from pyreshaper_spark.sources.catalog import get_catalog
from pyreshaper_spark.sources.iceberglite import IcebergLite
from pyreshaper_spark.sources.readers import (
    list_input_files,
    read_input,
    split_table_path,
)

#: a victim position: the (source, salt) chunk and the event time
Position = tuple[str, int, int]


def _victim_keys(
    spark: SparkSession, positions: Sequence[Position], widths: Sequence[int]
) -> tuple[list[str], DataFrame, list[DataFrame]]:
    """The affected sources (sorted), the victim chunk keys
    ``(source, salt)`` and, per width, the victim buckets
    ``(source, bucket_s)`` — all from the driver-side position list."""
    sources = sorted({s for s, _, _ in positions})
    chunks = local_frame(
        spark, "source string, salt int", sorted({p[:2] for p in positions})
    )
    buckets = [
        local_frame(
            spark, "source string, bucket_s long",
            sorted({(s, floor_py(e, w)) for s, _, e in positions}),
        )
        for w in widths
    ]
    return sources, chunks, buckets


def _reencode(current: DataFrame, chunks: DataFrame, nsalt: int) -> DataFrame:
    """The encoded ``series_enc`` rows of the victim chunks, rebuilt from
    the rows of ``current`` that hash into them."""
    rows = (
        with_salt(current, nsalt)
        .join(F.broadcast(chunks), ["source", "salt"], "left_semi")
        .drop("salt")
    )
    return encode_series_table(transpose_to_series(rows, nsalt))


def _fix_buckets(
    head: DataFrame, buckets: DataFrame, width_s: int
) -> DataFrame:
    """One tier's victim buckets, re-aggregated at ``width_s`` from the
    head rows inside them."""
    return rollup_cascade(head, width_s).join(
        F.broadcast(buckets), list(TIER_KEYS), "left_semi"
    )


def _resolve_ids(
    spark: SparkSession, doc_ids: Sequence[str] | DataFrame
) -> DataFrame:
    if isinstance(doc_ids, DataFrame):
        return doc_ids.select(
            F.col("doc_id").cast("string").alias("doc_id")
        ).distinct()
    return local_frame(
        spark, "doc_id string", [(d,) for d in sorted(set(map(str, doc_ids)))]
    )


def _load_run(
    op: str, spark: SparkSession, cfg: RunConfig, checkpoint_path: str
) -> tuple[IcebergLite, Checkpoint, int, dict]:
    cfg.validate()
    cat = get_catalog(cfg.output_path)
    ckpt = Checkpoint.load(checkpoint_path)
    if ckpt.cycle is not None:
        raise RuntimeError(
            f"{op}: an append cycle is in flight (checkpoint has "
            "pinned cycle state); finish or replay it first"
        )
    nsalt = ckpt.nsalt or cfg.nsalt
    led = ingest_ledger(cat)
    if not nsalt or led is None:
        raise RuntimeError(f"{op}: the pipeline has not encoded yet")
    return cat, ckpt, nsalt, led


def delete_docs(
    spark: SparkSession,
    cfg: RunConfig,
    checkpoint_path: str,
    doc_ids: Sequence[str] | DataFrame,
) -> dict:
    """Delete ``doc_ids`` from every committed table of a finished
    pipeline run (see module docstring). Returns a report dict.

    ``doc_ids`` may be a Python sequence or a one-column ``doc_id``
    DataFrame. The victim list is assumed driver-manageable (a
    compliance batch, not a corpus) — it is broadcast into every probe,
    and the victims' positions are collected to the driver once.

    The input itself is never changed, so the ``series_enc`` commit
    records the deleted ids in the ingest ledger (``"deleted"``, the
    union over every delete batch): :func:`pipeline.read_ingested`
    subtracts them, and a later delete's repair, the fidelity gate and
    a restatement see the live input instead of bringing an earlier
    batch's victims back into a shared chunk or bucket. Append cycles
    and restatements carry the record; an overwrite run rebuilds from
    the input and drops it.

    The repair reads only the ingest ledger's files, and the ledger's
    file list is carried unchanged, so a file whose every row was
    deleted stays ingested and a pending file stays pending. Victims
    are looked up in every listed input file, recorded ids included, so
    deleting an id again (or rerunning a delete that crashed between
    commits) repeats its repair. A victim that sits only in a pending
    file is counted in ``deleted_rows`` but not recorded, and its chunk
    and buckets are re-derived from the ingested rows alone — the next
    append cycle ingests that file, victim included, so compliance
    deletes must also remove the rows from the input.
    """
    cat, ckpt, nsalt, led = _load_run(
        "delete_docs", spark, cfg, checkpoint_path
    )
    ids = _resolve_ids(spark, doc_ids)

    listed = list_input_files(cfg)
    ingested = read_ingested(spark, cfg, led, listed)
    # victims are looked up in the input as it is, recorded ids
    # included: a rerun after a crash between the series_enc commit
    # (which records them) and the last tier commit redoes the repair
    seq = read_input(spark, cfg, listed, led["schema"])
    victims = [
        tuple(r)
        for r in with_salt(
            seq.join(F.broadcast(ids), "doc_id", "left_semi"), nsalt
        )
        .select("doc_id", "input_file", "source", "salt", "event_s")
        .collect()
    ]
    report: dict = {"deleted_rows": len(victims), "snapshot_ids": {}}
    if victims:
        remaining = ingested.join(F.broadcast(ids), "doc_id", "left_anti")
        done = set(led["files"])
        gone = {str(d) for d, f, *_ in victims if f in done}
        ledger = {
            **led, "deleted": sorted(set(led.get("deleted", ())) | gone)
        }
        _repair_run(
            spark, cfg, cat, ckpt, nsalt, [v[2:] for v in victims],
            remaining, report, ledger=ledger,
        )
    return report


def restate_docs(
    spark: SparkSession,
    cfg: RunConfig,
    checkpoint_path: str,
    doc_ids: Sequence[str] | DataFrame,
) -> dict:
    """Restatement — the upsert face of :func:`delete_docs`: the INPUT
    rows for ``doc_ids`` have been corrected in place (payload, source,
    or event time may all have changed; a doc may even be brand-new or
    gone entirely), and every committed table must be repaired to equal
    a from-scratch run on the current input — at incremental cost.

    The victim position set is the UNION of old and new placements:

    * **old** — recovered from the committed ``series_enc`` itself:
      chunks whose metadata ``doc_ids`` list (manifest-scale, no
      payload read) names a victim are decoded — O(victim chunks) —
      yielding the doc's previously-committed (source, event_s);
    * **new** — the victim rows of the current input.

    Both placements' (source, salt) chunks re-encode and both
    placements' time buckets re-aggregate, so a doc that MOVED between
    sources or buckets is removed where it was and added where it now
    belongs. Everything downstream is the shared repair walk of
    :func:`delete_docs` with ``current`` = the full corrected input.

    Interplay with :func:`delete_docs`: restatement treats the current
    input minus the ledger's deleted ids as truth, and the
    ``series_enc`` commit carries that record. A doc deleted earlier
    therefore stays out of every chunk and bucket a restatement
    rebuilds, even when the doc itself is restated; only an overwrite
    run, which rebuilds from the input, brings it back. Compliance
    deletions should still remove the rows from the input table — the
    same rule real Iceberg deployments follow when a table is
    rebuildable from upstream data.

    Corrections rewrite input files (a corrected parquet directory, a
    copy-on-write commit to an IcebergLite input), so the current input
    is every listed file, and the ``series_enc`` commit records that
    listing as the new ingest ledger. A file that landed since the last
    append cycle is therefore taken as ingested: run the cycle before
    restating.
    """
    cat, ckpt, nsalt, led = _load_run(
        "restate_docs", spark, cfg, checkpoint_path
    )
    ids = _resolve_ids(spark, doc_ids)

    from pyreshaper_spark.operators.encode import decode_series_table

    listed = list_input_files(cfg)
    seq = without_deleted(
        spark, read_input(spark, cfg, listed, led["schema"]), led
    )
    enc = cat.read(spark, "series_enc", allow_empty=True)
    old_chunks = (
        enc.select("source", "salt", F.explode("doc_ids").alias("doc_id"))
        .join(F.broadcast(ids), "doc_id", "left_semi")
        .select("source", "salt")
        .distinct()
    )
    old_rows = (
        decode_series_table(
            enc.join(F.broadcast(old_chunks), ["source", "salt"], "left_semi")
        )
        .join(F.broadcast(ids), "doc_id", "left_semi")
        .select("doc_id", "source", "event_s")
    )
    new_rows = seq.join(F.broadcast(ids), "doc_id", "left_semi").select(
        "doc_id", "source", "event_s"
    )
    # one position per (doc, placement): a doc that did not move is
    # both old and new at the same place
    victims = {
        tuple(r)
        for r in with_salt(old_rows.unionByName(new_rows), nsalt)
        .select("doc_id", "source", "salt", "event_s")
        .collect()
    }
    report: dict = {"restated_positions": len(victims), "snapshot_ids": {}}
    if victims:
        _repair_run(
            spark, cfg, cat, ckpt, nsalt, [v[1:] for v in victims], seq,
            report, ledger={**led, "files": listed},
        )
    return report


def _repair_run(
    spark: SparkSession,
    cfg: RunConfig,
    cat: IcebergLite,
    ckpt: Checkpoint,
    nsalt: int,
    positions: Sequence[Position],
    current: DataFrame,
    report: dict,
    ledger: dict | None = None,
) -> None:
    """Shared incremental repair: given victim ``positions`` (every
    placement whose chunk/buckets are stale) and ``current`` (the full
    post-change input relation), re-encode exactly the victim chunks and
    re-aggregate exactly the victim buckets so every table equals a
    from-scratch run on ``current``. ``ledger`` replaces the
    ``series_enc`` ingest ledger (None carries it unchanged)."""
    affected_sources, chunk_keys, victim_buckets = _victim_keys(
        spark, positions, [t.width_s for t in cfg.tiers]
    )
    report["affected_sources"] = affected_sources

    def of_sources(st: dict) -> bool:
        """Stats filter: the file's ``source`` range may hold an
        affected source (a bisect over the sorted source list)."""
        if "source" not in st:
            return True
        lo, hi = st["source"]
        i = bisect.bisect_left(affected_sources, lo)
        return i < len(affected_sources) and affected_sources[i] <= hi

    # ---- series_enc: re-encode exactly the affected chunks ------------
    sid, rewritten, kept = cat.replace_rows(
        spark,
        "series_enc",
        keys=F.broadcast(chunk_keys),
        key_cols=("source", "salt"),
        replacement=_reencode(current, chunk_keys, nsalt),
        stats_filter=of_sources,
        stats_cols=("source",),
        options={"parquet.block.size": 32 * 1024 * 1024},
        ledger=ledger,
    )
    report["snapshot_ids"]["series_enc"] = sid
    report["series_files_rewritten"] = rewritten
    report["series_files_untouched"] = kept

    # metrics mirrors the live chunk set (same rebuild as the pipeline)
    report["snapshot_ids"]["metrics"] = write_lineage(
        spark, cat, ckpt.attempt, "delete"
    )

    # ONE scan of the affected sources' remaining raw rows feeds the
    # meta rows and every tier's victim buckets; released on every exit
    head = head_aggregate(
        current.filter(F.col("source").isin(affected_sources)),
        cfg.tiers[0].width_s,
    ).persist()
    try:
        # ---- meta_source: recompute affected sources' rows ------------
        meta = (
            cat.read(spark, "meta_source", allow_empty=True)
            .filter(~F.col("source").isin(affected_sources))
            .unionByName(meta_from_head(head))
        )
        report["snapshot_ids"]["meta_source"] = cat.overwrite(
            "meta_source", meta
        )

        # ---- tier cascade repair ---------------------------------------
        # every tier and filled commit replaces the affected sources' rows
        commit = dict(
            keys=F.broadcast(local_frame(
                spark, "source string", [(s,) for s in affected_sources]
            )),
            key_cols=("source",),
            stats_filter=of_sources,
            sort_by=TIER_KEYS,
            stats_cols=TIER_KEYS,
        )
        mc = None
        if not cfg.meta_once:
            mc = cat.read(spark, "meta_source", allow_empty=True).select(
                "source",
                F.col("n_docs").alias("src_n_docs"),
                F.col("total_tok").alias("src_total_tok"),
            )

        # Fix EVERY tier's victim buckets from the head, i.e. from the
        # remaining raw rows. Deliberately NOT a cascade from the
        # repaired finer tier: if a finer tier has a retention policy,
        # its live rows are pruned, and a coarse victim bucket whose fine
        # buckets aged out would repair from partial data — the same
        # divergence class the pipeline's append path guards against.
        for tier, bad in zip(cfg.tiers, victim_buckets):
            tname = f"tier_{tier.name}"
            w = tier.width_s
            fixed = _fix_buckets(head, bad, w)
            # the affected sources' live rows outside the victim buckets
            untouched = (
                cat.read(
                    spark, tname, stats_filter=of_sources,
                    # a retention-pruned tier may hold ZERO live rows for
                    # an affected source — an empty repair base, not an
                    # error
                    allow_empty=True,
                )
                .filter(F.col("source").isin(affected_sources))
                .select(*fixed.columns)
                .join(F.broadcast(bad), list(TIER_KEYS), "left_anti")
            )
            # the retention filter below applies only to what gets
            # WRITTEN; the filled tables build from the pre-filter union
            repaired = untouched.unionByName(fixed)
            written = repaired
            if tier.retention_buckets is not None:
                # never resurrect aged-out buckets: re-filter against
                # the live table's high-water mark (an empty live table
                # has none, and nothing can be resurrected)
                hw = cat.read(
                    spark, tname, allow_empty=True
                ).agg(F.max("bucket_s")).collect()[0][0]
                if hw is not None:
                    written = repaired.filter(
                        F.col("bucket_s") > hw - tier.retention_buckets * w
                    )
            if mc is not None:
                written = written.join(F.broadcast(mc), "source")
            report["snapshot_ids"][tname], _, _ = cat.replace_rows(
                spark, tname, replacement=written, **commit
            )

            fname = f"{tname}_filled"
            if cat.exists(fname):
                # pipeline ordering: filled tables are built from the
                # pre-retention tier (prune runs after the cascade)
                report["snapshot_ids"][fname], _, _ = cat.replace_rows(
                    spark, fname, replacement=gapfill_locf(repaired, w),
                    **commit
                )
    finally:
        head.unpersist()

    # ---- optional fidelity gate -----------------------------------------
    if cfg.verify_fidelity:
        bad_rows = fidelity_bad_rows(spark, cat, current)
        if bad_rows:
            raise RuntimeError(
                f"repair fidelity violated: {bad_rows} rows differ"
            )
        report["fidelity_checked"] = True


def refresh_from_changes(
    spark: SparkSession,
    cfg: RunConfig,
    checkpoint_path: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> dict:
    """CDC-driven incremental refresh — the continuous-aggregate
    invalidation engine: the pipeline input lives in an IcebergLite
    table (``cfg.input_format == "iceberglite"``); given the input
    snapshot the tables were last built from, read the changelog
    (:meth:`IcebergLite.read_changes`), derive the set of doc_ids whose
    rows were inserted, deleted, or rewritten, and restate exactly
    those docs. Every data product converges to a from-scratch run on
    the current input at cost O(changed docs' chunks + buckets) — the
    TimescaleDB ``refresh_continuous_aggregate``-on-invalidation analog,
    built on the same snapshot/changelog substrate as the rest of the
    maintenance surface.

    Returns the :func:`restate_docs` report plus ``changed_docs`` (0 →
    no-op: an empty changelog never touches a table).
    """
    if cfg.input_format != "iceberglite":
        raise ValueError(
            "refresh_from_changes requires cfg.input_format='iceberglite' "
            f"(input must be a snapshot-versioned table), got "
            f"{cfg.input_format!r}"
        )
    # The restate must read EXACTLY the snapshot the changelog ends at,
    # or the tables converge to neither endpoint: a stale ::pin in
    # input_path would restate changed docs to their OLD content (and
    # treat post-pin inserts as deletions), while to_snapshot older than
    # the current snapshot would apply the 5→6 id set to snapshot-7
    # content. So resolve to_snapshot (default: current), reject a
    # conflicting pin, and pin the restate's input to that snapshot.
    root, table, pin = split_table_path(cfg.input_path)
    cat_in = get_catalog(root)
    to_sid = (
        to_snapshot_id if to_snapshot_id is not None
        else cat_in.current_snapshot_id(table)
    )
    if pin is not None and pin != to_sid:
        raise ValueError(
            f"refresh_from_changes: input_path pins snapshot {pin} but the "
            f"refresh targets snapshot {to_sid} — drop the pin (or pin the "
            "refresh target) so the restate reads the snapshot the "
            "changelog ends at"
        )
    changes = cat_in.read_changes(spark, table, from_snapshot_id, to_sid)
    ids = changes.select(
        F.col("doc_id").cast("string").alias("doc_id")
    ).distinct()
    n_changed = ids.count()
    if n_changed == 0:
        return {"changed_docs": 0, "restated_positions": 0,
                "snapshot_ids": {}}
    cfg_at = dataclasses.replace(
        cfg, input_path=f"{root}::{table}::{to_sid}"
    )
    report = restate_docs(spark, cfg_at, checkpoint_path, ids)
    report["changed_docs"] = n_changed
    report["input_snapshot_id"] = to_sid
    return report
