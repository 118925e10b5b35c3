"""End-to-end resumable rollup pipeline.

The graft analog of ``s2srun`` [U: scripts/s2srun → create_reshaper →
convert → print_diagnostics]: scan → validate → tier cascade → gap-fill
/ LOCF → salted transpose → Gorilla encode — every sink an IcebergLite
table commit, every step checkpointed AFTER its data commit, so a
re-run after any crash point either skips a committed step or redoes an
idempotent one (overwrite / chunk-anti-join append). That is the
reference's skip-existing write-mode generalized to snapshot semantics.

Output tables under ``cfg.output_path`` (IcebergLite root):

    tier_<name>          sparse continuous aggregate, sorted on
                         (source, bucket_s)
    tier_<name>_filled   gap-filled + LOCF version (non-raw tiers),
                         sorted the same way
    meta_source          per-source metadata (the once-file analog)
    series_enc           Gorilla-encoded series chunks, one row per
                         (source, salt), clustered by source
    metrics              per-chunk lineage rows (partition id, input
                         files, row counts, bytes, wall time)
    fidelity             decode-and-compare report (cfg.verify_fidelity)

The input is a parquet directory or an IcebergLite table
(``cfg.input_format``).

No table is hive-partitioned. Every tier, filled-tier and retention
commit is one unpartitioned write sorted on :data:`TIER_KEYS`, with
manifest min/max stats on both columns (:func:`write_tier`); AQE's
partition coalescing sets the file count, so a small table is one file
and a large one is range-clustered files of about the advisory size.
Reads prune files on those stats (``sql.read_tier``), and parquet
row-group stats prune inside each file.

Scale notes: the tier cascade reads tier *k* back from its committed
table (not the in-memory lineage), so a resumed run never recomputes
upstream tiers. What has been ingested is recorded, never rederived:
the ``series_enc`` snapshot carries an ingest LEDGER — the input files
its chunks cover and the input schema the scan used — committed in the
same atomic log replace as the data (:func:`ingest_ledger`). A fresh or
overwrite run scans exactly the files it listed and records exactly
those; every pending set is driver-side set arithmetic, listed input
files (:func:`sources.readers.list_input_files`, no Spark job) minus
the ledger, and every input read passes the recorded schema.

Append mode is FILE-INCREMENTAL end-to-end: a cycle pins {tier/meta
base snapshot ids, pending input-file list} in the checkpoint, then
every table update is a deterministic function of those immutable pins
— validate/meta/tier-0 aggregate and the encode read ONLY the pending
files and merge into the pinned base (count/sum/min/max compose
associatively), cascade / gap-fill / retention recompute from the
(small) merged tier tables, and encode appends the pinned files still
absent from the live ledger, extending the ledger in the same commit.
The whole input is read only to size nsalt on a first run, to backfill
a newly added tier, and for ``cfg.source_limit``. Replay after a crash
at any step re-commits identical content; files arriving mid-cycle are
deferred to the next cycle (tiers and series stay mutually consistent).
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

# InheritableThread, NOT threading.Thread, for every driver-side
# concurrent Spark job: under py4j pinned-thread mode (PySpark default)
# a plain thread's JVM call can deadlock against the main thread's
# gateway connection (observed as an indefinite pre-submit hang on
# local-cluster); InheritableThread is the supported primitive and also
# propagates local properties / job groups.
from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyreshaper_spark.config import RunConfig
from pyreshaper_spark.operators.encode import encode_series_table
from pyreshaper_spark.operators.gapfill import gapfill_locf
from pyreshaper_spark.operators.rollup import (
    AGG_COLS,
    apply_retention,
    head_aggregate,
    meta_from_head,
    rollup_cascade,
    rollup_tier0,
)
from pyreshaper_spark.operators.transpose import (
    suggest_nsalt,
    transpose_to_series,
)
from pyreshaper_spark.operators.validate import (
    ValidationError,
    check_doc_ids,
    check_schema,
)
from pyreshaper_spark.plans.checkpoint import Checkpoint
from pyreshaper_spark.session import local_frame
from pyreshaper_spark.sources.catalog import get_catalog
from pyreshaper_spark.sources.iceberglite import IcebergLite
from pyreshaper_spark.sources.readers import (
    input_schema,
    list_input_files,
    read_input,
)

TIER_KEYS = ("source", "bucket_s")

LINEAGE_COLS = (
    "source",
    "salt",
    "partition_id",
    "n",
    "raw_bytes",
    "enc_bytes",
    "wall_ms",
    "input_files",
)


@dataclass
class PipelineResult:
    snapshot_ids: dict[str, int]
    steps_run: list[str]
    steps_skipped: list[str]
    step_wall_s: dict[str, float] = None  # per-step driver wall time


def write_tier(cat: IcebergLite, name: str, df: DataFrame) -> int:
    """Commit ``df`` as the whole of a tier-like table in the tier
    layout: sorted on :data:`TIER_KEYS`, with stats on both columns."""
    return cat.overwrite(name, df.orderBy(*TIER_KEYS), stats_cols=TIER_KEYS)


def ingest_ledger(cat: IcebergLite) -> dict | None:
    """The ingest ledger of the live ``series_enc`` snapshot —
    ``{"files": [input_file_name() strings], "schema": input schema
    JSON}``, plus ``"deleted": [doc_id, ...]`` once ``delete_docs`` has
    removed ingested rows — or None before the first encode commit. The
    only reader of the ledger: append pins, the encode done set,
    realtime reads, the fidelity gate and delete/restate all go through
    it."""
    if not cat.exists("series_enc"):
        return None
    led = cat.ledger("series_enc")
    if led is None:
        raise RuntimeError(
            f"series_enc snapshot {cat.current_snapshot_id('series_enc')} "
            f"under {cat.root!r} has no ingest ledger (it was written by an "
            "older version of the engine); rebuild the warehouse with "
            'write_mode="overwrite"'
        )
    return led


def without_deleted(
    spark: SparkSession, df: DataFrame, led: dict
) -> DataFrame:
    """``df`` (input rows) minus the ledger's deleted ``doc_id``s."""
    gone = led.get("deleted")
    if not gone:
        return df
    ids = local_frame(spark, "doc_id string", [(d,) for d in gone])
    return df.join(F.broadcast(ids), "doc_id", "left_anti")


def read_ingested(
    spark: SparkSession, cfg: RunConfig, led: dict, listed: list[str]
) -> DataFrame:
    """Live rows of the ledger's files that are still in the input
    listing: the rows ``delete_docs`` removed stay in the input, and
    the ledger's deleted ids take them out."""
    known = set(listed)
    files = [f for f in led["files"] if f in known]
    return without_deleted(
        spark, read_input(spark, cfg, files, led["schema"]), led
    )


def write_lineage(
    spark: SparkSession, cat: IcebergLite, attempt: int, step: str
) -> int:
    """Rebuild ``metrics`` from the live chunk set of ``series_enc``
    (exactly one lineage row per chunk) and return its snapshot id."""
    lineage = (
        cat.read(spark, "series_enc", allow_empty=True)
        .select(*LINEAGE_COLS)
        .withColumn("attempt", F.lit(attempt))
        .withColumn("step", F.lit(step))
    )
    return cat.overwrite("metrics", lineage)


def fidelity_bad_rows(
    spark: SparkSession, cat: IcebergLite, src: DataFrame
) -> int:
    """Port-fidelity check: rows of ``src`` whose token array or event
    time differs from the decoded ``series_enc`` (or that exist on one
    side only)."""
    from pyreshaper_spark.operators.encode import decode_series_table

    dec = decode_series_table(cat.read(spark, "series_enc", allow_empty=True))
    j = src.alias("a").join(dec.alias("b"), "doc_id", "full_outer")
    return j.filter(
        F.col("a.tokens").isNull()
        | F.col("b.tokens").isNull()
        | (F.col("a.tokens") != F.col("b.tokens"))
        | (F.col("a.event_s") != F.col("b.event_s"))
    ).count()


def run_pipeline(
    spark: SparkSession,
    cfg: RunConfig,
    checkpoint_path: str,
    stop_after: str | None = None,
) -> PipelineResult:
    """Run (or resume) the full pipeline.

    ``stop_after`` stops cleanly after the named step's commit +
    checkpoint save — the kill-and-resume test hook.
    """
    persisted: list[DataFrame] = []
    try:
        return _run_pipeline(spark, cfg, checkpoint_path, stop_after, persisted)
    finally:
        # the fused head aggregate (and the append-cycle tier-0 delta)
        # are persisted across steps; release them on every exit path —
        # long sessions (bench loops, multi-spec runs) would otherwise
        # accumulate cached plans
        for df in persisted:
            df.unpersist()


def _run_pipeline(
    spark: SparkSession,
    cfg: RunConfig,
    checkpoint_path: str,
    stop_after: str | None,
    persisted: list[DataFrame],
) -> PipelineResult:
    cfg.validate()
    cat = get_catalog(cfg.output_path)
    if cfg.write_mode == "overwrite":
        # reference overwrite mode: ignore prior progress, redo every
        # step (tables get fresh snapshots; old ones stay time-travelable)
        ckpt = Checkpoint(attempt=Checkpoint.load(checkpoint_path).attempt)
    elif cfg.write_mode == "append":
        # incremental mode: EVERY step re-runs, but each reads only the
        # pending files (cycle pins below) and merges into the pinned
        # table bases. Keeping steps_done here made append a silent
        # no-op (r1 advice).
        prior = Checkpoint.load(checkpoint_path)
        ckpt = Checkpoint(
            attempt=prior.attempt,
            nsalt=prior.nsalt,
            cycle=prior.cycle,  # in-flight cycle pins survive the replay
        )
    else:  # "skip": resume — committed steps are skipped
        ckpt = Checkpoint.load(checkpoint_path)
    ckpt.attempt += 1
    ckpt.save(checkpoint_path)

    run, skipped = [], []
    snapshot_ids: dict[str, int] = {}
    step_wall: dict[str, float] = {}

    # checkpoint/bookkeeping guard: with cfg.overlap the encode step
    # commits from a second driver thread (tables are disjoint — the
    # catalog is per-table — but the checkpoint file is shared)
    lock = threading.Lock()

    def commit_step(step: str, fn) -> bool:
        """Returns True if the caller should stop (stop_after hit)."""
        with lock:
            if ckpt.step_done(step):
                skipped.append(step)
                return False
        t0 = time.perf_counter()
        fn()
        with lock:
            step_wall[step] = round(time.perf_counter() - t0, 3)
            ckpt.mark_step(step)
            ckpt.save(checkpoint_path)  # always after the data commit
            run.append(step)
        return stop_after == step

    t0 = time.perf_counter()
    # ---- input files: listing, ledger, append-cycle pins ---------------
    # The ledger says what is already ingested; past the schema
    # inference of a run with no ledger (and cfg.source_limit), nothing
    # here runs a Spark job. In append mode tier/meta updates NEVER rescan the full
    # input: they merge a delta aggregate of only the PENDING files into
    # the pinned base snapshot. Pins ({table base snapshot ids, pending
    # file list}) are established once per cycle and reused verbatim on
    # replay, so every step is a deterministic function of immutable
    # state — a crash at any point re-commits identical content. At
    # 10^12 rows the per-append cost is O(new data) + O(tier rows).
    listed = list_input_files(cfg)
    led = None if cfg.write_mode == "overwrite" else ingest_ledger(cat)
    done = set(led["files"]) if led else set()
    if cfg.write_mode == "append":
        if ckpt.cycle is None:
            base_tables = ["meta_source"] + [
                f"tier_{t.name}" for t in cfg.tiers
            ]
            ckpt.cycle = {
                "bases": {t: cat.current_snapshot_id(t) for t in base_tables},
                "pending": sorted(set(listed) - done),
            }
            ckpt.save(checkpoint_path)
        scan = list(ckpt.cycle["pending"])
    else:
        scan = listed
    schema = led["schema"] if led else input_schema(spark, cfg, scan)
    # ledger ∪ scan: the whole input, read only where a step needs it
    all_files = sorted((done & set(listed)) | set(scan))
    keep = None
    if cfg.source_limit is not None:
        # the reference's convert(output_limit=N): cap the number of
        # series processed — deterministic first-N sources by name
        keep = [
            r["source"]
            for r in read_input(spark, cfg, all_files, schema)
            .select("source")
            .distinct()
            .orderBy("source")
            .limit(cfg.source_limit)
            .collect()
        ]

    def read(files: list[str]) -> DataFrame:
        df = read_input(spark, cfg, files, schema)
        return df if keep is None else df.filter(F.col("source").isin(keep))

    # the scanned rows: the full input, or the pinned pending files
    src = read(scan)
    delta = src if cfg.write_mode == "append" else None

    def _tier_base(tname: str, cols: list[str]) -> DataFrame | None:
        """Pinned-base read for the incremental merge (None = no base)."""
        sid = ckpt.cycle["bases"].get(tname, 0)
        if not sid:
            return None
        return cat.read(spark, tname, snapshot_id=sid, allow_empty=True).select(*cols)

    # ---- fused head: ONE raw scan feeds validate + meta + tier 0 ------
    # The head of the pipeline used to be three serialized full scans of
    # the input (validation counters, per-source metadata, tier-0
    # rollup) — at 10^12 rows, three corpus reads where one suffices.
    # head_aggregate folds all three into a single (source, bucket)
    # aggregate (O(buckets) rows, cached); the only check that can't
    # ride a grouped scan — global doc_id uniqueness — runs as a
    # doc_id-only scan in a SECOND driver thread, concurrent with the
    # head job, so it adds no serial wall time. Scope matches the old
    # gate: the full input on fresh/overwrite/resume runs, ONLY the
    # pending files on an append cycle (cross-batch doc_id uniqueness is
    # enforced by the fidelity gate over the series table). The
    # n_tok==size(tokens) contract stays deferred to the encode pass,
    # which materializes every token buffer anyway — tokens (~95% of the
    # bytes) never enters the validation/tier read.
    check_schema(src)
    head = head_aggregate(src, cfg.tiers[0].width_s).persist()
    persisted.append(head)

    # Validation result shared with the encode thread: the encode stage
    # runs CONCURRENTLY with validation (its data-file write is
    # side-effect-free), but its atomic manifest commit waits on this
    # event — "invalid input commits nothing" stays airtight while the
    # head scan overlaps the encode stage's executor work.
    validated = threading.Event()
    val_err: list[BaseException] = []

    def _validation_gate():
        validated.wait()
        if val_err:
            raise ValidationError(
                "series_enc commit aborted: input validation failed"
            )

    # ---- salted transpose + encode (file-incremental, resumable) ------
    # Defined (and, in overlap mode, STARTED) before validation and the
    # tier chain: the encode step only reads the input files + the
    # series_enc ledger — it shares nothing with the tier/meta tables, so a second
    # driver thread can run it as a concurrent Spark job; the validation
    # scans and the tier chain's many small commits (driver-latency-
    # bound, size-independent) hide behind the encode stage's executor
    # work instead of adding serial wall time. Its commit is gated on
    # the validation event above.
    def _encode():
        # nsalt pinned in the checkpoint on first resolution: a resume
        # or append with grown input (or cfg.nsalt=0 auto) must keep the
        # (source, salt) identities of already-committed chunks
        # auto mode sizes the salt from a 1% hash sample — the exact
        # count would be a full extra pass over the corpus for a number
        # the power-of-two rounding only needs within 2×
        nsalt = ckpt.nsalt or cfg.nsalt or suggest_nsalt(
            read(all_files), sample_denom=100
        )
        ckpt.nsalt = nsalt
        resume = cfg.write_mode != "overwrite" and cat.exists("series_enc")
        if resume:
            # the done set is the LIVE ledger, NOT the checkpoint: a
            # crash between the table commit and the checkpoint save
            # then re-appends nothing. An append cycle encodes exactly
            # the PINNED pending files (a file arriving mid-cycle waits
            # for the next cycle, or tiers and series_enc would disagree
            # about what has been ingested). New rows land wherever they
            # hash — including inside an existing (source, salt) chunk
            # (they become additional chunk rows; decode and downstream
            # reads treat a series as a bag of chunk rows already)
            live = ingest_ledger(cat)
            todo = sorted(set(scan) - set(live["files"]))
            rows = read(todo)
            # the deleted ids carry forward with the schema
            ledger = {
                **live, "files": sorted(set(live["files"]) | set(todo))
            }
        else:
            todo, rows = scan, src
            ledger = {"files": list(scan), "schema": schema}
        # unpartitioned write: rows arrive source-clustered from the
        # encoder, a hive layout would churn one writer per source with
        # multi-MB cells (observed executor OOM at 40M rows); per-source
        # access instead uses manifest column stats (file skipping)
        wkw = dict(
            stats_cols=("source",),
            options={"parquet.block.size": 32 * 1024 * 1024},
            # pre-commit barrier: the expensive write proceeds in
            # parallel with validation; the snapshot commit happens only
            # after the input is proven valid (raises otherwise —
            # orphaned data files, no table change)
            gate=_validation_gate,
            ledger=ledger,
        )
        if resume and not todo:
            _validation_gate()  # nothing left to encode (a replay)
        else:
            encoded = encode_series_table(
                transpose_to_series(rows, nsalt, pack=True)
            )
            # append ONLY when resuming past a committed table (its
            # chunks stay live); a fresh/overwrite run replaces the
            # table — appending here would duplicate every chunk
            snapshot_ids["series_enc"] = (
                cat.append("series_enc", encoded, **wkw)
                if resume
                else cat.overwrite("series_enc", encoded, **wkw)
            )
        snapshot_ids["metrics"] = write_lineage(
            spark, cat, ckpt.attempt, "encode"
        )

    ENC_GROUP = f"pyreshaper-encode-{ckpt.attempt}"
    IDS_GROUP = f"pyreshaper-validate-ids-{ckpt.attempt}"
    enc_thread: threading.Thread | None = None
    enc_err: list[BaseException] = []
    if cfg.overlap and stop_after is None:

        def _enc_bg():
            try:
                # own job group so a validation abort can CANCEL the
                # in-flight write instead of letting a daemon thread
                # keep streaming into the next snapshot's data dir
                # (where a same-process retry would collide)
                spark.sparkContext.setJobGroup(
                    ENC_GROUP, "encode (overlapped)", True
                )
                commit_step("encode", _encode)
            except BaseException as e:  # re-raised on join
                enc_err.append(e)

        enc_thread = InheritableThread(
            target=_enc_bg, name="encode-overlap", daemon=True
        )
        enc_thread.start()

    # ---- validation: fused head job + concurrent doc_id-only scan -----
    # Runs while the encode stage computes. On ANY failure: set the
    # event (so the commit gate wakes up and aborts instead of blocking
    # forever), cancel both background job groups, and JOIN the threads
    # before propagating — a failed run must not leave orphan Spark
    # jobs writing into snapshot directories a retry would reuse.
    id_err: list[BaseException] = []

    def _ids():
        try:
            spark.sparkContext.setJobGroup(
                IDS_GROUP, "doc_id uniqueness scan", True
            )
            check_doc_ids(src)
        except BaseException as e:  # re-raised below
            id_err.append(e)

    id_thread = InheritableThread(
        target=_ids, name="validate-ids", daemon=True
    )
    try:
        id_thread.start()
        bad = head.agg(F.sum("bad_rows")).collect()[0][0] or 0
        if bad:
            raise ValidationError(f"{bad} rows violate null/n_tok contract")
        id_thread.join()
        if id_err:
            raise id_err[0]
    except BaseException as e:
        val_err.append(e)
        validated.set()  # unblock the commit gate BEFORE joining
        for group, th in ((IDS_GROUP, id_thread), (ENC_GROUP, enc_thread)):
            try:
                spark.sparkContext.cancelJobGroup(group)
            except Exception:
                pass  # cancellation is best-effort; join is the barrier
            if th is not None and th.is_alive():
                th.join()
        raise
    finally:
        validated.set()
    step_wall["validate"] = round(time.perf_counter() - t0, 3)

    # ---- once-file analog: per-source metadata, written once ----------
    def _meta():
        # re-aggregation of the cached head — no raw rescan (exact by
        # associativity; see rollup.meta_from_head)
        meta = meta_from_head(head)
        if delta is not None:
            base = _tier_base("meta_source", list(meta.columns))
            if base is not None:
                meta = base.unionByName(meta).groupBy("source").agg(
                    F.sum("n_docs").alias("n_docs"),
                    F.sum("total_tok").alias("total_tok"),
                    F.min("first_event_s").alias("first_event_s"),
                    F.max("last_event_s").alias("last_event_s"),
                )
        snapshot_ids["meta_source"] = cat.overwrite("meta_source", meta)

    if commit_step("meta_source", _meta):
        return PipelineResult(snapshot_ids, run, skipped, step_wall)

    # ---- tier cascade -------------------------------------------------
    # Append cycles build EVERY tier as (pinned base ∪ delta-at-width)
    # merged — count/sum/min/max compose associatively, so cascading
    # the pending-file delta up the widths and merging each level into
    # its own pinned base is exactly cascade-from-unpruned-history.
    # Cascade tiers deliberately do NOT read the live finer tier: if
    # that tier has a retention policy its live table is pruned, and
    # rebuilding from it would silently drop coarse history older than
    # the finer tier's retention window (diverging from a from-scratch
    # run). The delta chain shares ONE scan of the pending files: the
    # tier-0 delta (O(buckets) rows) is cached and coarser deltas
    # re-aggregate it.
    delta_tiers: list[DataFrame] = []
    if delta is not None:
        # tier-0 delta IS the (already cached) head projection — the
        # pending files were scanned exactly once, in the head job
        delta_tiers.append(head.select("source", "bucket_s", *AGG_COLS))
        for t in cfg.tiers[1:]:
            delta_tiers.append(rollup_cascade(delta_tiers[-1], t.width_s))

    prev_table: str | None = None
    for i, tier in enumerate(cfg.tiers):
        tname = f"tier_{tier.name}"

        def _tier(i=i, tier=tier, prev_table=prev_table, tname=tname):
            if delta is not None:
                df = delta_tiers[i]
                base = _tier_base(tname, list(df.columns))
                if base is None:
                    # tier added to cfg.tiers between append cycles (no
                    # pinned base exists): a delta-only commit would
                    # silently truncate the tier to the pending files'
                    # buckets. Backfill once from the FULL raw input —
                    # the exact from-scratch answer at any width, less
                    # the deleted ids the input still holds — and let
                    # later cycles pin and merge it incrementally.
                    df = rollup_tier0(
                        without_deleted(spark, read(all_files), led or {}),
                        tier.width_s,
                    )
                else:
                    # buckets on both sides are already aligned to the
                    # tier width, so the cascade is the pure merge
                    df = rollup_cascade(base.unionByName(df), tier.width_s)
            elif prev_table is None:
                # fresh run: tier 0 is the cached head's projection —
                # the scan+aggregate already happened in the validate
                # step's head job
                df = head.select("source", "bucket_s", *AGG_COLS)
            else:
                # cascade tiers re-aggregate the UN-pruned tier below
                # (retention runs after the whole cascade) — exact,
                # never a raw-data rescan
                df = rollup_cascade(
                    cat.read(spark, prev_table, allow_empty=True),
                    tier.width_s
                )
            if not cfg.meta_once:
                # metadata replication [U: reshaper.py :: convert
                # metadata write loop]: without once-file mode, the
                # per-source metadata rides on every tier row via a
                # broadcast join (meta is |sources| rows — always tiny)
                meta_cols = cat.read(spark, "meta_source", allow_empty=True).select(
                    "source",
                    F.col("n_docs").alias("src_n_docs"),
                    F.col("total_tok").alias("src_total_tok"),
                )
                df = df.join(F.broadcast(meta_cols), "source")
            snapshot_ids[tname] = write_tier(cat, tname, df)

        if commit_step(tname, _tier):
            return PipelineResult(snapshot_ids, run, skipped, step_wall)
        prev_table = tname

        if i > 0:  # gap-fill + LOCF for the coarser tiers
            fname = f"{tname}_filled"

            def _filled(tier=tier, tname=tname, fname=fname):
                filled = gapfill_locf(
                    cat.read(spark, tname, allow_empty=True), tier.width_s
                )
                snapshot_ids[fname] = write_tier(cat, fname, filled)

            if commit_step(fname, _filled):
                return PipelineResult(snapshot_ids, run, skipped, step_wall)

    # ---- retention enforcement ----------------------------------------
    # Runs AFTER the whole cascade so tier k+1 is always built from the
    # UN-pruned tier k (pruning first would corrupt coarse history);
    # each prune is its own idempotent commit (a new snapshot — the old
    # unpruned snapshot stays time-travel-readable).
    for tier in cfg.tiers:
        if tier.retention_buckets is None:
            continue
        rname = f"retention_{tier.name}"

        def _retention(tier=tier, rname=rname):
            tname = f"tier_{tier.name}"
            pruned = apply_retention(
                cat.read(spark, tname, allow_empty=True),
                tier.width_s, tier.retention_buckets
            )
            snapshot_ids[rname] = write_tier(cat, tname, pruned)

        if commit_step(rname, _retention):
            return PipelineResult(snapshot_ids, run, skipped, step_wall)

    # ---- encode: join the overlapped thread, or run sequentially ------
    if enc_thread is not None:
        enc_thread.join()
        if enc_err:
            raise enc_err[0]
    elif commit_step("encode", _encode):
        return PipelineResult(snapshot_ids, run, skipped, step_wall)

    # ---- optional port-fidelity gate (BASELINE.json:15) ---------------
    if cfg.verify_fidelity:

        def _verify():
            # compare against the ledger's files only — input files that
            # arrived mid-cycle are deferred work, not lost data
            ingested = read_ingested(spark, cfg, ingest_ledger(cat), listed)
            if keep is not None:
                ingested = ingested.filter(F.col("source").isin(keep))
            bad = fidelity_bad_rows(spark, cat, ingested)
            report = local_frame(
                spark, "bad_rows long, attempt long",
                [(int(bad), int(ckpt.attempt))],
            )
            snapshot_ids["fidelity"] = cat.overwrite("fidelity", report)
            if bad:
                raise RuntimeError(
                    f"fidelity invariant violated: {bad} rows differ after "
                    "decode (token arrays / event times)"
                )

        if commit_step("verify_fidelity", _verify):
            return PipelineResult(snapshot_ids, run, skipped, step_wall)

    if ckpt.cycle is not None:
        # append cycle complete: release the pins (the next append run
        # computes fresh ones against the then-current lineage)
        ckpt.cycle = None
        ckpt.save(checkpoint_path)
    return PipelineResult(snapshot_ids, run, skipped, step_wall)


def run_multi(
    spark: SparkSession,
    cfgs: list[RunConfig],
    checkpoint_dir: str,
) -> list[PipelineResult]:
    """Sequential multi-spec run — the ``MultiSpecReshaper`` analog
    [U: reshaper.py :: MultiSpecReshaper]: each RunConfig gets its own
    checkpoint file under ``checkpoint_dir`` and runs to completion
    (resumable individually)."""
    results = []
    for i, cfg in enumerate(cfgs):
        ck = os.path.join(checkpoint_dir, f"spec_{i}.json")
        results.append(run_pipeline(spark, cfg, ck))
    return results


def diagnostics(spark: SparkSession, cfg: RunConfig) -> DataFrame:
    """Global reduction + report [U: reshaper.py :: print_diagnostics]."""
    cat = get_catalog(cfg.output_path)
    m = cat.read(spark, "metrics", allow_empty=True)
    return m.agg(
        F.sum("n").alias("points"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.max("wall_ms").alias("max_chunk_wall_ms"),
        F.count("*").alias("chunks"),
    )


def maintain(
    spark: SparkSession,
    cfg: RunConfig,
    target_file_bytes: int = 128 << 20,
    min_files: int = 4,
    expire_keep: int | None = None,
) -> dict[str, dict]:
    """Table maintenance for long-running append deployments —
    Iceberg's ``rewrite_data_files`` + ``expire_snapshots`` applied to
    this engine's tables.

    ``series_enc`` accretes one commit dir per append cycle (the
    file-incremental encode appends, never rewrites), so after many
    cycles its manifest holds many small files; tier tables are
    overwritten each cycle but their snapshot LOG grows without bound.
    Compaction bin-packs multi-file tables, carrying forward the
    manifest column stats reads prune on; tier tables are rewritten
    sorted on :data:`TIER_KEYS`, so they stay range-clustered.
    Compaction groups files by hive partition, so a tier table an older
    version wrote hive-partitioned (one file per source) is rewritten
    here only with ``min_files=1``; otherwise the next tier commit of
    an append cycle moves it to the current layout. ``expire_keep`` trims
    snapshot history and reclaims unreferenced data files. Expiry
    keeps the ``expire_keep`` newest snapshots and the current one;
    no other snapshot is pinned.

    Every table under the warehouse root (:meth:`IcebergLite.list_tables`)
    is maintained, and every staged realtime tail but the current
    pending set's is removed (``sql.stage_tail``). Returns {table:
    {"compacted_snapshot": id|None, "expired_files": n}}.
    """
    import shutil

    from pyreshaper_spark.sql import REALTIME_DIR, pending_tail

    cat = get_catalog(cfg.output_path)
    rt = os.path.join(cfg.output_path, REALTIME_DIR)
    if os.path.isdir(rt):
        key = pending_tail(cfg, cat)[2]
        for d in os.listdir(rt):
            # a "<key>.tmp-<uuid>" of the current key may be a staging
            # write in flight
            if key is None or not d.startswith(key):
                shutil.rmtree(os.path.join(rt, d), ignore_errors=True)
    report: dict[str, dict] = {}
    for t in cat.list_tables():
        entry: dict = {"compacted_snapshot": None, "expired_files": 0}
        entry["compacted_snapshot"] = cat.compact(
            spark, t,
            target_file_bytes=target_file_bytes,
            min_files=min_files,
            sort_by=TIER_KEYS if t.startswith("tier_") else (),
        )
        if expire_keep is not None:
            entry["expired_files"] = cat.expire_snapshots(t, expire_keep)
        report[t] = entry
    return report
