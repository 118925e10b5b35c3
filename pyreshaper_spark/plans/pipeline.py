"""End-to-end resumable rollup pipeline.

The graft analog of ``s2srun`` [U: scripts/s2srun → create_reshaper →
convert → print_diagnostics]: scan → validate → tier cascade → gap-fill
/ LOCF → salted transpose → Gorilla encode — every sink an IcebergLite
table commit, every step checkpointed AFTER its data commit, so a
re-run after any crash point either skips a committed step or redoes an
idempotent one (overwrite / chunk-anti-join append). That is the
reference's skip-existing write-mode generalized to snapshot semantics.

Output tables under ``cfg.output_path`` (IcebergLite root):

    tier_<name>          sparse continuous aggregate, partitioned by source
    tier_<name>_filled   gap-filled + LOCF version (non-raw tiers)
    meta_source          per-source metadata (the once-file analog)
    series_enc           Gorilla-encoded series chunks, one row per
                         (source, salt), partitioned by source
    metrics              per-chunk lineage rows (partition id, input
                         files, row counts, bytes, wall time)
    fidelity             decode-and-compare report (cfg.verify_fidelity)

The input is a parquet directory or an IcebergLite table
(``cfg.input_format``).

Scale notes: the tier cascade reads tier *k* back from its committed
table (not the in-memory lineage), so a resumed run never recomputes
upstream tiers; the encode step's pending-work set is an anti-join of
input files against the LIVE series table's input-file lineage — the
file list is manifest-sized and broadcastable, the done-set is always
consistent with committed data (crash-idempotent), and append mode
encodes exactly the new files' rows.

Append mode is FILE-INCREMENTAL end-to-end: a cycle pins {tier/meta
base snapshot ids, pending input-file list} in the checkpoint, then
every table update is a deterministic function of those immutable pins
— validate/meta/tier-0 aggregate ONLY the pending rows and merge into
the pinned base (count/sum/min/max compose associatively), cascade /
gap-fill / retention recompute from the (small) merged tier tables,
and encode appends the pending rows still absent from the lineage.
Cost per append at 10^12 rows: O(new data) + O(tier rows) — the
historical input is never rescanned. Replay after a crash at any step
re-commits identical content; files arriving mid-cycle are deferred to
the next cycle (tiers and series stay mutually consistent).
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
from pyreshaper_spark.operators.event_time import ensure_event_time
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
from pyreshaper_spark.sources.catalog import get_catalog
from pyreshaper_spark.sources.iceberglite import IcebergLite
from pyreshaper_spark.sources.readers import read_sequences_iceberglite

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


def _load_input(spark: SparkSession, cfg: RunConfig) -> DataFrame:
    if cfg.input_format == "parquet":
        # schema-flexible default: test fixtures carry extra columns
        # (doc_num, variant fields) beyond the sequences contract
        seq = spark.read.parquet(cfg.input_path)
    else:
        seq = read_sequences_iceberglite(spark, cfg.input_path)
    if "input_file" not in seq.columns:
        # captured at scan time (pre-shuffle) — the reference's
        # per-variable input-file accounting
        seq = seq.withColumn("input_file", F.input_file_name())
    return ensure_event_time(seq)


def ingested_files(spark: SparkSession, cat: IcebergLite) -> DataFrame:
    """Distinct ``input_file`` frame of the input files already in the
    LIVE ``series_enc`` lineage — the done set that append-cycle pins,
    the encode anti-join, realtime reads and the fidelity gate all
    compare against. Callers check ``cat.exists("series_enc")``."""
    return (
        cat.read(spark, "series_enc", allow_empty=True)
        .select(F.explode("input_files").alias("input_file"))
        .distinct()
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
            input_snapshot=prior.input_snapshot,
            chunks_done=prior.chunks_done,
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
    seq = _load_input(spark, cfg)
    if cfg.source_limit is not None:
        # the reference's convert(output_limit=N): cap the number of
        # series processed — deterministic first-N sources by name
        keep = [
            r["source"]
            for r in seq.select("source")
            .distinct()
            .orderBy("source")
            .limit(cfg.source_limit)
            .collect()
        ]
        seq = seq.filter(F.col("source").isin(keep))
    # ---- append-cycle pins (file-incremental tier maintenance) --------
    # In append mode, tier/meta updates NEVER rescan the full input:
    # they merge a delta aggregate of only the PENDING files into the
    # pinned base snapshot. Pins ({table base snapshot ids, pending
    # file list}) are established once per cycle and reused verbatim on
    # replay, so every step is a deterministic function of immutable
    # state — a crash at any point re-commits identical content. At
    # 10^12 rows the per-append cost is O(new data) + O(tier rows).
    delta = None  # pending-file subset of seq (None = full recompute)
    if cfg.write_mode == "append":
        if ckpt.cycle is None:
            base_tables = ["meta_source"] + [
                f"tier_{t.name}" for t in cfg.tiers
            ]
            done_files: set[str] = set()
            if cat.exists("series_enc"):
                done_files = {
                    r[0] for r in ingested_files(spark, cat).collect()
                }
            all_files = [
                r[0] for r in seq.select("input_file").distinct().collect()
            ]
            ckpt.cycle = {
                "bases": {t: cat.current_snapshot_id(t) for t in base_tables},
                "pending": sorted(set(all_files) - done_files),
            }
            ckpt.save(checkpoint_path)
        pend_df = spark.createDataFrame(
            [(f,) for f in ckpt.cycle["pending"]], "input_file string"
        )
        delta = seq.join(F.broadcast(pend_df), "input_file", "left_semi")

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
    src = seq if delta is None else delta
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
    # tier chain: the encode step only reads the input + series_enc
    # lineage — it shares nothing with the tier/meta tables, so a second
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
            seq, sample_denom=100
        )
        ckpt.nsalt = nsalt
        # append cycle: encode exactly the PINNED pending set (a file
        # arriving mid-cycle must wait for the next cycle, or tiers and
        # series_enc would disagree about what has been ingested) …
        pending = seq if delta is None else delta
        resume = cfg.write_mode != "overwrite" and cat.exists("series_enc")
        if resume:
            # … and the done set is derived from the LIVE committed
            # table's input-file lineage, NOT the checkpoint: a crash
            # between the table commit and the checkpoint save then
            # re-appends nothing. New rows are picked up wherever they
            # land — including inside an existing (source, salt) chunk
            # (they become additional chunk rows; decode and downstream
            # reads treat a series as a bag of chunk rows already)
            pending = pending.join(
                F.broadcast(ingested_files(spark, cat)), "input_file",
                "left_anti",
            )
        series = transpose_to_series(
            pending, nsalt, cfg.num_series_partitions,
            pack=True,
        )
        encoded = encode_series_table(series)
        # append ONLY when resuming past a committed table (its chunks
        # stay live); a fresh/overwrite run replaces the table —
        # appending here would duplicate every chunk
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
        )
        sid = (
            cat.append("series_enc", encoded, **wkw)
            if resume
            else cat.overwrite("series_enc", encoded, **wkw)
        )
        snapshot_ids["series_enc"] = sid
        snapshot_ids["metrics"] = write_lineage(
            spark, cat, ckpt.attempt, "encode"
        )
        chunks = [
            (r["source"], r["salt"])
            for r in cat.read(spark, "series_enc", allow_empty=True)
            .select("source", "salt")
            .distinct()
            .collect()
        ]
        with lock:
            ckpt.mark_chunks(chunks)

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
                    # the exact from-scratch answer at any width — and
                    # let later cycles pin and merge it incrementally.
                    df = rollup_tier0(seq, tier.width_s)
                else:
                    df = base.unionByName(df).groupBy(
                        "source", "bucket_s"
                    ).agg(
                        F.sum("cnt").alias("cnt"),
                        F.sum("sum_n_tok").alias("sum_n_tok"),
                        F.min("min_n_tok").alias("min_n_tok"),
                        F.max("max_n_tok").alias("max_n_tok"),
                    )
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
            snapshot_ids[tname] = cat.overwrite(
                tname, df, ("source",), stats_cols=("bucket_s",)
            )

        if commit_step(tname, _tier):
            return PipelineResult(snapshot_ids, run, skipped, step_wall)
        prev_table = tname

        if i > 0:  # gap-fill + LOCF for the coarser tiers
            fname = f"{tname}_filled"

            def _filled(tier=tier, tname=tname, fname=fname):
                filled = gapfill_locf(
                    cat.read(spark, tname, allow_empty=True), tier.width_s
                )
                snapshot_ids[fname] = cat.overwrite(
                    fname, filled, ("source",), stats_cols=("bucket_s",)
                )

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
            # stats_cols: a retention commit must not strip the per-file
            # bucket_s stats that read_tier's time-range pruning needs
            snapshot_ids[rname] = cat.overwrite(
                tname, pruned, ("source",), stats_cols=("bucket_s",)
            )

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
            src = seq
            if cfg.write_mode == "append":
                # compare against INGESTED files only — input files that
                # arrived mid-cycle are deferred work, not lost data
                src = seq.join(
                    F.broadcast(ingested_files(spark, cat)), "input_file",
                    "left_semi",
                )
            bad = fidelity_bad_rows(spark, cat, src)
            report = spark.createDataFrame(
                [(int(bad), int(ckpt.attempt))], "bad_rows long, attempt long"
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
    Compaction bin-packs multi-file tables (preserving manifest column
    stats used for per-source file skipping); ``expire_keep`` trims
    snapshot history and reclaims unreferenced data files. Expiry
    keeps the ``expire_keep`` newest snapshots and the current one;
    no other snapshot is pinned.

    Every table under the warehouse root (:meth:`IcebergLite.list_tables`)
    is maintained. Returns {table: {"compacted_snapshot": id|None,
    "expired_files": n}}.
    """
    cat = get_catalog(cfg.output_path)
    stats_for = {"series_enc": ("source",)}
    report: dict[str, dict] = {}
    for t in cat.list_tables():
        entry: dict = {"compacted_snapshot": None, "expired_files": 0}
        # tier/filled/retention tables are hive-partitioned by source;
        # series_enc and metrics are unpartitioned (stats-pruned)
        partitioned = cat.is_partitioned(t)
        entry["compacted_snapshot"] = cat.compact(
            spark, t,
            partition_by=("source",) if partitioned else (),
            target_file_bytes=target_file_bytes,
            min_files=min_files,
            stats_cols=stats_for.get(t, ()),
        )
        if expire_keep is not None:
            entry["expired_files"] = cat.expire_snapshots(t, expire_keep)
        report[t] = entry
    return report
