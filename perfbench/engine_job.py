"""The benchmark's Spark program: one workload in one spark-submit process.

Launched by ``perfbench/run.py`` (never run it by hand without
``spark-submit --py-files <engine zip>``). It drives the engine only
through its public API — ``plans.pipeline.run_pipeline`` /
``diagnostics``, ``plans.delete.delete_docs``, ``sql.read_rollup``,
``operators.encode.decode_series_table`` and
``sources.catalog.get_catalog`` — times each operation, checks every
result against DuckDB outside the timed region, and writes one JSON
result file for run.py to print.

Workloads (README.md has the details and the reasons):

* ``ingest_cycles`` — skewed (F3) base warehouse. Timed: append cycles
  that each land ~1% new files and run
  ``run_pipeline(write_mode="append")``, with a ``delete_docs`` batch of
  seeded victims after cycles 1, 3, 5, ..., until ``--seconds`` have
  passed.
* ``serve_reads`` — uniform (F1) base warehouse plus one landed but
  unprocessed batch. Timed: one client in a closed loop issuing a
  seeded mix of dashboard ``read_rollup``, ``read_rollup(realtime=True)``
  and one-source rehydrates.
* ``bulk_build`` — repeated fresh builds; used only by run.py's
  scaling mode.

Base warehouses are built by the code under test in a fixture-only
launch (``build_fixture``), once per checkout and engine/benchmark
version, and copied into place by every measured run.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import oracle  # noqa: E402

WIDTHS = (600, 1800, 3600, 21600, 86400)
SPANS = (21600, 43200, 86400, 2 * 86400, 3 * 86400, 7 * 86400)
STEPS = (
    "validate", "meta_source", "tier_1m", "tier_10m", "tier_10m_filled",
    "tier_1h", "tier_1h_filled", "tier_1d", "tier_1d_filled", "encode",
)

#: input sizes per scale: documents table, base replicas and files,
#: append-batch share of the documents (percent) and files, delete batch
SCALES = {
    "full": dict(docs="sf0.1", base_reps=4, base_files=8,
                 append_keep_pct=5, append_files=2, victims=100),
    "smoke": dict(docs="sf0.001", base_reps=4, base_files=4,
                  append_keep_pct=25, append_files=2, victims=10),
    # scaling mode: enough rows that executor work, not per-step
    # overhead, dominates a build
    "large": dict(docs="sf0.1", base_reps=40, base_files=16,
                  append_keep_pct=5, append_files=2, victims=100),
}
MAX_APPENDS = 8  # staged append batches for ingest_cycles
#: tier ladders that differ from the engine default (1m/10m/1h/1d): an
#: append cycle or delete batch costs a fixed 1-2 s per tier step, and
#: two tiers keep one ingest run inside the benchmark's time budget
TIERS = {"ingest_cycles": (("1m", 60), ("1h", 3600))}
SKEW = {"ingest_cycles": True, "serve_reads": False}  # F3 vs F1 base input
FIXTURE_SEED = 0  # the base warehouses do not depend on --seed
DECODE_SAMPLE = 40
#: serve_reads query shapes (bucket width, window), each aligned: every
#: width with its shortest window of at least 6 h and with 7 days
DASH_SHAPES = tuple(
    (w, s) for w in WIDTHS
    for s in (min(x for x in SPANS if x % w == 0), SPANS[-1]))
REALTIME_SHAPES = ((600, 86400), (3600, 86400), (21600, 86400), (86400, 86400))


class CpuMeter:
    """CPU seconds used so far by the spark-submit JVM (this driver's
    parent) and every process below it, exited children included, less
    the JVM's JIT compiler threads: compilation is a warm-up cost of a
    short-lived JVM, and its background bursts would otherwise dominate
    the cost of a sub-second read. Compiler threads come and go, so the
    last count seen for each stays subtracted after it exits."""

    def __init__(self) -> None:
        self.root = os.getppid()
        self.jit: dict[str, int] = {}

    def read(self) -> float:
        kids: dict[int, list[int]] = {}
        stats: dict[int, list[str]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(d)] = fields
            kids.setdefault(int(fields[1]), []).append(int(d))
        ticks, todo = 0, [self.root]
        while todo:
            pid = todo.pop()
            todo += kids.get(pid, [])
            if pid in stats:  # utime stime cutime cstime
                ticks += sum(int(x) for x in stats[pid][11:15])
        for tid in os.listdir(f"/proc/{self.root}/task"):
            try:
                with open(f"/proc/{self.root}/task/{tid}/stat") as f:
                    name, rest = f.read().split("(", 1)[1].rsplit(")", 1)
            except OSError:
                continue
            if "CompilerThre" in name:  # HotSpot "C1/C2 CompilerThread<n>"
                self.jit[tid] = sum(int(x) for x in rest.split()[11:13])
        return (ticks - sum(self.jit.values())) / os.sysconf("SC_CLK_TCK")


def p50(v: list[float]) -> float:
    return statistics.median(v) if v else 0.0


def p90(v: list[float]) -> float:
    if len(v) < 2:
        return v[0] if v else 0.0
    return statistics.quantiles(v, n=10, method="inclusive")[-1]


class Run:
    """State of one workload run: paths, ops, check results, report."""

    def __init__(self, args):
        self.args = args
        self.scale = SCALES[args.scale]
        self.rng = random.Random(args.seed)
        self.work = args.work
        self.stage = os.path.join(self.work, "stage")
        self.input = os.path.join(self.work, "input")
        self.wh = os.path.join(self.work, "warehouse")
        self.ckpt = os.path.join(self.work, "checkpoint.json")
        self.ops: list[dict] = []  # timed operations
        self.setup_ops: list[dict] = []  # untimed set-up operations
        self.checks: list[tuple[str, bool, str]] = []
        self.ingested: list[str] = []  # landed files an append/build processed
        self.pending: list[str] = []  # landed files not yet processed
        self.deleted: list[str] = []
        self.timed = (0.0, 0.0)
        self.pipeline_results: list[tuple[str, float, float, object]] = []
        self.files_rewritten = 0
        self.gen_s = 0.0
        self.bytes_restored = 0
        self.cpu = CpuMeter()
        self.docs = None
        self.base_reps: tuple[int, ...] = ()

    def say(self, line: str) -> None:
        print("bench: " + line, flush=True)

    def cfg(self, mode: str):
        from pyreshaper_spark.config import DEFAULT_TIERS, RunConfig, TierSpec

        tiers = TIERS.get(self.args.workload, DEFAULT_TIERS)
        return RunConfig(
            input_path=self.input, output_path=self.wh,
            write_mode=mode, overlap=True,
            tiers=tuple(TierSpec(n, w) for n, w in tiers),
        )

    # ---- operations ---------------------------------------------------
    def op(self, kind: str, fn, timed: bool = True):
        """Run ``fn`` as one operation; exceptions count as failures."""
        c0 = self.cpu.read()
        t0 = time.time()
        try:
            out, ok, err = fn(), True, ""
        except Exception as e:  # an operation that raised is a failure
            out, ok, err = None, False, f"{type(e).__name__}: {e}"
            traceback.print_exc()
        t1 = time.time()
        c1 = self.cpu.read()
        if not (timed or ok):
            raise RuntimeError(f"set-up operation {kind} failed: {err}")
        (self.ops if timed else self.setup_ops).append(
            dict(kind=kind, t0=t0, t1=t1, cpu=c1 - c0, ok=ok, err=err))
        return out, t1 - t0

    def pipeline(self, spark, mode: str, kind: str, timed: bool = True):
        from pyreshaper_spark.plans.pipeline import run_pipeline

        t0 = time.time()
        res, dt = self.op(
            kind, lambda: run_pipeline(spark, self.cfg(mode), self.ckpt), timed
        )
        if res is not None:
            self.pipeline_results.append((kind, t0, t0 + dt, res))
            self.ingested += self.pending
            self.pending = []
        return res

    def land(self, batch: str) -> None:
        self.pending += inputs.land(self.stage, batch, self.input)

    def check(self, name: str, fn) -> None:
        try:
            ok, detail = fn()
        except Exception as e:  # a check that raised failed
            ok, detail = False, f"{type(e).__name__}: {e}"
            traceback.print_exc()
        self.checks.append((name, bool(ok), detail))
        if not ok:
            self.say(f"CHECK FAILED {name}: {detail}")


# ---- correctness checks (outside timed regions) ----------------------------


def check_tiers(spark, run: Run):
    from pyreshaper_spark.sources.catalog import get_catalog

    cat = get_catalog(run.wh)
    cfg = run.cfg("skip")
    bad = []
    for t in cfg.tiers:
        want = oracle.rollup(run.ingested, run.deleted, t.width_s)
        got = {
            (r[0], int(r[1])): tuple(int(x) for x in r[2:])
            for r in cat.read(spark, f"tier_{t.name}")
            .select("source", "bucket_s", *oracle.AGG)
            .collect()
        }
        if got != want:
            diff = set(got.items()) ^ set(want.items())
            bad.append(f"tier_{t.name}: {len(diff)} differing rows")
        if t is not cfg.tiers[0]:
            filled = cat.read(spark, f"tier_{t.name}_filled")
            n_obs = filled.filter("NOT filled").count()
            if n_obs != len(want):
                bad.append(f"tier_{t.name}_filled: {n_obs} observed rows, "
                           f"want {len(want)}")
    return not bad, "; ".join(bad) or f"{len(cfg.tiers)} tiers match"


def check_points(spark, run: Run):
    from pyreshaper_spark.plans.pipeline import diagnostics

    got = diagnostics(spark, run.cfg("skip")).collect()[0]["points"]
    want = oracle.count_rows(run.ingested, run.deleted)
    return got == want, f"rolled-up points {got}, want {want}"


def check_decode(spark, run: Run):
    """Seeded doc_id sample (deleted victims included) decoded from the
    committed series table and compared with the input."""
    from pyspark.sql import functions as F

    from pyreshaper_spark.operators.encode import decode_series_table
    from pyreshaper_spark.sources.catalog import get_catalog

    ids = oracle_sample(run)
    want = oracle.docs(run.ingested, ids)
    for d in run.deleted:
        want.pop(d, None)
    enc = get_catalog(run.wh).read(spark, "series_enc")
    got = {
        r["doc_id"]: (int(r["event_s"]), list(r["tokens"]))
        for r in decode_series_table(enc)
        .filter(F.col("doc_id").isin(ids))
        .select("doc_id", "event_s", "tokens")
        .collect()
    }
    return got == want, f"{len(got)} sampled docs decoded, want {len(want)}"


def oracle_sample(run: Run) -> list[str]:
    rng = random.Random(run.args.seed * 7 + 1)
    import duckdb

    con = duckdb.connect()
    try:
        flist = ", ".join(f"'{f}'" for f in run.ingested)
        ids = [r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet([{flist}]) ORDER BY doc_id"
        ).fetchall()]
    finally:
        con.close()
    sample = rng.sample(ids, min(DECODE_SAMPLE, len(ids)))
    return sorted(set(sample) | set(run.deleted[:5]))


# ---- workloads -------------------------------------------------------------


def build_fixture(spark, run: Run) -> None:
    """Build the workload's base warehouse with the code under test —
    one cold ``run_pipeline`` over the base input of seed
    ``FIXTURE_SEED`` — and save it as the per-checkout fixture. run.py
    does this in its own launch, once per engine and benchmark version,
    so every measured run starts from the same state."""
    sc, skew = run.scale, SKEW[run.args.workload]
    base = inputs.plan_batches(FIXTURE_SEED, sc["base_reps"],
                               sc["base_files"], 0, 0, 0, skew)[0]
    inputs.generate(docs_table(spark, run), run.stage, [base], FIXTURE_SEED)
    run.land(base.name)
    t0 = time.time()
    run.pipeline(spark, "overwrite", "build", timed=False)
    build_s = time.time() - t0
    n_seq = oracle.count_rows(run.ingested, [])
    fx = run.args.fixture
    tmp = f"{fx}.{os.getpid()}.tmp"
    for sub in ("input", "warehouse"):
        shutil.copytree(os.path.join(run.work, sub), os.path.join(tmp, sub))
    shutil.copy(run.ckpt, os.path.join(tmp, "checkpoint.json"))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(dict(ingested=run.ingested, base_reps=base.reps,
                       build_s=build_s, n_seq=n_seq, skew=skew), f)
    os.replace(tmp, fx)
    run.say(f"fixture built: cold build of {n_seq} sequences in "
            f"{build_s:.2f} s (build_seq_per_s = {n_seq / build_s:.1f} seq/s)")


def restore_fixture(run: Run) -> None:
    """Copy the base warehouse into the run directory. Its path never
    changes, because the series lineage records absolute input paths."""
    fx = run.args.fixture
    for sub in ("input", "warehouse"):
        shutil.copytree(os.path.join(fx, sub), os.path.join(run.work, sub))
    shutil.copy(os.path.join(fx, "checkpoint.json"), run.ckpt)
    with open(os.path.join(fx, "meta.json")) as f:
        meta = json.load(f)
    run.ingested = list(meta["ingested"])
    run.base_reps = tuple(meta["base_reps"])
    run.bytes_restored = parquet_bytes(run.wh)
    size = sum(os.path.getsize(p) for p in run.ingested)
    run.say(f"base warehouse: {meta['n_seq']} sequences from "
            f"{len(run.ingested)} files ({size} B), skew={meta['skew']}, "
            f"replicas={len(run.base_reps)}, tiers "
            f"{'/'.join(t.name for t in run.cfg('skip').tiers)}")


def parquet_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(root) for f in fs if f.endswith(".parquet"))


def warm_up(spark, run: Run) -> None:
    """Untimed: a partitioned catalog write, a tier-routed read and a
    decode, so JIT, Python workers and the parquet paths are warm."""
    from pyreshaper_spark.operators.encode import decode_series_table
    from pyreshaper_spark.sources.catalog import get_catalog
    from pyreshaper_spark.sql import read_rollup

    def work():
        cat = get_catalog(run.wh)
        get_catalog(os.path.join(run.work, "warm_wh")).overwrite(
            "warm", cat.read(spark, "tier_1h"), ("source",),
            stats_cols=("bucket_s",))
        read_rollup(spark, run.cfg("skip"), 3600).collect()
        decode_series_table(cat.read(spark, "series_enc")).count()

    run.op("warmup", work, timed=False)


def ingest_cycles(spark, run: Run) -> None:
    from pyreshaper_spark.plans.delete import delete_docs

    sc = run.scale
    restore_fixture(run)
    t0 = time.time()
    batches = inputs.plan_batches(
        run.args.seed, 0, 0, MAX_APPENDS, sc["append_keep_pct"],
        sc["append_files"], skew=True)
    inputs.generate(docs_table(spark, run), run.stage, batches, run.args.seed)
    run.gen_s = time.time() - t0
    describe(run, batches)
    n_docs = docs_table(spark, run).num_rows
    victim_batches = [
        inputs.pick_victims(run.rng, run.base_reps, n_docs, sc["victims"])
        for _ in range(MAX_APPENDS)
    ]
    warm_up(spark, run)

    t_start = time.time()
    cycle, deletes = 0, 0
    while cycle < MAX_APPENDS:
        run.land(batches[cycle].name)
        cycle += 1
        run.pipeline(spark, "append", "append")
        if cycle % 2 == 1:  # a delete batch after cycles 1, 3, 5, ...
            victims = victim_batches[deletes]
            deletes += 1
            before = manifest_state(run) if run.args.trace else {}
            rep, _ = run.op("delete", lambda: delete_docs(
                spark, run.cfg("skip"), run.ckpt, victims))
            if run.args.trace:
                after = manifest_state(run)
                run.files_rewritten += sum(
                    len(f - after.get(t, set())) for t, f in before.items())
            if rep is not None:
                run.deleted += victims
                run.ops[-1]["deleted"] = rep.get("deleted_rows")
                if rep.get("deleted_rows") != len(victims):
                    run.ops[-1]["ok"] = False
                    run.ops[-1]["err"] = (
                        f"deleted {rep.get('deleted_rows')} of {len(victims)}")
        if time.time() - t_start >= run.args.seconds:
            break
    run.timed = (t_start, time.time())

    run.check("tiers", lambda: check_tiers(spark, run))
    run.check("points", lambda: check_points(spark, run))
    run.check("decode_sample", lambda: check_decode(spark, run))


def bulk_build(spark, run: Run) -> None:
    """Fresh builds only (scaling mode): the first, cold build is the
    warm-up; then overwrite builds of the same skewed input until
    ``--seconds`` have passed."""
    sc = run.scale
    batches = inputs.plan_batches(run.args.seed, sc["base_reps"],
                                  sc["base_files"], 0, 0, 0, skew=True)
    t0 = time.time()
    inputs.generate(docs_table(spark, run), run.stage, batches, run.args.seed)
    run.gen_s = time.time() - t0
    describe(run, batches)
    run.land("base")
    run.pipeline(spark, "overwrite", "build", timed=False)
    t_start = time.time()
    while True:
        run.pipeline(spark, "overwrite", "build")
        if time.time() - t_start >= run.args.seconds:
            break
    run.timed = (t_start, time.time())
    run.n_build_seq = oracle.count_rows(run.ingested, [])
    run.check("tiers", lambda: check_tiers(spark, run))
    run.check("points", lambda: check_points(spark, run))


def serve_reads(spark, run: Run) -> None:
    from pyspark.sql import functions as F

    from pyreshaper_spark.operators.encode import decode_series_table
    from pyreshaper_spark.sources.catalog import get_catalog
    from pyreshaper_spark.sql import read_rollup

    sc = run.scale
    restore_fixture(run)
    t0 = time.time()
    batches = inputs.plan_batches(run.args.seed, 0, 0, 1,
                                  sc["append_keep_pct"], sc["append_files"],
                                  skew=False)
    inputs.generate(docs_table(spark, run), run.stage, batches, run.args.seed)
    run.gen_s = time.time() - t0
    describe(run, batches)
    sources = sorted({f"src{i}" for i in range(20)})
    run.land(batches[0].name)  # landed, not yet processed
    cfg = run.cfg("skip")
    cat = get_catalog(run.wh)
    qrng = random.Random(run.args.seed * 31 + 7)
    from pyreshaper_spark.config import EPOCH0, HORIZON_S

    def query(rng: random.Random, width_s: int, span_s: int, realtime: bool):
        k = rng.randrange(0, (HORIZON_S - span_s) // width_s + 1)
        t_min = EPOCH0 + k * width_s
        srcs = sorted(rng.sample(sources, rng.randint(1, 3)))
        return dict(width_s=width_s, sources=srcs, t_min=t_min,
                    t_max=t_min + span_s, realtime=realtime)

    def dash(q):
        t0 = time.time()
        df = read_rollup(spark, cfg, **q)
        t1 = time.time()
        rows = df.select("source", "bucket_s", *oracle.AGG).collect()
        return rows, t1 - t0, time.time() - t1

    def rehydrate(src):
        t0 = time.time()
        enc = cat.read(
            spark, "series_enc",
            stats_filter=lambda st: st["source"][0] <= src <= st["source"][1],
        ).filter(F.col("source") == src)
        dec = decode_series_table(enc)
        t1 = time.time()
        r = dec.agg(
            F.count("*"), F.sum("n_tok"), F.sum("event_s"),
            F.sum(F.aggregate("tokens", F.lit(0).cast("long"),
                              lambda a, x: a + x)),
        ).collect()[0]
        return tuple(int(x or 0) for x in r), t1 - t0, time.time() - t1

    def one(kind, arg):
        if kind == "rehydrate":
            return rehydrate(arg)
        return dash(arg)

    def round_of_ops(rng: random.Random) -> list[tuple[str, object]]:
        """One round of the mix in seeded order: every dashboard shape
        once, the realtime shapes once, two rehydrates. Fixed
        composition keeps a run's medians comparable across seeds."""
        ops = [("dash", query(rng, w, s, False)) for w, s in DASH_SHAPES]
        ops += [("realtime", query(rng, w, s, True)) for w, s in REALTIME_SHAPES]
        ops += [("rehydrate", rng.choice(sources)) for _ in range(2)]
        rng.shuffle(ops)
        return ops

    # warm-up: each query class, untimed, from its own generator
    wrng = random.Random(0)
    for kind, arg in [("dash", query(wrng, 600, 86400, False)),
                      ("realtime", query(wrng, 3600, 86400, True)),
                      ("dash", query(wrng, 86400, HORIZON_S, False)),
                      ("rehydrate", sources[0])]:
        run.op("warmup", lambda: one(kind, arg), timed=False)

    answers = []
    t_start = time.time()
    while time.time() - t_start < run.args.seconds:  # whole rounds only
        for kind, arg in round_of_ops(qrng):
            out, _ = run.op(kind, lambda: one(kind, arg))
            if out is not None:
                answers.append((len(run.ops) - 1, kind, arg, out[0]))
                run.ops[-1]["plan_s"], run.ops[-1]["exec_s"] = out[1], out[2]
                if kind == "rehydrate":
                    run.ops[-1]["rows"] = out[0][0]
    run.timed = (t_start, time.time())

    for i, kind, arg, got in answers:
        if kind == "rehydrate":
            want = oracle.source_totals(run.ingested, [], arg)
            ok = got == want
        else:
            files = run.ingested + (run.pending if arg["realtime"] else [])
            want = oracle.rollup(files, [], arg["width_s"], arg["sources"],
                                 arg["t_min"], arg["t_max"])
            ok = {(r[0], int(r[1])): tuple(int(x) for x in r[2:]) for r in got} == want
        if not ok:
            run.ops[i]["ok"] = False
            run.ops[i]["err"] = f"answer differs from DuckDB: {kind} {arg}"
    run.pending_files = len(run.pending)


WORKLOADS = {"ingest_cycles": ingest_cycles, "serve_reads": serve_reads,
             "bulk_build": bulk_build}


# ---- shared set-up helpers --------------------------------------------------


def docs_table(spark, run: Run):
    """Tokenized documents, cached per checkout (seed-independent)."""
    if run.docs is None:
        run.docs = inputs.tokenized_docs(
            spark, os.path.join(run.args.data, run.scale["docs"]),
            os.path.join(run.args.cache, f"{run.scale['docs']}-tokens.parquet"))
    return run.docs


def describe(run: Run, batches) -> None:
    import pyarrow.parquet as pq

    for b in batches[:2]:
        paths = sorted(glob.glob(os.path.join(run.stage, b.name, "*.parquet")))
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
        size = sum(os.path.getsize(p) for p in paths)
        run.say(f"input batch {b.name}: rows={rows} files={len(paths)} "
                f"bytes={size} replicas={len(b.reps)} keep={b.keep_pct}% "
                f"skew={b.skew}")
    if len(batches) > 2:
        run.say(f"input: {len(batches) - 2} more batches like {batches[1].name}")


# ---- metrics ---------------------------------------------------------------


def stored_ratio(spark, run: Run) -> tuple[float, int, int]:
    """Bytes of live data files of all committed tables over raw_bytes."""
    from pyreshaper_spark.plans.pipeline import diagnostics
    from pyreshaper_spark.sources.catalog import get_catalog

    cat = get_catalog(run.wh)
    live = 0
    for t in cat.list_tables():
        for f in live_files(cat, t):
            live += os.path.getsize(os.path.join(run.wh, t, "data", f["path"]))
    raw = diagnostics(spark, run.cfg("skip")).collect()[0]["raw_bytes"]
    return live / raw, live, raw


def live_files(cat, table: str) -> list[dict]:
    cur = cat.current_snapshot_id(table)
    for s in cat.snapshots(table):
        if s["id"] == cur:
            return s["files"]
    return []


def end_to_end(run: Run, ratio: float) -> dict:
    """End-to-end metrics. ``op1``/``op2`` are the workload's two gated
    operation classes, measured as the median CPU seconds the launched
    process tree spends per operation; their wall-clock latencies are
    printed under their own names next to them (on a shared host, CPU
    steal moves wall times by more than any usable bound)."""
    wall = lambda k: [o["t1"] - o["t0"] for o in run.ops if o["kind"] == k]  # noqa: E731
    cpu = lambda k: [o["cpu"] for o in run.ops if o["kind"] == k]  # noqa: E731
    if run.args.workload == "bulk_build":
        return {"build_seq_per_s": run.n_build_seq / p50(wall("build"))}
    if run.args.workload == "ingest_cycles":
        names = {"append": "append_cycle_p50_s", "delete": "delete_batch_p50_s"}
    else:
        names = {"dash": "dash_p50_s", "realtime": "realtime_p50_s"}
        run.say(f"metric dash_p90_s = {p90(wall('dash')):.4f} s "
                f"(n={len(wall('dash'))})")
        r = wall("rehydrate")
        run.say(f"metric rehydrate_p50_s = {p50(r):.4f} s (n={len(r)})")
    m = {"setup_s": run.setup_s}
    for i, (k, latency_name) in enumerate(names.items(), 1):
        m[f"op{i}_cpu_s"] = p50(cpu(k))
        run.say(f"metric {latency_name} = {p50(wall(k)):.4f} s (n={len(wall(k))}); "
                f"op{i}_cpu_s = {p50(cpu(k)):.3f} s")
    m["stored_bytes_per_raw_byte"] = ratio
    run.say(f"metric setup_s = {run.setup_s:.3f} s (n=1)")
    return m


def per_layer(run: Run, tracer, log_dir: str) -> dict:
    """Per-layer metrics of a traced run (see README.md for the map to
    end-to-end metrics). Needs the session stopped (event log closed)."""
    import tracing

    jobs, tasks = tracing.parse_event_log(log_dir)
    ix = tracing.JobIndex(jobs, tasks)
    t0, t1 = run.timed
    m: dict[str, float] = {}
    results = [r for r in run.pipeline_results if t0 <= r[1] <= t1] or run.pipeline_results
    for s in STEPS:
        m[f"pipeline.step_s.{s}"] = p50(
            [r[3].step_wall_s.get(s, 0.0) for r in results])
    m["pipeline.serial_s"] = sum(m[f"pipeline.step_s.{s}"] for s in STEPS[:-1])
    m["pipeline.encode_s"] = m["pipeline.step_s.encode"]

    # step windows from mark_step spans: [mark - step_wall, mark]
    windows: dict[str, list[tuple[float, float]]] = {}
    for kind, a, b, res in run.pipeline_results:
        marks = [s for s in tracer.of("step", a, b) if s.name in res.step_wall_s]
        first = min((s.t0 - res.step_wall_s[s.name] for s in marks
                     if s.name != "encode"), default=b)
        windows.setdefault("validate", []).append((a, first))
        for s in marks:
            if s.name != "encode":
                windows.setdefault(s.name, []).append(
                    (s.t0 - res.step_wall_s[s.name], s.t0))

    def layer_jobs(names):
        out = []
        for n in names:
            for a, b in windows.get(n, []):
                if t0 <= a <= t1:
                    out += ix.select(a, b, exclude=(tracing.ENCODE_GROUP,
                                                    tracing.IDS_GROUP))
        return out

    timed_jobs = ix.select(t0, t1)
    ids_jobs = ix.select(t0, t1, groups=(tracing.IDS_GROUP,))
    m["validate.exec_s"] = ix.exec_s(layer_jobs(["validate"]) + ids_jobs)
    m["rollup.exec_s"] = ix.exec_s(layer_jobs(
        ["meta_source"] + [s for s in STEPS if s.startswith("tier_")
                           and not s.endswith("_filled")]))
    m["gapfill.exec_s"] = ix.exec_s(layer_jobs(
        [s for s in STEPS if s.endswith("_filled")]))

    # sources: writes, and the part of each write no Spark job covers
    enc = [(j.submit, j.end) for j in timed_jobs
           if j.group.startswith(tracing.ENCODE_GROUP)]
    other = [(j.submit, j.end) for j in timed_jobs
             if not j.group.startswith(tracing.ENCODE_GROUP)]
    writes = tracer.of("write", t0, t1)

    def driver_s(w):
        iv = enc if w.thread == "encode-overlap" else other
        return (w.t1 - w.t0) - tracing.union_len(iv, w.t0, w.t1)

    m["sources.write_calls"] = len(writes)
    m["sources.write_s"] = sum(w.t1 - w.t0 for w in writes)
    m["sources.write_driver_s"] = sum(driver_s(w) for w in writes)
    reads = tracer.of("read", t0, t1)
    m["sources.read_calls"] = len(reads)
    m["sources.read_plan_s"] = sum(r.t1 - r.t0 for r in reads)
    files = [s.info["files"] for s in tracer.of("files", t0, t1)]
    m["sources.files_per_read"] = statistics.fmean(files) if files else 0.0
    m["sources.live_files"] = run.live_files
    m["sources.snapshots"] = run.snapshots
    m["sources.bytes_written"] = run.bytes_written
    saves = tracer.of("ckpt", t0, t1)
    m["checkpoint.saves"] = len(saves)
    m["checkpoint.save_s"] = sum(s.t1 - s.t0 for s in saves)

    # append cycles: wall = Spark jobs ∪ uncovered write time ∪ remainder
    cyc = [o for o in run.ops if o["kind"] == "append"]
    all_iv = [(j.submit, j.end) for j in timed_jobs]
    cyc_wall = [o["t1"] - o["t0"] for o in cyc]
    cyc_job = [tracing.union_len(all_iv, o["t0"], o["t1"]) for o in cyc]
    cyc_cov = [tracing.union_len(
        all_iv + [(w.t0, w.t1) for w in writes], o["t0"], o["t1"]) for o in cyc]
    m["pipeline.append_cycle_s"] = p50(cyc_wall)
    m["pipeline.append_job_s"] = p50(cyc_job)
    m["pipeline.append_write_driver_s"] = p50(
        [c - j for c, j in zip(cyc_cov, cyc_job)])
    m["pipeline.append_unexplained_s"] = p50(
        [w - c for w, c in zip(cyc_wall, cyc_cov)])

    dels = [o for o in run.ops if o["kind"] == "delete"]
    m["delete.victims"] = sum(o.get("deleted", 0) or 0 for o in dels)
    m["delete.write_calls"] = sum(
        len(tracer.of("write", o["t0"], o["t1"])) for o in dels)
    m["delete.files_rewritten"] = run.files_rewritten

    m.update(run.lineage)

    reads_ops = [o for o in run.ops if o["kind"] in ("dash", "realtime")]
    m["sql.plan_s"] = p50([o["plan_s"] for o in reads_ops if "plan_s" in o])
    m["sql.exec_s"] = p50([o["exec_s"] for o in reads_ops if "exec_s" in o])
    m["sql.pending_files"] = getattr(run, "pending_files", 0)
    reh = [o for o in run.ops if o["kind"] == "rehydrate" and o["ok"]]
    m["decode.seq_per_s"] = (
        sum(o["rows"] for o in reh) / sum(o["t1"] - o["t0"] for o in reh)
        if reh else 0.0)

    m.update(ix.substrate(timed_jobs))
    m["trace.hook_s"] = tracer.hook_s
    return m


def lineage_metrics(spark, run: Run) -> dict:
    """Encode / transpose / gap-fill layer numbers from the committed
    tables and ``diagnostics()``."""
    from pyspark.sql import functions as F

    from pyreshaper_spark.plans.pipeline import diagnostics
    from pyreshaper_spark.sources.catalog import get_catalog

    cat = get_catalog(run.wh)
    d = diagnostics(spark, run.cfg("skip")).collect()[0]
    met = cat.read(spark, "metrics")
    per_part = [r[0] for r in met.groupBy("partition_id")
                .agg(F.sum("n")).collect()]
    walls = met.agg(F.sum("wall_ms"), F.max("wall_ms")).collect()[0]
    filled = sum(
        cat.read(spark, f"tier_{t.name}_filled").filter("filled").count()
        for t in run.cfg("skip").tiers[1:]
    )
    med = statistics.median(per_part) if per_part else 0
    return {
        "transpose.partition_skew": max(per_part) / med if med else 0.0,
        "transpose.chunks": int(d["chunks"]),
        "encode.raw_bytes": int(d["raw_bytes"]),
        "encode.enc_bytes": int(d["enc_bytes"]),
        "encode.ratio": d["raw_bytes"] / d["enc_bytes"],
        "encode.chunk_ms_sum": float(walls[0]),
        "encode.chunk_ms_max": float(walls[1]),
        "encode.points_per_cpu_s": d["points"] / (walls[0] / 1000.0),
        "gapfill.filled_rows": filled,
    }


def manifest_state(run: Run) -> dict[str, set[str]]:
    from pyreshaper_spark.sources.catalog import get_catalog

    cat = get_catalog(run.wh)
    return {t: {f["path"] for f in live_files(cat, t)} for t in cat.list_tables()}


# ---- main ------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--scale", default="full", choices=sorted(SCALES))
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--work", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--fixture-only", action="store_true")
    ap.add_argument("--result", required=True)
    ap.add_argument("--launch-ts", type=float, required=True)
    args = ap.parse_args()

    from pyreshaper_spark.session import get_spark

    spark = get_spark(
        "perfbench-" + args.workload, master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
    )
    spark.sparkContext.setLogLevel("ERROR")
    run = Run(args)
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracer.install()

    if args.fixture_only:
        build_fixture(spark, run)
        spark.stop()
        return 0
    t_session = time.time()
    WORKLOADS[args.workload](spark, run)
    t_checked = time.time()
    # set-up: launch to the first timed operation, without the
    # benchmark's own input generation
    t_first = min((o["t0"] for o in run.ops), default=time.time())
    run.setup_s = t_first - args.launch_ts - run.gen_s

    if tracer is not None:
        tracer.uninstall()
    ratio, live, raw = stored_ratio(spark, run)
    run.say(f"metric stored_bytes_per_raw_byte = {ratio:.5f} ratio "
            f"(live {live} B / raw {raw} B)")
    failed = sum(not o["ok"] for o in run.ops) + sum(not c[1] for c in run.checks)
    attempted = len(run.ops) + len(run.checks)
    for o in run.ops:
        if not o["ok"]:
            run.say(f"FAILED {o['kind']}: {o['err']}")
    run.say(f"metric error_rate = {failed / max(1, attempted):.4f} ratio "
            f"(failed {failed} of {attempted}: {len(run.ops)} operations, "
            f"{len(run.checks)} warehouse checks)")

    setup_ops = sum(o["t1"] - o["t0"] for o in run.setup_ops)
    run.say(f"phases: session {t_session - args.launch_ts:.1f} s, input "
            f"generation {run.gen_s:.1f} s, set-up operations {setup_ops:.1f} s, "
            f"timed {run.timed[1] - run.timed[0]:.1f} s, checks "
            f"{t_checked - run.timed[1]:.1f} s")
    metrics = {}
    if args.trace:
        from pyreshaper_spark.sources.catalog import get_catalog

        cat = get_catalog(run.wh)
        run.live_files = sum(len(live_files(cat, t)) for t in cat.list_tables())
        run.snapshots = sum(len(cat.snapshots(t)) for t in cat.list_tables())
        run.bytes_written = parquet_bytes(run.wh) - run.bytes_restored
        run.lineage = lineage_metrics(spark, run)
        spark.stop()
        metrics = per_layer(run, tracer, os.path.join(args.work, "eventlog"))
    else:
        metrics = end_to_end(run, ratio)
        spark.stop()
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "primary_p50_s": p50([o["t1"] - o["t0"] for o in run.ops
                              if o["kind"] in ("append", "dash")]),
    }
    with open(args.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
