"""Two-cluster-size scaling evidence (north_rule / BASELINE.md protocol).

Runs the IDENTICAL pipeline job on the IDENTICAL input at N and 4N
local cores via ``spark-submit --py-files`` (the mandated launch path,
BASELINE.json:14), measures pipeline wall time (excluding JVM/session
startup — a per-app constant that a real cluster amortizes over hours),
and writes throughputs + scaling efficiency to ``BENCH/BASELINE.md``.

    python tools/scaling_bench.py [--sf-dir /root/testdata/sf0.1]
        [--repeat 200] [--n 8] [--big 32]

efficiency = (throughput_4N / throughput_N) / (4N / N)   # require >= 0.8
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def make_pyfiles_zip(dest: str) -> str:
    zpath = os.path.join(dest, "engine.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "pyreshaper_spark")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))
    return zpath


def prepare_input(sf_dir: str, repeat: int, dest: str) -> str:
    from pyspark.sql import SparkSession

    from pyreshaper_spark.fixtures import sequences_df

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("scaling-bench-fixture")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    path = os.path.join(dest, "sequences")
    sequences_df(spark, sf_dir, repeat=repeat).repartition(64).write.parquet(path)
    n = spark.read.parquet(path).count()
    spark.stop()
    print(f"input: {n} sequences at {path}")
    return path


CORES_PER_EXEC = 2
MEM_PER_EXEC_MB = 16384


def run_once(
    execs: int, seq_path: str, workdir: str, zpath: str, runs: int = 3,
    mem_mb: int = MEM_PER_EXEC_MB,
) -> dict:
    """One measurement: `execs` separate executor JVMs (local-cluster
    mode — per-executor heap + Python worker pool, the faithful
    N-executor simulation), `runs` in-session pipeline repetitions;
    wall = min of the warm repetitions (noise floor on a shared box)."""
    from pyreshaper_spark.config import RunConfig

    label = f"execs_{execs}"
    out = os.path.join(workdir, f"out_{label}")
    cfgp = os.path.join(workdir, f"cfg_{label}.json")
    # the encode's partition count is AQE's: the shuffle hashes into
    # spark.sql.shuffle.partitions (set below) and coalesces to the
    # advisory size
    # overlap=True: tier-chain commits run concurrently with the encode
    # stage (two driver threads, disjoint tables) — the size-independent
    # driver-commit latency of the 9 small steps hides behind encode
    # executor work instead of adding serial, non-scaling wall time
    RunConfig(
        input_path=seq_path, output_path=out, overlap=True,
    ).write(cfgp)
    ckpt = os.path.join(workdir, f"ckpt_{label}.json")
    master = f"local-cluster[{execs},{CORES_PER_EXEC},{mem_mb}]"
    cmd = [
        "spark-submit",
        "--master", master,
        "--driver-memory", "8g",
        "--conf", "spark.sql.shuffle.partitions="
        + str(max(execs * CORES_PER_EXEC * 2, 8)),
        "--conf", "spark.sql.adaptive.enabled=true",
        # 131072 measured faster than 65536 on the encode leg (fewer
        # Arrow batch boundaries per chunk; same finding as bench.py)
        "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=131072",
        "--conf",
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version=2",
        "--conf", "spark.sql.session.timeZone=UTC",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zpath,
        os.path.join(REPO, "jobs", "rollup_job.py"),
        "--config", cfgp,
        "--checkpoint", ckpt,
        "--emit-timing",
        "--bench-runs", str(runs),
    ]
    print(f"[{master}] spark-submit ...")
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=5200)
    with open(os.path.join(workdir, f"stdout_{label}.log"), "w") as f:
        f.write(proc.stdout)
    with open(os.path.join(workdir, f"stderr_{label}.log"), "w") as f:
        f.write(proc.stderr)
    timing = None
    for line in proc.stdout.splitlines():
        if line.startswith("TIMING "):
            timing = json.loads(line[len("TIMING "):])
    if timing is None:
        sys.stderr.write(proc.stdout[-3000:] + "\n" + proc.stderr[-3000:])
        raise RuntimeError(f"no TIMING line from {master} run "
                           f"(full logs in {workdir})")
    walls = timing["all_runs_wall_s"]
    warm = walls[1:] or walls
    timing["wall_s"] = min(warm)
    # step breakdown FROM THE SELECTED RUN (r4 advice: a min-of-warm
    # wall with step walls from a different, stalled run cannot
    # support any per-step reading)
    sel = walls.index(timing["wall_s"], 1 if len(walls) > 1 else 0)
    steps_all = timing.get("all_runs_step_wall_s")
    if steps_all:
        timing["step_wall_s"] = steps_all[sel]
    timing["selected_run"] = sel
    timing["execs"] = execs
    timing["cores"] = execs * CORES_PER_EXEC
    timing["seq_per_sec"] = round(timing["sequences"] / timing["wall_s"], 1)
    timing["points_per_sec"] = round(timing["tier_points"] / timing["wall_s"], 1)
    return timing


def write_report(runs: list[dict], n_seq: int, args) -> str:
    runs = sorted(runs, key=lambda r: r["cores"])
    rows = "\n".join(
        f"| {r.get('execs', '?')} executors × {CORES_PER_EXEC} cores "
        f"(local-cluster) | {r['wall_s']} | {r['seq_per_sec']:,} "
        f"| {r['points_per_sec']:,} |"
        for r in runs
    )
    pairs = []
    for a in runs:
        for b in runs:
            if b["cores"] == 4 * a["cores"]:
                eff = (a["wall_s"] / b["wall_s"]) / 4
                pairs.append((a, b, eff))
    pair_rows = "\n".join(
        f"| {a.get('execs')} → {b.get('execs')} executors | "
        f"{a['wall_s'] / b['wall_s']:.2f}× | **{eff:.3f}** | "
        f"{'PASS' if eff >= 0.8 else 'below target'} |"
        for a, b, eff in pairs
    )
    best = runs[-1]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(path, "w") as f:
        f.write(f"""# BENCH/BASELINE — two-cluster-size scaling evidence

Protocol (BASELINE.md): identical pipeline job (`jobs/rollup_job.py`,
full tier cascade + gap-fill/LOCF + salted transpose + Gorilla encode +
lineage), identical input, launched via `spark-submit --py-files
engine.zip` on a **local-cluster** (Spark standalone-style: each
executor is a SEPARATE JVM with its own {MEM_PER_EXEC_MB // 1024} GiB
heap, {CORES_PER_EXEC} cores and its own Python worker pool) at N and
4N executors — the closest faithful executor-count simulation a single
sandbox box allows. Wall time is the MINIMUM of the warm in-session
pipeline runs (noise floor on a shared VM; JVM/session startup
excluded). Input: deterministic `sequences` fixture from
`{args.sf_dir}/documents.parquet`, repeat={args.repeat}
({n_seq:,} sequences).

| config | wall s | sequences/s | rolled-up points/s |
|---|---|---|---|
{rows}

## N → 4N scaling efficiency (criterion: ≥ 0.8)

| pair | speedup | efficiency | verdict |
|---|---|---|---|
{pair_rows}

## Reading these numbers honestly

All executors still share ONE memory bus and ONE disk — a real 4N
cluster multiplies those with the nodes; these figures are therefore a
LOWER bound on real executor scaling. Job shape at measurement time:
the input gate scans only the narrow columns (token-size contract
enforced inside the encode pass — `validate_input(token_sizes=
"defer")`), and the tier cascade's 9 small commits run CONCURRENTLY
with the encode stage from a second driver thread (`RunConfig.
overlap`), so the size-independent driver-commit latency no longer
adds serial wall time. What remains on the critical path is
data-proportional executor work: the validate/tier-0 scans and the
salted-transpose + Gorilla-encode stage (one range exchange + the
mapInArrow encoder). Step walls recorded in `BENCH/run_execs_*.json`
(encode's wall overlaps the tier steps' by construction).

- Gorilla+DoD+tok-pack encode: {best['raw_bytes']:,} raw →
  {best['enc_bytes']:,} encoded bytes
  (ratio {best['raw_bytes'] / best['enc_bytes']:.2f}×)

Raw JSON: `BENCH/scaling.json`.
""")
    with open(os.path.join(REPO, "BENCH", "scaling.json"), "w") as f:
        json.dump(
            {
                "runs": runs,
                "efficiencies": {
                    f"{a['cores']}->{b['cores']}": round(e, 4)
                    for a, b, e in pairs
                },
            },
            f,
        )
    return path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--repeat", type=int, default=400)
    ap.add_argument(
        "--execs", type=int, nargs="+", default=[1, 4],
        help="executor counts (each executor: 2 cores, own JVM); every "
        "(k, 4k) pair present is reported",
    )
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--mem-mb", type=int, default=MEM_PER_EXEC_MB,
        help="per-executor heap MB (use 8192 for pairs that include an "
        "8-executor leg — 8 x 16 GiB exceeds the sandbox's RAM)",
    )
    ap.add_argument(
        "--input", default=None,
        help="reuse a prebuilt sequences fixture (skips prepare_input); "
        "lets legs run as separate serialized invocations on an "
        "otherwise-idle box, merged via BENCH/run_execs_*.json",
    )
    ap.add_argument(
        "--prepare-only", action="store_true",
        help="build the fixture under /tmp/scaling_input and exit",
    )
    args = ap.parse_args()

    workdir = tempfile.mkdtemp(prefix="scaling_bench_")
    bench_dir = os.path.join(REPO, "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    try:
        if args.prepare_only:
            os.makedirs("/tmp/scaling_input", exist_ok=True)
            print(prepare_input(args.sf_dir, args.repeat, "/tmp/scaling_input"))
            return
        zpath = make_pyfiles_zip(workdir)
        seq_path = args.input or prepare_input(args.sf_dir, args.repeat, workdir)
        for e in sorted(args.execs, reverse=True):
            t = run_once(
                e, seq_path, workdir, zpath, runs=args.runs,
                mem_mb=args.mem_mb,
            )
            with open(os.path.join(bench_dir, f"run_execs_{e}.json"), "w") as f:
                json.dump(t, f)
        # report over every per-exec result present (this + prior
        # serialized invocations against the same fixture)
        runs = []
        for p in sorted(glob.glob(os.path.join(bench_dir, "run_execs_*.json"))):
            with open(p) as f:
                runs.append(json.load(f))
        path = write_report(runs, runs[0]["sequences"], args)
        print(open(path).read())
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
