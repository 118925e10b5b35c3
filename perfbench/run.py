"""End-to-end benchmark of the rollup engine — the one command.

    python3 perfbench/run.py --workload ingest_cycles --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --smoke            # every workload + check, small input
    python3 perfbench/run.py --scaling --seed 1 # bulk build at local[1] vs local[4]

Run it from the repository root. Each workload runs in its own
``spark-submit --master local[4] --py-files <engine zip>`` process (the
zip ships ``pyreshaper_spark`` to the Python workers); this launcher
builds the zip, samples the RSS of the launched process tree, and
prints the human-readable report followed, as the last line, by one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything is written under ``.bench_build/perfbench``
in the current directory. README.md next to this file describes the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
ENGINE = os.path.join(ROOT, "pyreshaper_spark")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170.0
CORES = 4
FIXTURE_WORKLOADS = ("ingest_cycles", "serve_reads")


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def build_zip(path: str) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for dp, dirs, files in os.walk(ENGINE):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(dp, f)
                    z.write(p, os.path.relpath(p, ROOT))


def source_key() -> str:
    """Hash of the engine's and the benchmark's Python source: base
    warehouse fixtures are rebuilt when either changes."""
    h = hashlib.sha256()
    for top in (ENGINE, HERE):
        for dp, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dp, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def spark_submit() -> str | None:
    found = shutil.which("spark-submit")
    if found:
        return found
    try:
        import pyspark
    except ImportError:
        return None
    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    return cand if os.path.exists(cand) else None


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants, as summed
    PSS: pages the forked Python workers share are counted once, not
    once per worker as a plain sum of RSS would."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v)


class RssSampler(threading.Thread):
    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid, self.peak, self._stop_ev = pid, 0.0, threading.Event()

    def run(self) -> None:
        while not self._stop_ev.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.pid))
            self._stop_ev.wait(0.5)

    def stop(self) -> None:
        self._stop_ev.set()
        self.join()


def launch(workload: str, seed: int, seconds: float, trace: int,
           scale: str = "full", cores: int = CORES,
           timeout_s: float = RUN_TIMEOUT_S) -> dict:
    """One spark-submit process running one workload; returns its result
    dict (with ``peak_rss_mb``, ``wall_s`` and ``steal_pct`` added) or
    raises RuntimeError. A missing base-warehouse fixture is built first,
    in a launch of its own."""
    # a fixed path: the restored warehouse fixtures record absolute paths
    work = os.path.join(BUILD, f"run-{workload}-{scale}")
    fixture = os.path.join(BUILD, "cache",
                           f"fixture-{workload}-{scale}-{source_key()}")
    args = dict(workload=workload, seed=seed, seconds=seconds, trace=trace,
                scale=scale, cores=cores, fixture=fixture)
    if workload in FIXTURE_WORKLOADS and not os.path.exists(
            os.path.join(fixture, "meta.json")):
        _submit(work, timeout_s, fixture_only=True, **args)
    return _submit(work, timeout_s, fixture_only=False, **args)


def _submit(work: str, timeout_s: float, workload: str, seed: int,
            seconds: float, trace: int, scale: str, cores: int,
            fixture: str, fixture_only: bool) -> dict:
    submit = spark_submit()
    if submit is None:
        raise RuntimeError("spark-submit not found")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    zpath = os.path.join(work, "engine.zip")
    build_zip(zpath)
    result = os.path.join(work, "result.json")
    cmd = [
        submit, "--master", f"local[{cores}]", "--driver-memory", "2g",
        "--py-files", zpath,
        "--conf", f"spark.local.dir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
                  f"-Dderby.system.home={tmp}",
        "--conf", "spark.log.level=ERROR",
    ]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        cmd += ["--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{work}/eventlog",
                "--conf", "spark.eventLog.compress=false"]
    launch_ts = time.time()
    ticks0 = cpu_ticks()
    cmd += [
        os.path.join(HERE, "engine_job.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--scale", scale, "--cores", str(cores), "--work", work,
        "--data", os.path.join(HERE, "data"), "--result", result,
        "--cache", os.path.join(BUILD, "cache"), "--fixture", fixture,
        "--launch-ts", repr(launch_ts),
    ] + (["--fixture-only"] if fixture_only else [])
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable,
               SPARK_GRAFT_CPUS=str(cores))
    log_path = os.path.join(work, "spark-submit.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, env=env, cwd=work,
                                start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        timer = threading.Timer(timeout_s, _kill_group, [proc.pid])
        timer.start()
        try:
            # the Python driver's stderr arrives merged into stdout
            for line in proc.stdout:
                if line.startswith("bench: "):
                    print(line[len("bench: "):].rstrip(), flush=True)
                else:
                    log.write(line)
            rc = proc.wait()
        finally:
            timer.cancel()
            sampler.stop()
            _kill_group(proc.pid)  # stragglers (python daemons) of the tree
    if rc == 0 and fixture_only:
        shutil.rmtree(work, ignore_errors=True)
        return {}
    if rc != 0 or not os.path.exists(result):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"{workload} exited {rc}; log tail:\n{tail}")
    with open(result) as f:
        out = json.load(f)
    out["peak_rss_mb"] = sampler.peak
    out["wall_s"] = time.time() - launch_ts
    ticks1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests: a busy host slows
    # every number of the run, so it is reported next to them
    out["steal_pct"] = 100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    shutil.rmtree(work, ignore_errors=True)
    return out


def _kill_group(pid: int) -> None:
    try:
        os.killpg(pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 10
    while time.time() < deadline:  # wait until every member has exited
        try:
            os.killpg(pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def measured(workload: str, seed: int, seconds: float, trace: int) -> int:
    res = launch(workload, seed, seconds, trace)
    metrics = dict(res["metrics"])
    last = os.path.join(BUILD, f"last-{workload}.json")
    if trace:
        base = None
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)["primary_p50_s"]
        metrics["trace.overhead_s"] = (
            res["primary_p50_s"] - base if base is not None else 0.0)
        print(f"tracing overhead on the primary operation: "
              f"{metrics['trace.overhead_s']:+.4f} s "
              f"({'vs last untraced run' if base is not None else 'no untraced run yet'})")
    else:
        metrics["peak_rss_mb"] = res["peak_rss_mb"]
        with open(last, "w") as f:
            json.dump({"primary_p50_s": res["primary_p50_s"]}, f)
    print(f"metric peak_rss_mb = {res['peak_rss_mb']:.1f} MB (n=1)")
    print(f"run wall time {res['wall_s']:.1f} s, host CPU steal "
          f"{res['steal_pct']:.1f}% of CPU time")
    u = units()
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u[k]}
                    for k, v in metrics.items() if k in u},
    }))
    return 0


def smoke() -> int:
    """Every workload, every metric and check, on sf0.001-derived input."""
    ok = True
    for wl in ("ingest_cycles", "serve_reads"):
        for trace in (0, 1):
            res = launch(wl, 1, 3, trace, scale="smoke")
            print(f"smoke {wl} trace={trace}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  f"metrics={len(res['metrics'])}")
            ok &= bool(res["correct"])
    return 0 if ok else 1


def scaling(seed: int, seconds: float) -> int:
    """bulk_build of 200k sequences at local[1] and local[4] on the same
    input: scaling_eff_1to4 = (thr4 / thr1) / 4 (north star: >= 0.8).
    Takes several minutes; not part of the per-check runs."""
    thr = {}
    for cores in (1, CORES):
        res = launch("bulk_build", seed, seconds, 0, scale="large",
                     cores=cores, timeout_s=1800)
        thr[cores] = res["metrics"]["build_seq_per_s"]
        print(f"scaling: local[{cores}] build_seq_per_s = {thr[cores]:.1f} seq/s")
    eff = thr[CORES] / thr[1] / CORES
    print(f"metric scaling_eff_1to4 = {eff:.3f} ratio (target >= 0.8)")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=("ingest_cycles", "serve_reads"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--scaling", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ENGINE, "__init__.py")):
        return fail(f"engine package not found under {ROOT}; run from the "
                    "repository root")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        return fail("BENCHMARK.json not found; run from the repository root")
    os.makedirs(BUILD, exist_ok=True)
    # SIGTERM unwinds like an exception, so launch() stops its process tree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.smoke:
            return smoke()
        if args.scaling:
            return scaling(args.seed, args.seconds)
        if args.workload is None:
            return fail("--workload is required")
        return measured(args.workload, args.seed, args.seconds, args.trace)
    except RuntimeError as e:
        return fail(str(e))


if __name__ == "__main__":
    sys.exit(main())
