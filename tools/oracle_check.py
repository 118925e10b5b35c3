"""Self-check harness mimicking the driver's Spark-vs-DuckDB compare.

Runs every ``__spark_entry__.queries()`` entry at the given sf and
compares row count, column names, and order-insensitive values against
``oracle_sql()`` via DuckDB. Usage::

    python tools/oracle_check.py [sf_dir] [query ...]

The Spark legs run from a small thread pool (``ORACLE_CHECK_JOBS``,
default 4): 240 sequential tiny jobs are driver-latency-bound, and
Spark schedules concurrent jobs on one session fine — measured 247 s →
~110 s wall for the full sweep. Each worker gets its own DuckDB cursor
(catalog views are shared); `__spark_entry__`'s memo fills are
compute-once under concurrency. ``ORACLE_CHECK_JOBS=1`` restores the
serial walk (with ``ORACLE_CHECK_TIMINGS`` for clean per-query walls).
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("events", "documents")


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append("|".join(norm_cell(vals[i]) for i in order))
    return sorted(out)


def _check_one(spark, con, sf_dir, name, fn, sql):
    """Run ONE face + its oracle; returns (lines, n_failures, wall_s)."""
    lines: list[str] = []
    failures = 0
    t0 = time.monotonic()
    sdf = fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    wall = time.monotonic() - t0
    scols = sdf.columns
    if sql is None:
        lines.append(f"{name}: NO ORACLE (rows={len(srows)})")
        return lines, failures, wall
    ores = con.sql(sql)
    orows = ores.fetchall()
    ocols = [d[0] for d in ores.description]
    # Driver-canonicalization lint: the driver fetches the DuckDB
    # side as a pandas frame and sort_values over every column —
    # list cells crash it, and DECIMAL→float64 dtype hashes
    # differently than Spark's exact Decimal/int64. Assert the
    # fetch is hashable and dtype-faithful so the round-2/3
    # artifact class cannot recur. Dtypes come from the already-
    # bound relation's `types` plus the fetched rows' null mask —
    # NOT a second `.df()` execution of every oracle (that doubled
    # DuckDB-side sweep wall).
    lint_bad = []
    try:
        otypes = [str(t).lower() for t in ores.types]
        sfields = {f.name: f.dataType.simpleString() for f in sdf.schema}
        for i, c in enumerate(ocols):
            st = sfields.get(c, "")
            # A DuckDB DECIMAL / HUGEINT / DOUBLE column fetches
            # into pandas as float64; against a Spark integer
            # column with no NULLs that is the driver hash-red
            # artifact even on identical values. (An INTEGER duck
            # column WITH nulls also fetches float64, but carries
            # NaNs — pandas' nullable-int representation, driver-
            # green: gapfill, asof tolerance, funnel steps all
            # sampled green — so only the type-driven cases flag.)
            to_f64 = otypes[i].startswith(
                ("decimal", "hugeint", "double", "float", "real")
            )
            null_free = all(r[i] is not None for r in orows)
            if (
                to_f64
                and not st.startswith(("double", "float"))
                and null_free
            ):
                lint_bad.append(
                    f"{c}: duckdb {otypes[i]}→float64 vs spark {st}"
                )
            if st.startswith(("array", "map", "struct", "decimal")):
                lint_bad.append(f"{c}: spark {st} not driver-hashable")
        # sortability (list cells crash the driver's sort_values):
        # rebuild the frame from the rows already fetched.
        import pandas as pd

        pd.DataFrame(orows, columns=ocols).sort_values(list(ocols))
    except Exception as exc:  # pragma: no cover - lint face
        lint_bad.append(f"canonicalize raised: {exc!r}")
    if lint_bad:
        failures += 1
        lines.append(f"{name}: LINT {lint_bad}")
    ok_cols = sorted(scols) == sorted(ocols)
    ok_cnt = len(srows) == len(orows)
    ok_vals = canon(srows, scols) == canon(orows, ocols) if ok_cols else False
    if not (ok_cols and ok_cnt and ok_vals):
        failures += 1
        lines.append(
            f"{name}: FAIL cols={ok_cols} "
            f"cnt={ok_cnt}({len(srows)}/{len(orows)}) vals={ok_vals}"
        )
        if ok_cols and not ok_vals:
            a, b = canon(srows, scols), canon(orows, ocols)
            diff = [x for x in a if x not in set(b)][:3]
            diff2 = [x for x in b if x not in set(a)][:3]
            lines.append("  spark-only: " + repr(diff))
            lines.append("  oracle-only: " + repr(diff2))
    else:
        lines.append(f"{name}: OK ({len(srows)} rows)")
    return lines, failures, wall


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as ent
    from pyreshaper_spark.session import get_spark

    # honor SPARK_GRAFT_SHUFFLE_PARTITIONS so the partition-count
    # invariance leg of the round ritual actually varies the session
    # (an explicit arg would override the env inside get_spark)
    spark = get_spark(
        "oracle_check",
        master="local[8]",
        shuffle_partitions=int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
        ),
    )
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, os_ = ent.queries(), ent.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"WARNING: unknown query name(s) skipped: {sorted(unknown)}")
    names = [n for n in qs if not only or n in only]
    jobs = max(1, int(os.environ.get("ORACLE_CHECK_JOBS", "4")))
    failures = 0
    timings: dict[str, float] = {}

    if jobs == 1:
        results = (
            (n, _check_one(spark, con, sf_dir, n, qs[n], os_.get(n)))
            for n in names
        )
        for name, (lines, nfail, wall) in results:
            failures += nfail
            timings[name] = wall
            for ln in lines:
                print(ln)
    else:
        import threading
        from concurrent.futures import ThreadPoolExecutor

        local = threading.local()

        def run(name):
            # per-thread DuckDB cursor; catalog views are shared
            cur = getattr(local, "cur", None)
            if cur is None:
                cur = local.cur = con.cursor()
            return _check_one(spark, cur, sf_dir, name, qs[name], os_.get(name))

        with ThreadPoolExecutor(max_workers=jobs) as pool:
            futs = {n: pool.submit(run, n) for n in names}
            for name in names:  # print in insertion order
                lines, nfail, wall = futs[name].result()
                failures += nfail
                timings[name] = wall
                for ln in lines:
                    print(ln)

    if os.environ.get("ORACLE_CHECK_TIMINGS") and timings:
        print("-- slowest spark legs --")
        for name, dt in sorted(timings.items(), key=lambda kv: -kv[1])[:25]:
            print(f"{dt:8.2f}s  {name}")
        print(f"-- total spark wall: {sum(timings.values()):.1f}s "
              f"over {len(timings)} queries --")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
