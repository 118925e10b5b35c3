"""Empty-input totality sweep.

Builds a zero-row clone of every testdata table (schema preserved) in a
tmp dir, then runs every ``__spark_entry__.queries()`` entry against it.
A production engine must degrade to empty (or well-defined scalar)
results on an empty slice — not crash with IndexError / division by
zero / py4j analysis exceptions from scalar subqueries.

Usage::

    python tools/empty_check.py [template_sf_dir] [query ...]

Set ``EMPTY_CHECK_LIMIT=N`` to clone N rows per table instead of zero
(the single-row degenerate sweep: catches 1/(n-1) variance
denominators, lag-window NULL arithmetic, argmax over one candidate).

Exit 0 when every query either returns a DataFrame (collected without
error) or raises a *documented* typed error (pyreshaper_spark errors
are allowed — e.g. validation gates that legitimately reject an empty
corpus are listed in ALLOWED_ERRORS).
"""

from __future__ import annotations

import os
import sys
import tempfile
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("events", "documents")

# Queries whose contract explicitly rejects an empty corpus with a
# typed error (name -> substring expected in the exception).
ALLOWED_ERRORS: dict[str, str] = {}


def main() -> int:
    template = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as ent
    from pyreshaper_spark.session import get_spark

    spark = get_spark("empty_check", master="local[8]", shuffle_partitions=4)
    tmp = tempfile.mkdtemp(prefix="empty_sf_")
    for t in TABLES:
        src = f"{template}/{t}.parquet"
        if not os.path.exists(src):
            continue
        df = spark.read.parquet(src)
        n = int(os.environ.get("EMPTY_CHECK_LIMIT", "0"))
        df.limit(n).write.mode("overwrite").parquet(f"{tmp}/{t}.parquet")

    failures: list[str] = []
    for name, fn in ent.queries().items():
        if only and name not in only:
            continue
        try:
            rows = fn(spark, tmp).collect()
            print(f"{name}: OK ({len(rows)} rows)")
        except Exception as exc:  # noqa: BLE001 - report, don't die
            want = ALLOWED_ERRORS.get(name)
            if want and want in str(exc):
                print(f"{name}: OK (documented reject: {want})")
                continue
            failures.append(name)
            last = traceback.format_exc().strip().splitlines()[-1]
            print(f"{name}: CRASH {last[:200]}")
    print(f"-- {len(failures)} crashes / {len(ent.queries())} queries --")
    if failures:
        print("failing:", " ".join(sorted(failures)))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
