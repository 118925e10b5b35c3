"""spark-submit entry point for table maintenance and mutations.

One operational CLI for everything that changes a finished run after
the fact — the ``rewrite_data_files`` / ``expire_snapshots`` /
``DELETE`` / ``MERGE`` face of the engine::

    cd /root/repo && zip -qr /tmp/engine.zip pyreshaper_spark
    spark-submit --master local[32] --py-files /tmp/engine.zip \
        jobs/maintain_job.py --config run.json --checkpoint ckpt.json \
        delete --doc-ids d1 d2 d3            # right to be forgotten
    ... restate --doc-ids d1 d2              # in-place input corrections
    ... compact --table tier_1m --sort-by bucket_s   # sorted rewrite
    ... expire --table tier_1m --keep-last 2         # reclaim snapshots
    ... changes --table tier_1m --from-snapshot 3    # CDC changelog
    ... diff --table tier_1m --from-snapshot 3       # rollup-cell audit
                                                     # (aggregate deltas
                                                     #  between snapshots)
    ... refresh --from-snapshot 3                    # CDC-driven refresh
                                                     # (iceberglite input)
    ... remove-orphans --table tier_1m               # GC unreferenced files
    ... mor-delete --table docs --doc-ids d1 d2      # merge-on-read delete
                                                     # (O(keys), no rewrite)
    ... inspect --table tier_1m --what files         # metadata tables
                                                     # (snapshots/files)

``delete``/``restate`` read doc ids from ``--doc-ids`` or one-per-line
from ``--doc-ids-file`` (compliance batches arrive as files).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def _ids(args) -> list[str]:
    ids = list(args.doc_ids or [])
    if args.doc_ids_file:
        with open(args.doc_ids_file) as f:
            ids.extend(line.strip() for line in f if line.strip())
    if not ids:
        raise SystemExit("no doc ids given (--doc-ids or --doc-ids-file)")
    return ids


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True, help="RunConfig JSON path")
    ap.add_argument("--checkpoint", required=True)
    sub = ap.add_subparsers(dest="op", required=True)

    for name in ("delete", "restate"):
        p = sub.add_parser(name)
        p.add_argument("--doc-ids", nargs="*", default=None)
        p.add_argument("--doc-ids-file", default=None)

    p = sub.add_parser("mor-delete")
    p.add_argument("--table", required=True)
    p.add_argument("--key-col", default="doc_id")
    p.add_argument("--doc-ids", nargs="*", default=None)
    p.add_argument("--doc-ids-file", default=None)

    p = sub.add_parser("compact")
    p.add_argument("--table", required=True)
    p.add_argument("--partition-by", nargs="*", default=())
    p.add_argument("--sort-by", nargs="*", default=())
    p.add_argument("--stats-cols", nargs="*", default=())
    p.add_argument("--target-file-mb", type=int, default=128)
    p.add_argument("--min-files", type=int, default=2)

    p = sub.add_parser("expire")
    p.add_argument("--table", required=True)
    p.add_argument("--keep-last", type=int, default=1)
    p.add_argument("--older-than-s", type=float, default=None)

    p = sub.add_parser("remove-orphans")
    p.add_argument("--table", required=True)
    p.add_argument("--older-than-s", type=float, default=3 * 86400)
    p.add_argument("--dry-run", action="store_true")

    p = sub.add_parser("changes")
    p.add_argument("--table", required=True)
    p.add_argument("--from-snapshot", type=int, required=True)
    p.add_argument("--to-snapshot", type=int, default=None)
    p.add_argument("--keep-carryovers", action="store_true")

    p = sub.add_parser("refresh")
    p.add_argument("--from-snapshot", type=int, required=True)
    p.add_argument("--to-snapshot", type=int, default=None)

    p = sub.add_parser("diff")
    p.add_argument("--table", required=True)
    p.add_argument("--from-snapshot", type=int, required=True)
    p.add_argument("--to-snapshot", type=int, default=None)
    p.add_argument("--with-rows", action="store_true")

    p = sub.add_parser("inspect")
    p.add_argument("--table", required=True)
    p.add_argument(
        "--what", choices=("snapshots", "files"), default="snapshots"
    )
    p.add_argument("--snapshot", type=int, default=None)
    p.add_argument("--with-rows", action="store_true")

    args = ap.parse_args(argv)

    from pyreshaper_spark.config import RunConfig
    from pyreshaper_spark.sources.catalog import get_catalog

    cfg = RunConfig.read(args.config)
    spark = (
        SparkSession.builder.appName(f"pyreshaper-maintain-{args.op}")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    cat = get_catalog(cfg.output_path)
    if args.op in ("delete", "restate"):
        from pyreshaper_spark.plans.delete import delete_docs, restate_docs

        fn = delete_docs if args.op == "delete" else restate_docs
        report = fn(spark, cfg, args.checkpoint, _ids(args))
        out = {"op": args.op, **{
            k: v for k, v in report.items() if k != "snapshot_ids"
        }, "tables_committed": sorted(report.get("snapshot_ids", {}))}
    elif args.op == "refresh":
        from pyreshaper_spark.plans.delete import refresh_from_changes

        report = refresh_from_changes(
            spark, cfg, args.checkpoint,
            from_snapshot_id=args.from_snapshot,
            to_snapshot_id=args.to_snapshot,
        )
        out = {"op": "refresh", **{
            k: v for k, v in report.items() if k != "snapshot_ids"
        }, "tables_committed": sorted(report.get("snapshot_ids", {}))}
    elif args.op == "mor-delete":
        # merge-on-read equality delete on ONE table: O(keys) commit,
        # applied at read time (contrast `delete`, which copy-on-write
        # rewrites the input AND repairs every derived tier/table).
        # Key values arrive as strings; cast to the table column's type
        # from the recorded snapshot schema so the anti-join keys match.
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        schema_json = cat.table_schema_json(args.table)
        keys = spark.createDataFrame(
            [(v,) for v in _ids(args)], f"{args.key_col} string"
        )
        if schema_json is not None:
            st = StructType.fromJson(json.loads(schema_json))
            keys = keys.select(
                F.col(args.key_col).cast(st[args.key_col].dataType)
            )
        sid = cat.delete_rows_mor(spark, args.table, keys, (args.key_col,))
        out = {
            "op": "mor-delete", "table": args.table,
            "key_col": args.key_col, "snapshot_id": sid,
        }
    elif args.op == "compact":
        sid = cat.compact(
            spark,
            args.table,
            partition_by=tuple(args.partition_by),
            target_file_bytes=args.target_file_mb << 20,
            min_files=args.min_files,
            stats_cols=tuple(args.stats_cols),
            sort_by=tuple(args.sort_by),
        )
        out = {"op": "compact", "table": args.table, "snapshot_id": sid}
    elif args.op == "expire":
        n = cat.expire_snapshots(
            args.table, keep_last=args.keep_last,
            older_than_s=args.older_than_s,
        )
        out = {"op": "expire", "table": args.table, "files_deleted": n}
    elif args.op == "remove-orphans":
        removed = cat.remove_orphan_files(
            args.table, older_than_s=args.older_than_s, dry_run=args.dry_run
        )
        out = {
            "op": "remove-orphans", "table": args.table,
            "dry_run": bool(args.dry_run), "files_removed": len(removed),
        }
    elif args.op == "inspect":
        # metadata tables (Iceberg's t.snapshots / t.files): print
        # every row — these are O(manifest), never O(data)
        if args.snapshot is not None and args.what != "files":
            raise SystemExit(
                "--snapshot only applies to --what files (snapshots "
                "always shows the full log)"
            )
        if args.what == "snapshots":
            df = cat.inspect_snapshots(spark, args.table)
        else:
            df = cat.inspect_files(
                spark, args.table, snapshot_id=args.snapshot,
                with_rows=args.with_rows,
            )
        rows = [r.asDict() for r in df.collect()]
        out = {"op": "inspect", "table": args.table, "what": args.what,
               "n": len(rows), "rows": rows}
    elif args.op == "diff":
        # rollup audit: which (source, bucket) cells changed between
        # two snapshots of a tier table, and by how much — the
        # release-diff view of a delete/restate/append (contrast
        # `changes`, which reports row-level CDC; this reports the
        # aggregate-cell deltas a dashboard reader would see).
        from pyspark.sql import functions as F

        from pyreshaper_spark.operators.rollup import rollup_diff

        a = cat.read(
            spark, args.table, snapshot_id=args.from_snapshot,
            allow_empty=True,
        )
        b = cat.read(
            spark, args.table, snapshot_id=args.to_snapshot,
            allow_empty=True,
        )
        d = rollup_diff(a, b).cache()
        summary = d.agg(
            F.count("*").alias("n_cells"),
            F.coalesce(F.sum("d_cnt"), F.lit(0)).alias("d_cnt_total"),
            F.coalesce(F.sum("d_sum"), F.lit(0)).alias("d_sum_total"),
            F.count_distinct("source").alias("n_sources"),
        ).collect()[0]
        out = {
            "op": "diff", "table": args.table,
            "from_snapshot": args.from_snapshot,
            "to_snapshot": args.to_snapshot,
            "n_cells_changed": summary["n_cells"],
            "d_cnt_total": summary["d_cnt_total"],
            "d_sum_total": summary["d_sum_total"],
            "n_sources_touched": summary["n_sources"],
        }
        if args.with_rows:
            out["rows"] = [
                r.asDict()
                for r in d.orderBy("source", "bucket_s").collect()
            ]
        d.unpersist()
    else:  # changes
        ch = cat.read_changes(
            spark,
            args.table,
            from_snapshot_id=args.from_snapshot,
            to_snapshot_id=args.to_snapshot,
            eliminate_carryovers=not args.keep_carryovers,
        )
        from pyspark.sql import functions as F

        counts = {
            r["_change_type"]: r["n"]
            for r in ch.groupBy("_change_type")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        out = {"op": "changes", "table": args.table, "rows": counts}
    print("MAINTAIN " + json.dumps(out))
    return out


if __name__ == "__main__":
    main()
