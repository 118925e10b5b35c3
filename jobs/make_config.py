"""``s2smake`` analog: build + validate a RunConfig JSON job spec.

    python jobs/make_config.py --input /path/sequences --output /path/warehouse \
        --tiers 1m:60 10m:600 1h:3600 1d:86400 --nsalt 8 -o run.json

Mirrors the reference CLI [U: scripts/s2smake → create_specifier →
Specifier.validate → Specifier.write]: arguments → validated spec →
serialized job file consumed by jobs/rollup_job.py. ``--input`` is a
parquet directory; the spec's tables are the count/sum/min/max tiers,
their gap-filled versions, ``meta_source``, ``series_enc`` and
``metrics`` (plus ``fidelity`` with ``--verify-fidelity``).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyreshaper_spark.config import RunConfig, TierSpec  # noqa: E402


def parse_tier(s: str) -> TierSpec:
    parts = s.split(":")
    if len(parts) == 2:
        return TierSpec(parts[0], int(parts[1]))
    if len(parts) == 3:  # name:width:retention_buckets
        return TierSpec(parts[0], int(parts[1]), int(parts[2]))
    raise argparse.ArgumentTypeError(f"bad tier spec {s!r} (name:width[:keep])")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sequences table path")
    ap.add_argument("--output", required=True, help="IcebergLite warehouse root")
    ap.add_argument("--tiers", nargs="+", type=parse_tier, default=None)
    ap.add_argument("--nsalt", type=int, default=8)
    ap.add_argument("--write-mode", default="skip",
                    choices=["skip", "overwrite", "append"])
    ap.add_argument("--source-limit", type=int, default=None,
                    help="cap series processed (convert output_limit analog)")
    ap.add_argument("--verify-fidelity", action="store_true")
    ap.add_argument("--once", action="store_true", dest="meta_once",
                    help="once-file mode: metadata only in meta_source")
    ap.add_argument("-o", "--spec", required=True, help="output spec JSON path")
    args = ap.parse_args(argv)

    kw = dict(
        input_path=args.input,
        output_path=args.output,
        nsalt=args.nsalt,
        write_mode=args.write_mode,
        source_limit=args.source_limit,
        verify_fidelity=args.verify_fidelity,
        meta_once=args.meta_once,
    )
    if args.tiers is not None:
        kw["tiers"] = tuple(args.tiers)
    cfg = RunConfig(**kw).validate()
    cfg.write(args.spec)
    print(f"wrote {args.spec}:\n{cfg.to_json()}")


if __name__ == "__main__":
    main(sys.argv[1:])
