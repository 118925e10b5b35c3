"""The tier layout: every ``tier_*``, ``tier_*_filled`` and retention
commit is one unpartitioned write sorted on (source, bucket_s), with
manifest min/max stats on both columns.

Covers the file count and stats of every commit, ``maintain`` keeping
those stats, and a warehouse whose tier tables an older version wrote
hive-partitioned by source: reads stay exact, and a delete plus an
append cycle converge to a from-scratch run in the current layout.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pyreshaper_spark.config import EPOCH0, RunConfig, TierSpec
from pyreshaper_spark.operators.encode import decode_series_table
from pyreshaper_spark.plans.delete import delete_docs
from pyreshaper_spark.plans.pipeline import maintain, run_pipeline
from pyreshaper_spark.sources.iceberglite import IcebergLite
from pyreshaper_spark.sql import read_rollup

TIERS = (
    TierSpec("1m", 60, retention_buckets=200),
    TierSpec("10m", 600),
    TierSpec("1h", 3600),
)
AGG = ["source", "bucket_s", "cnt", "sum_n_tok", "min_n_tok", "max_n_tok"]


def land(inp: str, name: str, first: int, n: int) -> str:
    """One input file of docs ``d<first>`` … over three sources, one doc
    every 97 s."""
    ks = range(first, first + n)
    table = pa.table({
        "doc_id": [f"d{k}" for k in ks],
        "tokens": pa.array(
            [[k % 7 + 1] * (k % 5 + 1) for k in ks], pa.list_(pa.int32())
        ),
        "n_tok": pa.array([k % 5 + 1 for k in ks], pa.int32()),
        "source": [f"s{k % 3}" for k in ks],
        "event_s": pa.array([EPOCH0 + k * 97 for k in ks], pa.int64()),
    })
    os.makedirs(inp, exist_ok=True)
    path = os.path.join(inp, name)
    pq.write_table(table, path)
    return path


def _cfg(root, name="", **kw) -> RunConfig:
    base = dict(
        input_path=str(root / f"in{name}"),
        output_path=str(root / f"wh{name}"),
        tiers=TIERS, nsalt=2,
    )
    base.update(kw)
    return RunConfig(**base)


def tier_tables(cat: IcebergLite) -> list[str]:
    return [t for t in cat.list_tables() if t.startswith("tier_")]


def assert_entry_stats_exact(cat: IcebergLite, table: str, snap: dict):
    """Every entry of ``snap`` is unpartitioned and carries ``source``
    and ``bucket_s`` stats equal to its rows' min and max."""
    for f in snap["files"]:
        assert {"source", "bucket_s"} <= set(f.get("stats", {})), (
            table, f["path"], f.get("stats"),
        )
        assert f["partition"] == {}, (table, f["path"])
        rows = pq.read_table(
            os.path.join(cat._data(table), f["path"]),
            columns=["source", "bucket_s"],
        )
        assert rows.num_rows > 0, (table, f["path"])
        for c in ("source", "bucket_s"):
            vals = rows.column(c).to_pylist()
            assert f["stats"][c] == [min(vals), max(vals)], (table, c)


def _rows(df, cols=None):
    cols = cols or sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_each_tier_commit_writes_one_file_with_stats(spark, tmp_path):
    cfg = _cfg(tmp_path)
    land(cfg.input_path, "a.parquet", 0, 400)
    run_pipeline(spark, cfg, str(tmp_path / "ck.json"))
    cat = IcebergLite(cfg.output_path)
    names = tier_tables(cat)
    assert names == [
        "tier_10m", "tier_10m_filled", "tier_1h", "tier_1h_filled",
        "tier_1m",
    ]
    # tier_1m holds its tier commit and its retention commit
    assert [s["op"] for s in cat.snapshots("tier_1m")] == [
        "overwrite", "overwrite"
    ]
    for t in names:
        for snap in cat.snapshots(t):
            assert len(snap["files"]) == 1, (t, snap["id"])
            assert_entry_stats_exact(cat, t, snap)
        # the single file is sorted on (source, bucket_s)
        f = cat._snapshot(t, None)["files"][0]["path"]
        keys = pq.read_table(
            os.path.join(cat._data(t), f), columns=["source", "bucket_s"]
        ).to_pylist()
        got = [(k["source"], k["bucket_s"]) for k in keys]
        assert got == sorted(got), t


def test_maintain_keeps_tier_stats(spark, tmp_path):
    """``maintain`` used to compact tier tables with no stats columns,
    so the rewritten files lost the stats ``read_tier`` prunes on."""
    cfg = _cfg(tmp_path, write_mode="append")
    ck = str(tmp_path / "ck.json")
    land(cfg.input_path, "a.parquet", 0, 300)
    run_pipeline(spark, cfg, ck)
    land(cfg.input_path, "b.parquet", 300, 100)
    run_pipeline(spark, cfg, ck)
    cat = IcebergLite(cfg.output_path)
    before = {t: _rows(cat.read(spark, t)) for t in tier_tables(cat)}

    report = maintain(spark, cfg, target_file_bytes=1024, min_files=1)
    for t in tier_tables(cat):
        assert report[t]["compacted_snapshot"] is not None, t
        assert_entry_stats_exact(cat, t, cat._snapshot(t, None))
        assert _rows(cat.read(spark, t)) == before[t], t
    # the small target size made tier_1m several range-clustered files
    assert len(cat._snapshot("tier_1m", None)["files"]) > 1


def _duckdb_rollup(files: list[str], width: int, gone=()) -> list[tuple]:
    con = duckdb.connect()
    lst = ", ".join(f"'{p}'" for p in files)
    excl = ", ".join(f"'{d}'" for d in gone) or "''"
    return sorted(con.sql(
        f"SELECT source, event_s - event_s % {width} AS bucket_s, "
        "count(*), sum(n_tok), min(n_tok), max(n_tok) "
        f"FROM read_parquet([{lst}]) WHERE doc_id NOT IN ({excl}) "
        "GROUP BY 1, 2"
    ).fetchall())


def test_hive_partitioned_warehouse_converges(spark, tmp_path):
    """Tier tables written hive-partitioned by source, as an older
    version wrote them: plain and realtime reads equal DuckDB, and a
    delete plus an append cycle converge to a from-scratch run with
    every tier table in the current layout."""
    cfg = _cfg(tmp_path, write_mode="append")
    ck = str(tmp_path / "ck.json")
    a = land(cfg.input_path, "a.parquet", 0, 300)
    run_pipeline(spark, cfg, ck)
    cat = IcebergLite(cfg.output_path)
    for t in tier_tables(cat):
        cat.overwrite(
            t, cat.read(spark, t), ("source",), stats_cols=("bucket_s",)
        )
        files = cat._snapshot(t, None)["files"]
        assert len(files) == 3 and all(f["partition"] for f in files), t
    b = land(cfg.input_path, "b.parquet", 300, 60)  # pending

    for w in (600, 3600):
        assert _rows(read_rollup(spark, cfg, w), AGG) == (
            _duckdb_rollup([a], w)
        )
        assert _rows(read_rollup(spark, cfg, w, realtime=True), AGG) == (
            _duckdb_rollup([a, b], w)
        )
    t0, t1 = EPOCH0 + 3600, EPOCH0 + 5 * 3600
    got = read_rollup(
        spark, cfg, 600, sources=["s1"], t_min=t0, t_max=t1, realtime=True
    )
    want = [
        r for r in _duckdb_rollup([a, b], 600)
        if r[0] == "s1" and t0 <= r[1] < t1
    ]
    assert want and _rows(got, AGG) == want

    victims = ["d4", "d5", "d100", "d101", "d102"]
    delete_docs(spark, cfg, ck, victims)
    run_pipeline(spark, cfg, ck)

    ref = _cfg(tmp_path, "_ref")
    ref_in = spark.read.parquet(a, b).filter(~F.col("doc_id").isin(victims))
    ref_in.write.parquet(ref.input_path)
    run_pipeline(spark, ref, str(tmp_path / "ref_ck.json"))
    rcat = IcebergLite(ref.output_path)
    assert tier_tables(cat) == tier_tables(rcat)
    for t in tier_tables(cat) + ["meta_source"]:
        assert _rows(cat.read(spark, t)) == _rows(rcat.read(spark, t)), t
    for t in tier_tables(cat):
        snap = cat._snapshot(t, None)
        assert len(snap["files"]) == 1, t
        assert_entry_stats_exact(cat, t, snap)
    got = decode_series_table(cat.read(spark, "series_enc"))
    want = decode_series_table(rcat.read(spark, "series_enc"))
    cols = ["doc_id", "source", "event_s", "tokens"]
    assert _rows(got, cols) == _rows(want, cols)
