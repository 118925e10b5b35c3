"""The ingest ledger: the ``series_enc`` snapshot records which input
files it covers, and every pending set is the input listing minus that
ledger.

Covers the listing helper (hidden files, URI form, no Spark job), the
ledger's life across commits, realtime reads with nothing pending, the
old-warehouse error, and two done-set defects of the lineage-derived
design: a fully deleted file coming back on the next append (A), and a
delete swallowing a landed, not yet ingested file (B).
"""

from __future__ import annotations

import json
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pyreshaper_spark.config import EPOCH0, RunConfig, TierSpec
from pyreshaper_spark.operators.encode import decode_series_table
from pyreshaper_spark.operators.gapfill import gapfill_locf
from pyreshaper_spark.plans.delete import delete_docs
from pyreshaper_spark.plans.pipeline import ingest_ledger, run_pipeline
from pyreshaper_spark.sources.iceberglite import IcebergLite
from pyreshaper_spark.sources.readers import file_uri, list_input_files
from pyreshaper_spark.sql import read_rollup

TIERS = (TierSpec("1m", 60), TierSpec("1h", 3600))
AGG = ["source", "bucket_s", "cnt", "sum_n_tok", "min_n_tok", "max_n_tok"]


def land(inp: str, name: str, ids: list[str], t0: int = 0) -> str:
    """Write one input file of docs ``ids``; doc k sits alone in its
    minute, so tier_1m holds one row per doc."""
    n = len(ids)
    table = pa.table({
        "doc_id": ids,
        "tokens": pa.array(
            [[k % 7 + 1] * (k % 5 + 1) for k in range(n)], pa.list_(pa.int32())
        ),
        "n_tok": pa.array([k % 5 + 1 for k in range(n)], pa.int32()),
        "source": [f"s{k % 2}" for k in range(n)],
        "event_s": pa.array(
            [EPOCH0 + (t0 + k) * 60 + 7 for k in range(n)], pa.int64()
        ),
    })
    os.makedirs(inp, exist_ok=True)
    path = os.path.join(inp, name)
    pq.write_table(table, path)
    return path


def _cfg(tmp_path, **kw) -> RunConfig:
    base = dict(
        input_path=str(tmp_path / "in"), output_path=str(tmp_path / "wh"),
        tiers=TIERS, nsalt=1,
    )
    base.update(kw)
    return RunConfig(**base)


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def assert_matches_files(spark, cfg, files: list[str], gone=()):
    """Every tier and the decoded series equal DuckDB over ``files``
    minus the ``gone`` doc_ids."""
    cat = IcebergLite(cfg.output_path)
    con = duckdb.connect()
    lst = ", ".join(f"'{p}'" for p in files)
    excl = ", ".join(f"'{d}'" for d in gone) or "''"
    con.sql(
        f"CREATE VIEW s AS SELECT * FROM read_parquet([{lst}]) "
        f"WHERE doc_id NOT IN ({excl})"
    )
    for t in cfg.tiers:
        w = t.width_s
        want = sorted(con.sql(
            f"SELECT source, event_s - event_s % {w} AS bucket_s, "
            "count(*), sum(n_tok), min(n_tok), max(n_tok) FROM s "
            "GROUP BY 1, 2"
        ).fetchall())
        got = _rows(cat.read(spark, f"tier_{t.name}"), AGG)
        assert got == want, t.name
        if t is not cfg.tiers[0]:
            fill = gapfill_locf(
                spark.createDataFrame(want, ", ".join(
                    f"{c} long" if c != "source" else "source string"
                    for c in AGG
                )), w,
            )
            cols = ["source", "bucket_s", "sum_n_tok"]
            assert _rows(cat.read(spark, f"tier_{t.name}_filled"), cols) == (
                _rows(fill, cols)
            ), f"{t.name}_filled"
    want = sorted(
        (d, list(tok), int(e))
        for d, tok, e in con.sql("SELECT doc_id, tokens, event_s FROM s")
        .fetchall()
    )
    dec = decode_series_table(cat.read(spark, "series_enc"))
    got = sorted(
        (r["doc_id"], list(r["tokens"]), r["event_s"])
        for r in dec.select("doc_id", "tokens", "event_s").collect()
    )
    assert got == want


def test_listing_skips_hidden_files_and_handles_spaces(spark, tmp_path):
    inp = str(tmp_path / "my input")
    spark.range(4).repartition(2).write.parquet(inp)  # _SUCCESS + .crc
    extra = land(os.path.join(inp, "sub dir"), "part x.parquet", ["d0"])
    os.makedirs(os.path.join(inp, "_temporary"))
    open(os.path.join(inp, "_temporary", "part-9.parquet"), "w").close()
    names = sorted(os.listdir(inp))
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)

    cfg = RunConfig(input_path=inp, output_path=str(tmp_path / "wh"))
    listed = list_input_files(cfg)
    spark_files = spark.read.option("recursiveFileLookup", "true").parquet(
        inp
    ).inputFiles()
    assert listed == sorted(spark_files)
    assert len(listed) == 3 and file_uri(extra) in listed
    assert all(u.startswith("file:///") and "%20" in u for u in listed)

    # entries equal the input_file_name() strings of the same rows
    seen = {
        r[0] for r in spark.read.parquet(*(
            os.path.join(d, n) for d, _, ns in os.walk(inp) for n in ns
            if n.endswith(".parquet") and "_temporary" not in d
        )).select(F.input_file_name()).distinct().collect()
    }
    assert seen == set(listed)


def test_listing_launches_no_spark_job(spark, tmp_path):
    land(str(tmp_path / "in"), "a.parquet", ["d0", "d1"])
    sc = spark.sparkContext
    sc.setJobGroup("ledger-listing", "listing must not run a job")
    try:
        listed = list_input_files(_cfg(tmp_path))
        assert sc.statusTracker().getJobIdsForGroup("ledger-listing") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(listed) == 1


def test_ledger_records_scanned_files_and_survives_commits(spark, tmp_path):
    cfg = _cfg(tmp_path, write_mode="append")
    ck = str(tmp_path / "ck.json")
    a = land(cfg.input_path, "a.parquet", [f"a{k}" for k in range(10)])
    run_pipeline(spark, cfg, ck)
    cat = IcebergLite(cfg.output_path)
    led = ingest_ledger(cat)
    assert led["files"] == [file_uri(a)]
    lineage = {
        r[0] for r in cat.read(spark, "series_enc")
        .select(F.explode("input_files")).collect()
    }
    assert lineage == set(led["files"])  # same string form as the lineage
    assert "tokens" in {f["name"] for f in json.loads(led["schema"])["fields"]}

    # nothing pending: the realtime read IS the materialized read
    plain = read_rollup(spark, cfg, 3600)
    rt = read_rollup(spark, cfg, 3600, realtime=True)
    assert _rows(rt, AGG) == _rows(plain, AGG)
    assert not any("/in/" in f for f in rt.inputFiles())

    # an append extends it; a delete and a compaction carry it
    b = land(cfg.input_path, "b.parquet", [f"b{k}" for k in range(4)], 100)
    run_pipeline(spark, cfg, ck)
    want = sorted([file_uri(a), file_uri(b)])
    assert ingest_ledger(cat)["files"] == want
    delete_docs(spark, cfg, ck, ["a1"])
    assert cat.snapshots("series_enc")[-1]["op"] == "replace"
    assert ingest_ledger(cat)["files"] == want
    assert cat.compact(spark, "series_enc", min_files=1) is not None
    assert ingest_ledger(cat)["files"] == want


def test_old_warehouse_without_ledger_names_the_fix(spark, tmp_path):
    cfg = _cfg(tmp_path, write_mode="append")
    ck = str(tmp_path / "ck.json")
    land(cfg.input_path, "a.parquet", ["d0", "d1", "d2"])
    run_pipeline(spark, cfg, ck)
    # strip the ledger, as a warehouse written before it existed
    log_p = os.path.join(cfg.output_path, "series_enc", "metadata",
                         "snapshots.json")
    with open(log_p) as f:
        log = json.load(f)
    for s in log["snapshots"]:
        s.pop("ledger", None)
    with open(log_p, "w") as f:
        json.dump(log, f)
    with pytest.raises(RuntimeError, match='write_mode="overwrite"'):
        run_pipeline(spark, cfg, ck)
    with pytest.raises(RuntimeError, match="no ingest ledger"):
        read_rollup(spark, cfg, 3600, realtime=True)
    run_pipeline(spark, cfg.with_(write_mode="overwrite"), ck)
    assert ingest_ledger(IcebergLite(cfg.output_path))["files"]


def test_deleted_doc_does_not_come_back(spark, tmp_path):
    """Defect A: file b's only doc is deleted, so b left the lineage and
    the next append ingested it again (26 rows instead of 25)."""
    cfg = _cfg(tmp_path, write_mode="append")
    ck = str(tmp_path / "ck.json")
    a = land(cfg.input_path, "a.parquet", [f"a{k}" for k in range(20)])
    b = land(cfg.input_path, "b.parquet", ["x"], 50)
    run_pipeline(spark, cfg, ck)
    delete_docs(spark, cfg, ck, ["x"])
    c = land(cfg.input_path, "c.parquet", [f"c{k}" for k in range(5)], 100)
    run_pipeline(spark, cfg, ck)
    cat = IcebergLite(cfg.output_path)
    assert cat.read(spark, "tier_1m").count() == 25
    assert_matches_files(spark, cfg, [a, b, c], gone=["x"])


def test_delete_keeps_landed_file_pending(spark, tmp_path):
    """Defect B: a delete re-encoded the rows of a landed, not yet
    ingested file into series_enc, so the append skipped that file."""
    cfg = _cfg(tmp_path, write_mode="append")
    ck = str(tmp_path / "ck.json")
    a = land(cfg.input_path, "a.parquet", [f"a{k}" for k in range(20)])
    run_pipeline(spark, cfg, ck)
    b = land(cfg.input_path, "b.parquet", [f"b{k}" for k in range(30)], 100)
    delete_docs(spark, cfg, ck, ["a0"])
    run_pipeline(spark, cfg, ck)
    cat = IcebergLite(cfg.output_path)
    assert cat.read(spark, "tier_1m").count() == 49
    assert_matches_files(spark, cfg, [a, b], gone=["a0"])


def test_iceberglite_input_pending_read_applies_input_deletes(spark, tmp_path):
    """IcebergLite input: the ledger holds the table's live files, and
    the pending files are read through the catalog, so the input
    snapshot's equality deletes still apply."""
    cat_in = IcebergLite(str(tmp_path / "in_cat"))

    def rows(name, ids, t0=0):
        return spark.read.parquet(land(str(tmp_path / "src"), name, ids, t0))

    cat_in.append("seq", rows("a.parquet", [f"a{k}" for k in range(20)]))
    cfg = _cfg(tmp_path, input_path=f"{cat_in.root}::seq",
               input_format="iceberglite", write_mode="append")
    ck = str(tmp_path / "ck.json")
    run_pipeline(spark, cfg, ck)
    cat = IcebergLite(cfg.output_path)
    assert ingest_ledger(cat)["files"] == list_input_files(cfg)

    cat_in.append("seq", rows("c.parquet", [f"c{k}" for k in range(5)], 100))
    cat_in.delete_rows_mor(
        spark, "seq", spark.createDataFrame([("c1",)], "doc_id string"),
        ("doc_id",),
    )
    rt = read_rollup(spark, cfg, 60, realtime=True)
    assert rt.agg(F.sum("cnt")).collect()[0][0] == 24
    run_pipeline(spark, cfg, ck)
    assert cat.read(spark, "tier_1m").agg(F.sum("cnt")).collect()[0][0] == 24
    dec = decode_series_table(cat.read(spark, "series_enc"))
    assert dec.filter(F.col("doc_id") == "c1").count() == 0
    assert ingest_ledger(cat)["files"] == list_input_files(cfg)
