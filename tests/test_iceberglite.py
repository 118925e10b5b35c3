"""IcebergLite snapshot semantics: atomic commit, time travel,
partition overwrite, manifest pruning (SURVEY.md §7.4)."""

from __future__ import annotations

import os

import pytest

from pyreshaper_spark.sources.iceberglite import (
    IcebergLite,
    SnapshotNotFound,
    stats_overlap,
)


@pytest.fixture()
def cat(tmp_path):
    return IcebergLite(str(tmp_path / "warehouse"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "source string, bucket_s long, cnt long")


def test_append_and_time_travel(spark, cat):
    s1 = cat.append("t", _df(spark, [("a", 0, 1)]))
    s2 = cat.append("t", _df(spark, [("b", 60, 2)]))
    assert (s1, s2) == (1, 2)
    assert cat.current_snapshot_id("t") == 2
    assert cat.read(spark, "t").count() == 2
    old = cat.read(spark, "t", snapshot_id=1)
    assert [r["source"] for r in old.collect()] == ["a"]


def test_overwrite_replaces_everything(spark, cat):
    cat.append("t", _df(spark, [("a", 0, 1), ("b", 0, 1)]))
    cat.overwrite("t", _df(spark, [("c", 0, 9)]))
    rows = cat.read(spark, "t").collect()
    assert [r["source"] for r in rows] == ["c"]
    # previous snapshot still readable (time travel survives overwrite)
    assert cat.read(spark, "t", snapshot_id=1).count() == 2


def test_overwrite_partitions(spark, cat):
    cat.overwrite("t", _df(spark, [("a", 0, 1), ("b", 0, 2)]), ("source",))
    cat.overwrite_partitions("t", _df(spark, [("b", 0, 99)]), ("source",))
    got = {r["source"]: r["cnt"] for r in cat.read(spark, "t").collect()}
    assert got == {"a": 1, "b": 99}


def test_manifest_records_partition_tuples(spark, cat):
    cat.overwrite("t", _df(spark, [("a", 0, 1), ("b", 0, 2)]), ("source",))
    assert {
        tuple(sorted(f["partition"].items()))
        for f in cat._snapshot("t", None)["files"]
    } == {
        (("source", "a"),),
        (("source", "b"),),
    }


def test_uncommitted_data_is_invisible(spark, cat):
    """Crash between data write and log commit must not corrupt reads —
    the atomic-commit property."""
    cat.append("t", _df(spark, [("a", 0, 1)]))
    # simulate: data files land but the snapshot log never updates
    orphan = os.path.join(cat._data("t"), "s2")
    _df(spark, [("zz", 0, 123)]).write.parquet(orphan)
    assert cat.current_snapshot_id("t") == 1
    assert [r["source"] for r in cat.read(spark, "t").collect()] == ["a"]


def test_missing_snapshot_raises(spark, cat):
    cat.append("t", _df(spark, [("a", 0, 1)]))
    with pytest.raises(SnapshotNotFound):
        cat.read(spark, "t", snapshot_id=7)


def test_manifest_column_stats_file_skipping(spark, cat):
    """Unpartitioned table + stats_cols: per-file min/max in the
    manifest allow planning-time file skipping (Iceberg-style)."""
    df_a = _df(spark, [("a", 0, 1), ("a", 60, 2)]).repartition(1)
    df_b = _df(spark, [("b", 0, 3)]).repartition(1)
    cat.overwrite("t", df_a, stats_cols=("source",))
    cat.append("t", df_b, stats_cols=("source",))
    snap = cat._snapshot("t", None)
    assert all("stats" in f and "source" in f["stats"] for f in snap["files"])
    only_b = cat.read(
        spark, "t",
        stats_filter=lambda st: st["source"][0] <= "b" <= st["source"][1],
    )
    assert [r["cnt"] for r in only_b.collect()] == [3]


# --------------------------------------------------------------------------
# Maintenance: compaction + snapshot expiry
# --------------------------------------------------------------------------

def _rows(spark, cat, name, **kw):
    return {tuple(r) for r in cat.read(spark, name, **kw).collect()}


def test_compact_binpacks_and_preserves_rows(spark, cat):
    """Many small appends → one rewrite snapshot with fewer files,
    identical rows, and time travel to pre-compaction still works."""
    for i in range(5):
        cat.append(
            "t", _df(spark, [("a", 60 * i, i), ("b", 60 * i, i)]).repartition(2),
            partition_by=("source",),
        )
    before = _rows(spark, cat, "t")
    n_before = len(cat._snapshot("t", None)["files"])
    sid = cat.compact(spark, "t", partition_by=("source",))
    assert sid == 6
    snap = cat._snapshot("t", None)
    assert snap["op"] == "rewrite"
    assert len(snap["files"]) < n_before
    assert _rows(spark, cat, "t") == before
    # the rewrite keeps the partition layout: every file records its key
    assert {f["partition"]["source"] for f in snap["files"]} == {"a", "b"}
    # time travel across the rewrite
    assert _rows(spark, cat, "t", snapshot_id=5) == before
    # idempotent: a second compact finds single-file partitions → no-op
    assert cat.compact(spark, "t", partition_by=("source",)) is None


def test_expire_snapshots_reclaims_dead_files(spark, cat):
    for i in range(4):
        cat.append("t", _df(spark, [("a", 60 * i, i)]))
    cat.compact(spark, "t")
    before = _rows(spark, cat, "t")
    deleted = cat.expire_snapshots("t", keep_last=1)
    assert deleted > 0
    # current snapshot unaffected
    assert _rows(spark, cat, "t") == before
    # expired snapshot ids are gone
    with pytest.raises(SnapshotNotFound):
        cat.read(spark, "t", snapshot_id=2)
    # every surviving manifest path exists on disk; dead ones are gone
    data = cat._data("t")
    live = {f["path"] for f in cat._snapshot("t", None)["files"]}
    import glob as _g

    on_disk = {
        os.path.relpath(p, data)
        for p in _g.glob(os.path.join(data, "**", "*.parquet"), recursive=True)
    }
    assert live <= on_disk and on_disk - live == set()


def test_replace_rows_copy_on_write(spark, cat):
    """Row-level delete + upsert in one commit; files whose manifest
    stats cannot hold a key are carried by reference."""
    keyed = ("source", "bucket_s")
    for rows in ([("a", 1, 10), ("a", 2, 20)], [("b", 1, 5)], [("c", 9, 1)]):
        cat.append("t", _df(spark, rows).coalesce(1), stats_cols=keyed)
    before = {
        f["stats"]["source"][0]: f["path"]
        for f in cat._snapshot("t", None)["files"]
    }
    assert sorted(before) == ["a", "b", "c"]  # one file per source
    keys = spark.createDataFrame(
        [("a", 2)], "source string, bucket_s long"
    )
    repl = _df(spark, [("a", 2, 99), ("a", 3, 7)]).coalesce(1)
    sid, rewritten, untouched = cat.replace_rows(
        spark, "t", keys, keyed, repl,
        stats_filter=lambda st: stats_overlap(st, "source", "a", "a")
        and stats_overlap(st, "bucket_s", 2, 2),
        stats_cols=keyed,
    )
    got = sorted(
        map(tuple, cat.read(spark, "t").select("source", "bucket_s", "cnt").collect())
    )
    assert got == [
        ("a", 1, 10), ("a", 2, 99), ("a", 3, 7), ("b", 1, 5), ("c", 9, 1)
    ]
    assert (rewritten, untouched) == (1, 2)  # b and c files untouched
    after = {f["path"]: f for f in cat._snapshot("t", None)["files"]}
    assert {before["b"], before["c"]} <= set(after)
    assert before["a"] not in after
    # the rewrite records stats on the key columns
    new = [f["stats"] for p, f in after.items() if p not in before.values()]
    assert new and all(st["source"] == ["a", "a"] for st in new)
    assert min(st["bucket_s"][0] for st in new) == 1
    assert max(st["bucket_s"][1] for st in new) == 3
    # pure delete: no replacement, drop everything matching
    allb = spark.createDataFrame([("b",)], "source string")
    _, rewritten, untouched = cat.replace_rows(
        spark, "t", allb, ("source",), None,
        stats_filter=lambda st: stats_overlap(st, "source", "b", "b"),
    )
    assert (rewritten, untouched) == (1, 3)  # only b's file
    assert cat.read(spark, "t").filter("source = 'b'").count() == 0
    assert before["c"] in {f["path"] for f in cat._snapshot("t", None)["files"]}
    # time travel across the replace still sees the original rows
    assert (
        cat.read(spark, "t", snapshot_id=1)
        .filter("source = 'a' and bucket_s = 2").collect()[0]["cnt"] == 20
    )


def test_read_changes_append_only_is_o_of_new_data(spark, cat):
    cat.append("t", _df(spark, [("a", 0, 1)]))
    cat.append("t", _df(spark, [("b", 60, 2), ("c", 120, 3)]))
    ch = cat.read_changes(spark, "t", from_snapshot_id=1)
    rows = {(r["source"], r["_change_type"]) for r in ch.collect()}
    assert rows == {("b", "insert"), ("c", "insert")}


def test_read_changes_detects_deletes_and_upserts(spark, cat):
    cat.append("t", _df(spark, [("a", 0, 1), ("b", 60, 2)]))
    keys = spark.createDataFrame([("a",)], "source string")
    cat.replace_rows(
        spark, "t", keys, ("source",),
        replacement=_df(spark, [("a", 0, 99)]),
    )
    ch = cat.read_changes(spark, "t", from_snapshot_id=1)
    got = {(r["source"], r["cnt"], r["_change_type"]) for r in ch.collect()}
    # b rode through the rewrite (carryover) → cancelled; a is del+ins
    assert got == {("a", 1, "delete"), ("a", 99, "insert")}


def test_read_changes_compaction_is_empty(spark, cat):
    cat.append("t", _df(spark, [("a", 0, 1)]))
    cat.append("t", _df(spark, [("b", 60, 2)]))
    cat.compact(spark, "t")
    ch = cat.read_changes(spark, "t", from_snapshot_id=2)
    assert ch.count() == 0
    # without carryover elimination the rewrite is visible
    raw = cat.read_changes(
        spark, "t", from_snapshot_id=2, eliminate_carryovers=False
    )
    assert raw.count() == 4


def test_read_changes_between_pinned_snapshots(spark, cat):
    cat.append("t", _df(spark, [("a", 0, 1)]))
    cat.append("t", _df(spark, [("b", 60, 2)]))
    cat.append("t", _df(spark, [("c", 120, 3)]))
    ch = cat.read_changes(spark, "t", from_snapshot_id=1, to_snapshot_id=2)
    assert {r["source"] for r in ch.collect()} == {"b"}
    same = cat.read_changes(spark, "t", from_snapshot_id=2, to_snapshot_id=2)
    assert same.count() == 0 and "_change_type" in same.columns


def test_schema_evolution_add_column_null_fills(spark, cat):
    cat.append("t", _df(spark, [("a", 0, 1)]))
    evolved = spark.createDataFrame(
        [("b", 60, 2, "fr")],
        "source string, bucket_s long, cnt long, lang string",
    )
    cat.append("t", evolved)
    got = {r["source"]: r["lang"] for r in cat.read(spark, "t").collect()}
    assert got == {"a": None, "b": "fr"}
    # time travel to the pre-evolution snapshot keeps the old schema
    assert "lang" not in cat.read(spark, "t", snapshot_id=1).columns
    ch = cat.read_changes(spark, "t", from_snapshot_id=1)
    r = ch.collect()
    assert len(r) == 1 and r[0]["lang"] == "fr"


def test_sorted_compaction_enables_stats_pruning(spark, cat):
    # unsorted appends: every file spans the whole bucket_s range, so
    # a range stats_filter cannot skip anything
    import pyspark.sql.functions as SF

    rows = [(f"s{i % 3}", (i * 37) % 1000, i) for i in range(60)]
    df = spark.createDataFrame(rows, "source string, bucket_s long, cnt long")
    for chunk in range(4):
        cat.append(
            "t",
            df.filter(SF.pmod("cnt", SF.lit(4)) == chunk).repartition(2),
            stats_cols=("bucket_s",),
        )
    pred = lambda st: st["bucket_s"][0] <= 100 and st["bucket_s"][1] >= 50
    before = cat._snapshot("t", None)["files"]
    frac_before = sum(1 for f in before if pred(f["stats"])) / len(before)

    sid = cat.compact(
        spark, "t", target_file_bytes=4096, min_files=1,
        stats_cols=("bucket_s",), sort_by=("bucket_s",),
    )
    assert sid is not None
    after = cat._snapshot("t", None)["files"]
    assert len(after) > 1
    # sorted rewrite → narrow non-overlapping ranges → the [50,100]
    # window matches a strictly smaller share of files than before
    frac_after = sum(1 for f in after if pred(f["stats"])) / len(after)
    assert frac_after < frac_before
    # the pruned read returns exactly the rows in range
    got = cat.read(spark, "t", stats_filter=pred).filter(
        (SF.col("bucket_s") >= 50) & (SF.col("bucket_s") <= 100)
    )
    want = df.filter((SF.col("bucket_s") >= 50) & (SF.col("bucket_s") <= 100))
    assert sorted(got.collect()) == sorted(want.collect())
    # lossless: full read unchanged
    assert cat.read(spark, "t").count() == 60


def test_commit_gate_blocks_snapshot_on_raise(spark, cat):
    """The write→gate→commit split: a raising gate leaves the data
    files orphaned and the table state UNCHANGED (append and overwrite
    alike); a later successful write reuses the sid cleanly."""
    cat.append("t", _df(spark, [("a", 0, 1)]))

    def boom():
        raise RuntimeError("validation failed")

    with pytest.raises(RuntimeError, match="validation failed"):
        cat.append("t", _df(spark, [("b", 60, 2)]), gate=boom)
    with pytest.raises(RuntimeError, match="validation failed"):
        cat.overwrite("t", _df(spark, [("c", 120, 3)]), gate=boom)
    assert cat.current_snapshot_id("t") == 1
    assert [r["source"] for r in cat.read(spark, "t").collect()] == ["a"]
    # gate that passes: commit proceeds, and the retried sid's data dir
    # (written by the failed attempts) is safely overwritten
    calls = []
    sid = cat.append("t", _df(spark, [("d", 180, 4)]), gate=lambda: calls.append(1))
    assert sid == 2 and calls == [1]
    assert sorted(r["source"] for r in cat.read(spark, "t").collect()) == ["a", "d"]


def test_remove_orphan_files(spark, cat):
    """Orphan GC: files no snapshot references (aborted gated commits,
    _SUCCESS markers) are swept; live files and reads are untouched;
    the mtime grace window protects in-flight commits."""
    cat.append("t", _df(spark, [("a", 0, 1)]))

    def boom():
        raise RuntimeError("validation failed")

    with pytest.raises(RuntimeError):
        cat.append("t", _df(spark, [("b", 60, 2)]), gate=boom)
    data = cat._data("t")
    live = {
        f["path"] for s in cat._read_log("t")["snapshots"] for f in s["files"]
    }
    orphan_parts = [
        os.path.relpath(p, data)
        for p in __import__("glob").glob(
            os.path.join(data, "s2", "**", "*.parquet"), recursive=True
        )
    ]
    assert orphan_parts and not set(orphan_parts) & live

    # dry run: reports, deletes nothing
    would = cat.remove_orphan_files("t", older_than_s=0, dry_run=True)
    assert set(orphan_parts) <= set(would)
    assert all(os.path.exists(os.path.join(data, r)) for r in would)

    removed = cat.remove_orphan_files("t", older_than_s=0)
    assert set(removed) == set(would)
    assert not any(os.path.exists(os.path.join(data, r)) for r in removed)
    # live data intact, table reads unchanged
    assert all(os.path.exists(os.path.join(data, r)) for r in live)
    assert [r["source"] for r in cat.read(spark, "t").collect()] == ["a"]

    # grace window: a fresh orphan (simulated in-flight commit) survives
    with pytest.raises(RuntimeError):
        cat.append("t", _df(spark, [("c", 120, 3)]), gate=boom)
    assert cat.remove_orphan_files("t", older_than_s=3600) == []
    assert cat.remove_orphan_files("t", older_than_s=0, dry_run=True) != []

    with pytest.raises(ValueError):
        cat.remove_orphan_files("t", older_than_s=-1)


def test_expire_snapshots_older_than_composes_with_keep_last(spark, cat):
    """Iceberg's retain_last AND older_than composition: a snapshot
    younger than the age cutoff is retained even past keep_last; old
    ones beyond keep_last expire."""
    import time

    for i in range(4):
        cat.append("t", _df(spark, [("a", 60 * i, i)]))
    # back-date snapshots 1 and 2; leave 3 and 4 fresh
    log = cat._read_log("t")
    for s in log["snapshots"]:
        if s["id"] <= 2:
            s["ts"] = time.time() - 1000.0
    cat._write_log("t", log)
    # nothing older than 1h → no-op even with keep_last=1
    assert cat.expire_snapshots("t", keep_last=1, older_than_s=3600) == 0
    assert cat.read(spark, "t", snapshot_id=1).count() == 1
    # 500s cutoff: snapshots 1-2 eligible, 3 kept by age, 4 by count
    cat.expire_snapshots("t", keep_last=1, older_than_s=500)
    with pytest.raises(SnapshotNotFound):
        cat.read(spark, "t", snapshot_id=1)
    assert cat.read(spark, "t", snapshot_id=3).count() == 3
    assert cat.read(spark, "t").count() == 4
    with pytest.raises(ValueError):
        cat.expire_snapshots("t", older_than_s=-1)


def test_partition_spec_evolution(spark, cat):
    """Iceberg partition evolution: commits written under DIFFERENT
    partition specs coexist in one table. Each commit group reads with
    its own basePath (hive columns recovered per spec), and the
    manifest records each file's partition under its own spec (files
    from the pre-partitioned spec carry no key)."""
    rows1 = [("a", 0, 1), ("b", 60, 2)]
    rows2 = [("a", 120, 3), ("c", 180, 4)]
    cat.append("t", _df(spark, rows1))  # spec v1: unpartitioned
    cat.append("t", _df(spark, rows2), partition_by=("source",))  # spec v2
    got = {
        (r["source"], r["bucket_s"], r["cnt"])
        for r in cat.read(spark, "t").collect()
    }
    assert got == set(rows1) | set(rows2)
    srcs = {f["partition"].get("source")
            for f in cat._snapshot("t", None)["files"]}
    assert srcs == {None, "a", "c"}  # manifest carries both specs


# -- metadata / inspection tables ------------------------------------------


def test_inspect_snapshots(spark, cat):
    s1 = cat.append("t", _df(spark, [("a", 0, 1)]))
    s2 = cat.append("t", _df(spark, [("b", 60, 2)]))
    df = cat.inspect_snapshots(spark, "t")
    assert df.columns == [
        "snapshot_id", "parent_id", "operation", "committed_at_s",
        "is_current", "n_data_files", "n_delete_files",
    ]
    snaps = {r["snapshot_id"]: r for r in df.collect()}
    assert set(snaps) == {s1, s2}
    assert snaps[s2]["is_current"] and not snaps[s1]["is_current"]
    assert snaps[s1]["parent_id"] == 0 and snaps[s2]["parent_id"] == s1
    assert snaps[s2]["n_data_files"] > snaps[s1]["n_data_files"]
    assert {r["operation"] for r in snaps.values()} == {"append"}


def test_inspect_files_contents_and_rows(spark, cat):
    cat.append("t", _df(spark, [("a", 0, 1), ("b", 0, 2)]),
               partition_by=("source",), stats_cols=("bucket_s",))
    keys = spark.createDataFrame([("a",)], "source string")
    cat.delete_rows_mor(spark, "t", keys, ("source",))
    files = cat.inspect_files(spark, "t", with_rows=True).collect()
    data = [r for r in files if r["content"] == "data"]
    dels = [r for r in files if r["content"] == "equality-deletes"]
    assert data and dels
    assert {r["partition"]["source"] for r in data} == {"a", "b"}
    assert all(r["record_count"] == 1 for r in data)
    assert all("bucket_s" in r["stats"] for r in data)
    # delete entries carry the commit seq that gates their application
    assert all(r["seq"] == 2 for r in dels)
    # time travel: the pre-delete snapshot has no delete files
    before = cat.inspect_files(spark, "t", snapshot_id=1).collect()
    assert all(r["content"] == "data" for r in before)
    # record_count is opt-in: default leaves it NULL (no footer reads)
    lazy = cat.inspect_files(spark, "t").collect()
    assert all(r["record_count"] is None for r in lazy)


def test_inspect_cli_roundtrip(spark, cat, tmp_path):
    from jobs.maintain_job import main as maintain
    from jobs.make_config import main as mkcfg

    cat.append("t", _df(spark, [("a", 0, 1)]))
    cfg_p = str(tmp_path / "run.json")
    mkcfg([
        "--input", str(tmp_path / "unused"), "--output", cat.root,
        "--tiers", "1m:60", "-o", cfg_p,
    ])
    ck = str(tmp_path / "ck.json")
    out = maintain([
        "--config", cfg_p, "--checkpoint", ck, "inspect",
        "--table", "t", "--what", "snapshots",
    ])
    got = {r["snapshot_id"]: r["is_current"] for r in out["rows"]}
    assert got == {1: True}
    out = maintain([
        "--config", cfg_p, "--checkpoint", ck, "inspect",
        "--table", "t", "--what", "files", "--with-rows",
    ])
    assert out["n"] >= 1
    assert all(r["record_count"] is not None for r in out["rows"])


def test_mixture_empty_budget_rejected(spark):
    import pytest as _pytest

    from pyreshaper_spark.operators import sampling as S

    df = spark.range(1)
    for fn in (lambda: S.mix_sources(df, {}),
               lambda: S.mix_sources_sql({}),
               lambda: S.mix_token_budget(df, {}),
               lambda: S.mix_token_budget_sql({}),
               lambda: S.mix_quality_budget(df, {}, max_df=2),
               lambda: S.mix_quality_budget_sql({}, max_df=2)):
        with _pytest.raises(ValueError, match="non-empty"):
            fn()


def test_partition_column_type_survives_directory_roundtrip(spark, cat):
    """Hive directory recovery type-infers partition values (a string
    '7' comes back int) — reads must cast back to the commit's recorded
    schema, or numeric-string keys silently change type (and MOR
    delete anti-joins on them stop matching)."""
    df = spark.createDataFrame(
        [("7", 1), ("8", 2)], "doc_id string, v long"
    )
    cat.append("t", df, partition_by=("doc_id",))
    got = cat.read(spark, "t")
    assert dict(got.dtypes)["doc_id"] == "string"
    # MOR delete keyed on the partitioned string column still matches
    keys = spark.createDataFrame([("7",)], "doc_id string")
    cat.delete_rows_mor(spark, "t", keys, ("doc_id",))
    assert {r["doc_id"] for r in cat.read(spark, "t").collect()} == {"8"}


def test_partition_value_text_survives_directory_roundtrip(spark, cat):
    """Numeric-LOOKING string partition values must come back with
    their exact text, not the canonical rendering of an inferred
    numeric ('00' ≠ '0', '1.50' ≠ '1.5') — regression for the
    infer-then-cast-back read, which could not recover the original
    text. Fixed by reading each commit with its recorded schema."""
    df = spark.createDataFrame(
        [("00", 1), ("07", 2), ("1.50", 3)], "source string, v long"
    )
    cat.append("t", df, partition_by=("source",))
    got = cat.read(spark, "t")
    assert dict(got.dtypes)["source"] == "string"
    assert {r["source"] for r in got.collect()} == {"00", "07", "1.50"}


def test_append_after_staged_only_log(spark, cat):
    """A log written by an older version may hold a staged snapshot
    above ``current`` (current == 0 on a staged-only table): the next
    commit takes a fresh id that never collides with the staged one."""
    df = _df(spark, [("a", 0, 1)])
    # staged-only log: the appended snapshot is recorded without
    # advancing current, as stage=True commits of older versions did
    s_staged = cat.append("t2", df)
    log = cat._read_log("t2")
    log["current"] = 0
    log["snapshots"][0]["staged"] = True
    cat._write_log("t2", log)
    assert not cat.exists("t2")
    c2 = cat.append("t2", _df(spark, [("b", 60, 2)]))
    assert c2 == s_staged + 1
    assert cat.exists("t2")
    assert [r["source"] for r in cat.read(spark, "t2").collect()] == ["b"]
    # the staged snapshot stays readable by id and its data is intact
    old = cat.read(spark, "t2", snapshot_id=s_staged)
    assert [r["source"] for r in old.collect()] == ["a"]


def test_append_once_commit_dedup(spark, tmp_path):
    """A replayed commit key no-ops before writing any data."""
    cat = IcebergLite(str(tmp_path / "wh"))
    df = spark.createDataFrame([("d1", 1)], "doc_id string, v long")
    s1 = cat.append_once("t", df, key="sink:0")
    s2 = cat.append_once("t", df, key="sink:0")  # replay
    assert s1 == s2
    assert cat.read(spark, "t").count() == 1
    s3 = cat.append_once("t", df, key="sink:1")  # a NEW epoch appends
    assert s3 > s1
    assert cat.read(spark, "t").count() == 2


def test_append_once_empty_epoch_commits_nothing(spark, tmp_path):
    """An empty micro-batch must not grow the snapshot log (no empty
    snapshot, no commit key) — detected from the written file list, so
    the foreachBatch sink needs no per-batch isEmpty() pre-scan."""
    cat = IcebergLite(str(tmp_path / "wh"))
    df = spark.createDataFrame([("d1", 1)], "doc_id string, v long")
    s1 = cat.append_once("t", df, key="sink:0")
    empty = df.filter("v < 0")
    s2 = cat.append_once("t", empty, key="sink:1")
    assert s2 == s1  # head unchanged — no new snapshot
    log_snaps = [
        s["id"] for s in cat._read_log("t")["snapshots"]
    ]
    assert log_snaps == [s1]
    # the skipped epoch's key is NOT burned: a later non-empty retry
    # of the same epoch id still lands
    s3 = cat.append_once("t", df, key="sink:1")
    assert s3 > s1
    assert cat.read(spark, "t").count() == 2


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_key_frames_and_pruned_reads_run_no_python(spark, cat):
    """The delete's key frames and a fully pruned ``allow_empty`` read
    are JVM local relations: an RDD of pickled rows (``Scan
    ExistingRDD``) would launch Python worker tasks in every job that
    reads it."""
    from pyreshaper_spark.plans.delete import _resolve_ids
    from pyreshaper_spark.session import local_frame

    ids = _resolve_ids(spark, ["d2", "d1", "d2", 7])
    keys = local_frame(spark, "source string", [("a",), ("b",)])
    for df in (ids, keys):
        p = _physical(df)
        assert "LocalTableScan" in p and "ExistingRDD" not in p, p
    assert sorted(r["doc_id"] for r in ids.collect()) == ["7", "d1", "d2"]
    assert ids.schema.simpleString() == "struct<doc_id:string>"

    cat.append("t", spark.createDataFrame(
        [("a", [1, 2], b"\x01", 5)],
        "source string, tokens array<int>, payload binary, n long",
    ))
    empty = cat.read(spark, "t", path_filter=lambda p: False,
                     allow_empty=True)
    p = _physical(empty)
    assert "LocalTableScan" in p and "ExistingRDD" not in p, p
    assert empty.collect() == []
    assert empty.schema == cat.read(spark, "t").schema
