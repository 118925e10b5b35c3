"""Crash injection at every catalog commit boundary.

One append cycle (``overlap=False``) and the ``series_enc`` commit of
``delete_docs`` are crashed at each commit, at two points:

* ``pre``  — after the data write, before the ``snapshots.json`` replace;
* ``post`` — after the replace, before the next checkpoint save (for
  ``delete_docs``, which saves no checkpoint: right after the replace).

After each crash the operation is rerun, and every table and the
ingest ledger must equal a from-scratch run. The engine has no hook for
this: the test patches ``IcebergLite._commit`` and ``Checkpoint.save``.
"""

from __future__ import annotations

import os
import shutil

import pytest

from pyreshaper_spark.config import RunConfig, TierSpec
from pyreshaper_spark.operators.encode import decode_series_table
from pyreshaper_spark.plans.checkpoint import Checkpoint
from pyreshaper_spark.plans.delete import delete_docs
from pyreshaper_spark.plans.pipeline import ingest_ledger, run_pipeline
from pyreshaper_spark.sources.iceberglite import IcebergLite
from tests.test_ingest_ledger import land

TIERS = (TierSpec("1m", 60), TierSpec("1h", 3600))
TABLES = ("meta_source", "tier_1m", "tier_1h", "tier_1h_filled")
VICTIMS = ["a3", "b1"]


class Crash(Exception):
    pass


class Injector:
    """Crashes the ``target``-th commit (0-based) of the patched run."""

    def __init__(self, monkeypatch, target: int, kind: str, table=None):
        self.target, self.kind, self.table = target, kind, table
        self.n = 0
        self.armed = False  # post: the next checkpoint save crashes
        commit, save = IcebergLite._commit, Checkpoint.save
        inj = self

        def _commit(cat, name, *a, **kw):
            hit = (inj.table in (None, name)) and inj.n == inj.target
            if inj.table in (None, name):
                inj.n += 1
            if hit and inj.kind == "pre":
                raise Crash(f"before log replace of {name}")
            sid = commit(cat, name, *a, **kw)
            if hit:
                if inj.table is not None:
                    raise Crash(f"after log replace of {name}")
                inj.armed = True
            return sid

        def _save(ck, path):
            if inj.armed:
                inj.armed = False
                raise Crash("before checkpoint save")
            save(ck, path)

        monkeypatch.setattr(IcebergLite, "_commit", _commit)
        monkeypatch.setattr(Checkpoint, "save", _save)


def _state(spark, out):
    cat = IcebergLite(out)
    tables = {
        t: sorted(tuple(r) for r in cat.read(spark, t).collect())
        for t in TABLES
    }
    tables["series"] = sorted(
        tuple(r) for r in decode_series_table(cat.read(spark, "series_enc"))
        .select("doc_id", "source", "n_tok", "event_s").collect()
    )
    metrics = cat.read(spark, "metrics").groupBy().sum("n").collect()[0][0]
    return tables, ingest_ledger(cat)["files"], metrics


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    """A built warehouse plus one landed file (the cycle's input), and
    the from-scratch answers after the cycle and after the delete."""
    root = tmp_path_factory.mktemp("crash")
    base = root / "base"
    inp = str(base / "in")
    land(inp, "a.parquet", [f"a{k}" for k in range(12)])
    land(inp, "b.parquet", [f"b{k}" for k in range(6)], 40)
    cfg = RunConfig(
        input_path=inp, output_path=str(base / "wh"), tiers=TIERS,
        nsalt=2, write_mode="append",
    )
    run_pipeline(spark, cfg, str(base / "ck.json"))
    land(inp, "c.parquet", [f"c{k}" for k in range(5)], 90)
    shutil.copytree(base, root / "pristine")

    fresh = root / "fresh"
    shutil.copytree(inp, fresh / "in")
    fcfg = cfg.with_(input_path=str(fresh / "in"),
                     output_path=str(fresh / "wh"), write_mode="overwrite")
    run_pipeline(spark, fcfg, str(fresh / "ck.json"))
    want_cycle = _state(spark, fcfg.output_path)
    delete_docs(spark, fcfg, str(fresh / "ck.json"), VICTIMS)
    want_delete = _state(spark, fcfg.output_path)
    return {"root": root, "base": base, "cfg": cfg,
            "want_cycle": want_cycle, "want_delete": want_delete}


def restore(world, name: str = "pristine") -> None:
    """Put a saved state back at the base's paths (ledger entries are
    absolute paths, so the state cannot move)."""
    shutil.rmtree(world["base"])
    shutil.copytree(world["root"] / name, world["base"])


def _commits_of(fn, monkeypatch) -> int:
    inj = Injector(monkeypatch, -1, "pre")
    fn()
    monkeypatch.undo()
    return inj.n


def _relabel(state):
    # the ledger names the base's input dir; the fresh run's names its own
    tables, files, metrics = state
    return tables, [os.path.basename(f) for f in files], metrics


def test_append_cycle_converges_after_every_crash(spark, world, monkeypatch):
    cfg, ck = world["cfg"], str(world["base"] / "ck.json")
    cycle = lambda: run_pipeline(spark, cfg, ck)  # noqa: E731
    restore(world)
    n = _commits_of(cycle, monkeypatch)
    assert n >= 6  # meta, 2 tiers, filled, series_enc, metrics
    want = _relabel(world["want_cycle"])
    for target in range(n):
        for kind in ("pre", "post"):
            restore(world)
            Injector(monkeypatch, target, kind)
            with pytest.raises(Crash):
                cycle()
            monkeypatch.undo()
            cycle()
            assert Checkpoint.load(ck).cycle is None
            got = _relabel(_state(spark, cfg.output_path))
            assert got == want, (target, kind)


def test_delete_converges_after_series_commit_crash(spark, world, monkeypatch):
    cfg, ck = world["cfg"], str(world["base"] / "ck.json")
    restore(world)
    run_pipeline(spark, cfg, ck)  # ingest the landed file first
    shutil.copytree(world["base"], world["root"] / "cycled")
    want = _relabel(world["want_delete"])
    for kind in ("pre", "post"):
        restore(world, "cycled")
        Injector(monkeypatch, 0, kind, table="series_enc")
        with pytest.raises(Crash):
            delete_docs(spark, cfg, ck, VICTIMS)
        monkeypatch.undo()
        delete_docs(spark, cfg, ck, VICTIMS)
        assert _relabel(_state(spark, cfg.output_path)) == want, kind
