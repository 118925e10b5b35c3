"""Catalog binding: a plain path binds IcebergLite, a URI root is
rejected, and every catalog method the program calls — plus every name
perfbench hooks — resolves on the bound classes (a static guard, so a
removed method cannot keep a caller). A second static guard does the
same for every ``pyreshaper_spark`` import in the program."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os
import re

import pytest

from pyreshaper_spark.sources.catalog import get_catalog
from pyreshaper_spark.sources.iceberglite import IcebergLite

_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")


def test_plain_path_binds_iceberglite(tmp_path):
    cat = get_catalog(str(tmp_path))
    assert isinstance(cat, IcebergLite)
    assert cat.root == str(tmp_path)


@pytest.mark.parametrize("scheme", ["file", "hivedir", "rest", "s3catalog"])
def test_uri_root_rejected(tmp_path, monkeypatch, scheme):
    # a relative "hivedir://x" must not silently become a directory
    # named "hivedir:" under the working directory
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="plain filesystem path"):
        get_catalog(f"{scheme}://{tmp_path}/wh")
    assert os.listdir(tmp_path) == []


def test_pipeline_runs_through_the_seam(spark, tmp_path):
    # the pipeline's own tests exercise IcebergLite end-to-end; here we
    # only prove the resolution point the pipeline calls is get_catalog
    from pyreshaper_spark.plans import pipeline as pl

    assert pl.get_catalog is get_catalog


def _sources():
    paths = [os.path.join(_ROOT, "__spark_entry__.py")]
    for sub in ("pyreshaper_spark", "jobs", "tools", "perfbench"):
        for d, _, fs in os.walk(os.path.join(_ROOT, sub)):
            paths += [os.path.join(d, f) for f in fs if f.endswith(".py")]
    return paths


def test_consumed_catalog_surface_resolves():
    """Every ``cat.<name>(`` call and ``IcebergLite.<name>`` reference
    in the program resolves to an IcebergLite attribute, and every name
    perfbench's tracer hooks by ``getattr`` exists."""
    import pyreshaper_spark.sql as sqlmod
    from perfbench.tracing import WRITE_METHODS
    from pyreshaper_spark.plans.checkpoint import Checkpoint

    call = re.compile(r"\bcat(?:_in)?\.([A-Za-z_]\w*)\(")
    ref = re.compile(r"\bIcebergLite\.([A-Za-z_]\w*)")
    missing = set()
    for p in _sources():
        src = open(p, encoding="utf-8").read()
        for name in set(call.findall(src)) | set(ref.findall(src)):
            if not hasattr(IcebergLite, name):
                missing.add((os.path.relpath(p, _ROOT), name))
    assert not missing, f"catalog calls with no IcebergLite method: {sorted(missing)}"

    for owner, name in [
        *((IcebergLite, m) for m in WRITE_METHODS),
        (IcebergLite, "read"),
        (Checkpoint, "save"),
        (Checkpoint, "mark_step"),
        (sqlmod, "read_tier"),
    ]:
        assert callable(getattr(owner, name, None)), (owner, name)


def _imports(path):
    """(lineno, module, names) for every import in one source file:
    module-level and function-local ``import`` and
    ``from ... import`` statements (relative ones resolved against the
    file's package) and ``__import__("...", fromlist=[...])`` calls."""
    rel = os.path.relpath(path, _ROOT)
    pkg = os.path.dirname(rel).replace(os.sep, ".")
    for node in ast.walk(ast.parse(open(path, encoding="utf-8").read())):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield node.lineno, a.name, ()
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = pkg.rsplit(".", node.level - 1)[0]
                base = f"{parent}.{base}" if base else parent
            yield node.lineno, base, tuple(a.name for a in node.names)
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "__import__"
            and node.args
            and isinstance(node.args[0], ast.Constant)
        ):
            names = ()
            for kw in node.keywords:
                if kw.arg == "fromlist" and isinstance(kw.value, ast.List):
                    names = tuple(e.value for e in kw.value.elts)
            yield node.lineno, node.args[0].value, names


def _find_spec(name):
    try:
        return importlib.util.find_spec(name)
    except ModuleNotFoundError:  # a parent package is missing
        return None


def test_every_package_import_resolves():
    """Every ``pyreshaper_spark`` import in the program names a module
    that exists and, for ``from`` imports, an attribute or submodule of
    it. Faces and jobs import their operators inside functions, so a
    dangling import would otherwise fail only when that function runs."""
    dangling = []
    for path in _sources():
        for lineno, mod, names in _imports(path):
            if mod.split(".")[0] != "pyreshaper_spark":
                continue
            where = f"{os.path.relpath(path, _ROOT)}:{lineno}"
            if _find_spec(mod) is None:
                dangling.append((where, mod))
                continue
            m = importlib.import_module(mod)
            for name in names:
                if not hasattr(m, name) and _find_spec(f"{mod}.{name}") is None:
                    dangling.append((where, f"{mod}.{name}"))
    assert not dangling, f"imports that do not resolve: {dangling}"
