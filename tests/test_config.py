"""Specifier-analog tests — mirrors the reference's specificationTests
(construction, validation, serialization round-trip)."""

from __future__ import annotations

import pytest

from pyreshaper_spark.config import RunConfig, TierSpec


def _cfg(**kw) -> RunConfig:
    base = dict(input_path="/in", output_path="/out")
    base.update(kw)
    return RunConfig(**base)


def test_default_config_validates():
    _cfg().validate()


def test_json_round_trip(tmp_path):
    cfg = _cfg(nsalt=4, write_mode="append").validate()
    p = str(tmp_path / "run.json")
    cfg.write(p)
    assert RunConfig.read(p) == cfg


def test_type_validation():
    with pytest.raises(TypeError):
        _cfg(nsalt="8").validate()


def test_value_validation():
    with pytest.raises(ValueError):
        _cfg(write_mode="truncate").validate()
    with pytest.raises(ValueError):
        _cfg(nsalt=-1).validate()
    _cfg(nsalt=0).validate()  # 0 = size-aware auto


def test_tier_cascade_must_divide():
    bad = (TierSpec("1m", 60), TierSpec("90s-ish", 90))
    with pytest.raises(ValueError, match="not a multiple"):
        _cfg(tiers=bad).validate()


def test_tier_widths_strictly_increasing():
    bad = (TierSpec("a", 600), TierSpec("b", 60))
    with pytest.raises(ValueError):
        _cfg(tiers=bad).validate()


def test_with_returns_validated_copy():
    cfg = _cfg()
    cfg2 = cfg.with_(nsalt=16)
    assert cfg2.nsalt == 16 and cfg.nsalt == 8
    with pytest.raises(ValueError):
        cfg.with_(nsalt=-1)
