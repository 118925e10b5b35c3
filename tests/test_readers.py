"""Input selection: RunConfig accepts parquet or IcebergLite input, and
an IcebergLite input path is ``<root>::<table>[::<snapshot_id>]``."""

from __future__ import annotations

import pytest

from pyreshaper_spark.sources.readers import split_table_path


def test_runconfig_rejects_bad_input_format():
    from pyreshaper_spark.config import RunConfig

    with pytest.raises(ValueError, match="input_format"):
        RunConfig(
            input_path="/x", output_path="/y", input_format="json"
        ).validate()


def test_table_path_split_and_malformed_rejected():
    assert split_table_path("/w::seq") == ("/w", "seq", None)
    assert split_table_path("/w::seq::7") == ("/w", "seq", 7)
    for bad in ("/w", "/w::seq::7::8"):
        with pytest.raises(ValueError, match="iceberglite input path"):
            split_table_path(bad)
