"""Plan-time type sweep over every oracle SQL.

DuckDB ``sum(BIGINT)`` yields HUGEINT, which pandas/Arrow materializes as
float64 — breaking the driver's hash canonicalization against Spark's
BIGINT even when every value is identical (round-1 ``events_sessions``,
round-2 ``kmeans_assign``). This test binds (plans, without executing)
every ``oracle_sql()`` entry and asserts no HUGEINT reaches an output
column, so the artifact class can never recur silently.
"""

from __future__ import annotations

import duckdb

import __spark_entry__ as ent
from tests.conftest import SF_SMOKE, TABLES


def test_no_hugeint_in_oracle_outputs():
    con = duckdb.connect()
    import os

    for t in TABLES:
        p = f"{SF_SMOKE}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    offenders = {}
    for name, sql in ent.oracle_sql().items():
        rel = con.sql(sql)  # binds + plans only; no execution
        bad = [
            f"{col}:{typ}"
            for col, typ in zip(rel.columns, rel.types)
            if "HUGEINT" in str(typ).upper()
        ]
        if bad:
            offenders[name] = bad
    con.close()
    assert not offenders, f"HUGEINT reaches oracle output columns: {offenders}"


def test_no_decimal_or_nested_in_oracle_outputs():
    """Round-3 driver board: DuckDB DECIMAL(38,0) outputs fetch as
    float64 while Spark ships exact Decimal objects (5 hash-red rows),
    and LIST outputs crash pandas' sort-based canonicalizer entirely
    (2 err rows). Bind every oracle and assert neither type class
    reaches an output column — decimal math must be CAST to BIGINT (or
    STRING) at the query face, arrays must ship as md5 digests."""
    con = duckdb.connect()
    import os

    for t in TABLES:
        p = f"{SF_SMOKE}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    offenders = {}
    for name, sql in ent.oracle_sql().items():
        rel = con.sql(sql)  # binds + plans only; no execution
        bad = [
            f"{col}:{typ}"
            for col, typ in zip(rel.columns, rel.types)
            if any(
                k in str(typ).upper()
                for k in ("DECIMAL", "LIST", "STRUCT", "MAP", "[]")
            )
        ]
        if bad:
            offenders[name] = bad
    con.close()
    assert not offenders, (
        f"driver-unhashable types reach oracle outputs: {offenders}"
    )


def test_every_oracle_has_a_query_face():
    """Dangling oracle keys (an oracle_sql entry with no queries()
    twin) would be dead, unverified SQL — the driver only compares
    pairs. (The reverse direction — queries without oracles — is the
    documented rows-only class and allowed.)"""
    qs, os_ = set(ent.queries()), set(ent.oracle_sql())
    assert not (os_ - qs), f"oracles without faces: {sorted(os_ - qs)}"


def test_rows_only_faces_are_exactly_the_sketch_faces():
    """A face without an oracle is checked on row count alone. Only the
    three sketch faces, whose outputs are engine-specific, may be
    rows-only; a face that loses its oracle must fail here instead of
    silently turning rows-only."""
    qs, os_ = set(ent.queries()), set(ent.oracle_sql())
    assert qs - os_ == {
        "tier_1h_ndv_sketch",
        "tier_1h_pct_approx",
        "tier_1h_ndv_approx",
    }
