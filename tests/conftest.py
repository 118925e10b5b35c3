from __future__ import annotations

import os
import re
import sys
from contextlib import contextmanager

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

TABLES = ("events", "documents")


@pytest.fixture(scope="session")
def spark():
    from pyreshaper_spark.session import get_spark

    s = get_spark("pyreshaper-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_SMOKE}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


@pytest.fixture(scope="session")
def seq(spark):
    from pyreshaper_spark.fixtures import sequences_df

    df = sequences_df(spark, SF_SMOKE).cache()
    df.count()
    return df


def rows_set(df, cols=None):
    """Order-insensitive canonical set of rows (Spark DataFrame)."""
    cols = cols or df.columns
    return {tuple(str(r[c]) for c in cols) for r in df.collect()}


def ddb_rows_set(con, sql, cols):
    res = con.sql(sql)
    names = [d[0] for d in res.description]
    idx = [names.index(c) for c in cols]
    return {tuple(str(row[i]) for i in idx) for row in res.fetchall()}


#: a shuffle in plan text (a broadcast is not one)
SHUFFLE = re.compile(r"(?<!Broadcast)Exchange ")


def plan_text(df) -> str:
    """The physical plan Spark would run for ``df`` (AQE's initial plan,
    every planned ``Exchange`` included)."""
    return df._jdf.queryExecution().executedPlan().toString()


@contextmanager
def large_reads(spark):
    """Every file read above ``spark.sql.files.openCostInBytes`` = 1
    byte, so no read is planned as one partition
    (``session.small_read``); the setting is restored on exit."""
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        yield
    finally:
        spark.conf.set(key, old)
