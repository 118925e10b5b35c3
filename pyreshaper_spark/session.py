"""SparkSession construction with the engine's required settings.

UTC session timezone (buckets are integer epoch-second arithmetic and
must be timezone-free), Arrow enabled (all custom operators are
vectorized pandas/Arrow UDFs), AQE on (runtime coalescing + skew-join
handling complements explicit salting).

:func:`local_frame` builds the small driver-side relations the engine
joins against (key lists, empty typed frames) without a Python task.
:func:`small_read` plans a read of tier-sized files as one partition,
so nothing above it shuffles.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def get_spark(
    app_name: str = "pyreshaper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores)
    )
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batches sized to the encoder's chunk cap (65k points):
        # the default 10k-row batches make every chunk span ~7 batches,
        # paying per-batch slicing/dictionary overhead 7x
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def local_frame(
    spark: SparkSession, schema: StructType | str, rows: Iterable[tuple] = ()
) -> DataFrame:
    """``rows`` (tuples in ``schema`` order; DDL string or StructType) as
    an Arrow-backed local relation.

    ``spark.createDataFrame(<list>)`` is an RDD of pickled rows: every
    job that reads it, even an empty one, launches Python worker tasks,
    each with a fixed start-up cost far above the work. An Arrow table
    plans as ``LocalTableScan`` and runs in the JVM alone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [[] for _ in arrow_schema]
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def small_read(df: DataFrame, paths: Iterable[str]) -> DataFrame:
    """``df``, a read of the files ``paths``, planned as ONE partition
    (``coalesce(1)``) when they total at most the session's
    ``spark.sql.files.openCostInBytes`` — Spark's own estimate, in bytes
    of scan, of what opening one file costs (4 MB by default), so no
    split of a smaller relation pays for itself. The sizes are summed
    only until they pass that limit, so a large read stats a few files.

    ``SinglePartition`` satisfies every clustered and ordered
    distribution, so no aggregate, window, join or global sort above
    such a read plans an ``Exchange`` (one AQE stage job each) or a
    range-sampling job; a cache of it and a union of such reads stay
    one partition. A larger read is returned as it is: parallel scan,
    AQE-sized shuffles. Tests and users move the boundary through the
    Spark setting."""
    # the setting as Spark's SQLConf parsed it, in bytes
    limit = (
        df.sparkSession._jsparkSession.sessionState()
        .conf().filesOpenCostInBytes()
    )
    total = 0
    for p in paths:
        total += os.path.getsize(p)
        if total > limit:
            return df
    return df.coalesce(1)
