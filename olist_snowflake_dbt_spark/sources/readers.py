"""Readers for the driver's TPC-H-ish parquet testdata and generic tables.

Parquet is the engine's native storage: columnar, predicate-pushdown and
column-pruned by Catalyst (check with ``.explain`` → PushedFilters /
ReadSchema). At 100 TB these reads partition by file-split automatically;
``spark.sql.files.maxPartitionBytes`` governs split size.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ts_is_nanos(path: str) -> bool:
    """Whether ``ts`` in the Parquet file at ``path`` (for a Spark-written
    directory, its first part file) is TIMESTAMP(NANOS), read from the
    footer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        path = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))[0]
    ts_type = pq.read_schema(path).field("ts").type
    return pa.types.is_timestamp(ts_type) and ts_type.unit == "ns"


def _read_events_raw(spark: SparkSession, path: str) -> DataFrame:
    """The events Parquet at ``path`` as stored. Events files hold ``ts``
    as TIMESTAMP(MICROS) or as TIMESTAMP(NANOS), which Spark reads only
    as int64 under ``spark.sql.legacy.parquet.nanosAsLong``. The conf is
    set only for a NANOS file: the scan reads it when it runs, so it
    cannot be scoped to this call, and a MICROS read leaves the caller's
    session as it was."""
    if _ts_is_nanos(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return spark.read.parquet(path)
    df = _read_events_raw(spark, path)
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # int64 nanos → µs (exact: values are µs-precision); integer
        # div, as float division rounds above 2^53 (off-by-1 µs)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
