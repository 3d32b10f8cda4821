"""Readers for the driver's TPC-H-ish parquet testdata and generic tables.

Parquet is the engine's native storage: columnar, predicate-pushdown and
column-pruned by Catalyst (check with ``.explain`` → PushedFilters /
ReadSchema). At 100 TB these reads partition by file-split automatically;
``spark.sql.files.maxPartitionBytes`` governs split size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet stores ts as parquet TIMESTAMP(NANOS), which the
        # Spark vectorized reader rejects; read the physical int64 and
        # convert ns → µs ourselves (exact: values are µs-precision).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            # integer div — float division rounds above 2^53 (off-by-1 µs)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
