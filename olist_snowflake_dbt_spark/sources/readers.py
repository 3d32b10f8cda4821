"""Readers for the driver's TPC-H-ish parquet testdata and generic tables.

Parquet is the engine's native storage: columnar, predicate-pushdown and
column-pruned by Catalyst (check with ``.explain`` → PushedFilters /
ReadSchema). At 100 TB these reads partition by file-split automatically;
``spark.sql.files.maxPartitionBytes`` governs split size.

A bare ``spark.read.parquet(path)`` infers its schema in a Spark job
(``mergeSchemasInParallel``), even for one file. Source reads here take
the schema from :func:`parquet_schema` instead, which reads one footer
on the driver and converts it with Spark's own converter, so the read
runs no job until an action. Nothing is cached: each call reads its own
footer, so a file rewritten between reads is seen as it now is.
"""

from __future__ import annotations

import json
import logging
import os

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger("olist_snowflake_dbt_spark")

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

# ParquetFileWriter's summary-file names, which ParquetUtils.inferSchema
# prefers over any data file
_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _hidden(name: str) -> bool:
    """Whether Spark's file index skips ``name`` when it lists a
    directory (``HadoopFSUtils.shouldFilterOutPathName``): ``_``- and
    ``.``-prefixed names and in-flight ``._COPYING_`` copies, except the
    summary files Parquet needs."""
    exclude = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return exclude and not name.startswith(_SUMMARY_FILES)


def _schema_file(path: str) -> tuple[str | None, bool]:
    """The one file Spark's Parquet inference reads for the local
    ``path`` (``None`` if it lists no data file), and whether ``path``
    is flat (a file, or a directory with no visible subdirectory).
    ``ParquetUtils.inferSchema`` without ``mergeSchema`` sorts the
    listed leaves by path and reads ``_common_metadata`` first, then
    ``_metadata``, then the first data file. A partitioned layout is
    listed recursively, as Spark lists it, so the choice holds there
    too; only a flat layout has its footer read on the driver (see
    :func:`parquet_schema`)."""
    if not os.path.isdir(path):
        return path, True
    leaves, flat = [], True
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        flat = flat and not dirs
        leaves += [os.path.join(root, f) for f in files if not _hidden(f)]
    leaves.sort()
    for summary in _SUMMARY_FILES:
        for leaf in leaves:
            if os.path.basename(leaf) == summary:
                return leaf, flat
    data = [f for f in leaves if os.path.basename(f) not in _SUMMARY_FILES]
    return (data[0] if data else None), flat


def _jvm_class(spark: SparkSession, name: str) -> JavaClass:
    """The JVM class ``name``. ``spark._jvm.a.b.C`` costs one py4j round
    trip per package level; this costs none."""
    return JavaClass(name, spark.sparkContext._gateway._gateway_client)


def local_path(spark: SparkSession, path: str, hadoop_conf=None) -> str | None:
    """``path`` as an absolute local path, qualified as Spark qualifies
    it (a bare path resolves against ``fs.defaultFS``); ``None`` when it
    names another file system."""
    if hadoop_conf is None:
        hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    hpath = _jvm_class(spark, "org.apache.hadoop.fs.Path")(path)
    uri = hpath.getFileSystem(hadoop_conf).makeQualified(hpath).toUri()
    return uri.getPath() if uri.getScheme() == "file" else None


def parquet_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark's inference gives ``spark.read.parquet(path)``,
    read on the driver with no Spark job; ``None`` where this reader
    does not apply, and the caller then lets Spark infer. Either way
    the file relation makes every field nullable.

    The file is :func:`_schema_file`'s choice. Its footer is read with
    ``ParquetFileFormat.readParquetFootersInParallel`` (a driver thread
    pool) and converted by ``ParquetFileFormat.readSchema`` under the
    session conf, the converter inference uses: TIMESTAMP_NTZ, NANOS as
    long and a Spark-written file's stored schema come out as inference
    gives them. A non-``file`` path, a partitioned layout, session-wide
    ``mergeSchema``, no data file, or a footer that cannot be read or
    converted returns ``None``, logged with the reason."""
    jsession = spark._jsparkSession
    hadoop_conf = jsession.sessionState().newHadoopConf()
    local = local_path(spark, path, hadoop_conf)
    if local is None:
        reason = "path is not on the local file system"
    elif spark.conf.get("spark.sql.parquet.mergeSchema") == "true":
        reason = "spark.sql.parquet.mergeSchema is on"
    else:
        chosen, flat = _schema_file(local)
        if chosen is None:
            reason = "no data file"
        elif flat:
            fmt = getattr(_jvm_class(
                spark, "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat$"
            ), "MODULE$")
            hpath = _jvm_class(spark, "org.apache.hadoop.fs.Path")(chosen)
            try:
                status = hpath.getFileSystem(hadoop_conf).getFileStatus(hpath)
                files = spark.sparkContext._jvm.PythonUtils.toSeq([status])
                footers = fmt.readParquetFootersInParallel(hadoop_conf, files, False)
                jschema = fmt.readSchema(footers, jsession)
            except Py4JJavaError as exc:
                reason = f"footer of {chosen} not read: {exc.java_exception}"
            else:
                if not jschema.isEmpty():
                    return T.StructType.fromJson(json.loads(jschema.get().json()))
                reason = f"footer of {chosen} gave no schema"
        else:
            reason = "partitioned layout"
    log.info("parquet schema of %s inferred by Spark: %s", path, reason)
    return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` under :func:`parquet_schema`'s
    schema, or with Spark's inference where that returns ``None``."""
    schema = parquet_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _ts_is_nanos(path: str) -> bool:
    """Whether ``ts`` in the Parquet file at ``path`` (for a directory,
    the file :func:`_schema_file` picks, as inference does) is
    TIMESTAMP(NANOS), read from the footer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    chosen = _schema_file(path)[0]
    if chosen is None:
        return False  # the read itself then fails as Spark's inference does
    ts_type = pq.read_schema(chosen).field("ts").type
    return pa.types.is_timestamp(ts_type) and ts_type.unit == "ns"


def _read_events_raw(spark: SparkSession, path: str) -> DataFrame:
    """The events Parquet at ``path`` as stored. Events files hold ``ts``
    as TIMESTAMP(MICROS) or as TIMESTAMP(NANOS), which Spark reads only
    as int64 under ``spark.sql.legacy.parquet.nanosAsLong``. The conf is
    set only for a NANOS file, before the footer is converted: the scan
    reads it when it runs, so it cannot be scoped to this call, and a
    MICROS read leaves the caller's session as it was."""
    if _ts_is_nanos(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _read_parquet(spark, path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``<sf_dir>/<name>.parquet``, read with no schema-inference job
    (:func:`parquet_schema`). ``events`` comes back with ``ts`` as
    TIMESTAMP whatever its on-disk unit."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return _read_parquet(spark, path)
    df = _read_events_raw(spark, path)
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # int64 nanos → µs (exact: values are µs-precision); integer
        # div, as float division rounds above 2^53 (off-by-1 µs)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
