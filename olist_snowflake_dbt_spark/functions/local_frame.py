"""Arrow-path construction of small driver-local DataFrames.

``spark.createDataFrame(list_of_rows, schema)`` builds a PYTHON-RDD
local relation: the rows are pickled into ``defaultParallelism``
slices, and EVERY downstream evaluation re-launches one Python worker
pass per slice. The pathology (round 15, measured): a harness that
writes such a 2-row frame through ``coalesce(1)`` evaluates all 32
slices SEQUENTIALLY inside the single write task — ~115 ms of Python
worker handshake per slice, ~4-8 s of pure overhead for two rows —
and even parallel consumers (broadcast dims) re-pay one Python worker
sweep per action.

:func:`arrow_local_df` routes the same rows through pandas + Arrow
instead (guide §4: move data across the boundary as Arrow batches, not
pickled rows): the data lands in ~``ceil(rows/parallelism)``-row Arrow
batches with NO Python at evaluation time — the 2-row write drops to
~0.2 s. Falls back to the classic path for types the Arrow converter
rejects, so it is always safe to call.

:func:`empty_df` builds a frame with no rows from an empty Arrow table,
which plans as ``LocalTableScan <empty>``; ``createDataFrame([], schema)``
plans as ``Scan ExistingRDD`` over an empty RDD.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

log = logging.getLogger("olist_snowflake_dbt_spark")


def _struct(schema) -> T.StructType:
    """``schema`` (a DDL string or StructType) as a StructType, parsed
    without building a frame."""
    return T.DataType.fromDDL(schema) if isinstance(schema, str) else schema


def empty_df(spark: SparkSession, schema) -> DataFrame:
    """An empty frame of ``schema`` (a DDL string or StructType) as an
    Arrow local relation. A type the Arrow converter rejects falls back
    to the classic ``createDataFrame([], schema)``, logged."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    target = _struct(schema)
    try:
        return spark.createDataFrame(to_arrow_schema(target).empty_table(), target)
    except (TypeError, ValueError, pa.ArrowException) as exc:
        log.info("empty frame of %s built without Arrow: %s", target.simpleString(), exc)
        return spark.createDataFrame([], target)


def arrow_local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` through the Arrow path.

    ``rows`` is a driver-local iterable of tuples/Rows; it is read into
    a list once, since each column takes its own pass over it (a
    generator would be spent after the first). ``schema`` is a DDL
    string or StructType. Values are carried in object-dtype pandas
    columns, so ints stay exact (no float64 round trip) and None stays
    NULL; naive datetimes are localized to the session timezone (this
    engine pins UTC) exactly as the classic path does on a UTC host.
    Falls back to the classic ``createDataFrame``, logged, when the
    Arrow conversion rejects a type or value, rather than failing the
    query. No rows give :func:`empty_df`.
    """
    import pandas as pd
    import pyarrow as pa

    rows = list(rows)
    target = _struct(schema)
    if not rows:
        return empty_df(spark, target)
    names = [f.name for f in target.fields]
    try:
        data = {
            n: pd.Series([tuple(r)[i] for r in rows], dtype=object)
            for i, n in enumerate(names)
        }
        return spark.createDataFrame(pd.DataFrame(data, columns=names), target)
    except (TypeError, ValueError, pa.ArrowException) as exc:
        log.info("local frame of %s built without Arrow: %s", target.simpleString(), exc)
        return spark.createDataFrame(rows, target)
