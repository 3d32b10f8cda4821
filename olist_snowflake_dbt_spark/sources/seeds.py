"""Seed (CSV) ingestion with dbt-equivalent type inference.

The reference loads seed CSVs through dbt's agate ``TypeTester`` with
candidate order Integer → Number → Date(%Y-%m-%d) →
DateTime(%Y-%m-%d %H:%M:%S) → ISODateTime → Boolean(true/false) → Text,
treating ``""`` and ``"null"`` as NULL
(dbt_common/clients/agate_helper.py:59-76, overrides :29-56), then emits
typed DDL + batched INSERTs (dbt-snowflake macros/materializations/
seed.sql:1-37). Spark-side we replicate the *inference precedence* exactly
but ingest as one distributed job: read all-string CSV → one aggregation
pass ANDs, per column, a bitmask of the candidate types each value
satisfies → the first candidate still set wins → cast → write Parquet. No
row batching — the write is already partition-parallel, and at 100 TB a
"seed" would just be a CSV directory read by the same code path.

Known fidelity quirk replicated on purpose: integer inference drops leading
zeros (zip prefix "01037" → 1037) — SURVEY.md §1.3.
"""

from __future__ import annotations

import csv
import logging
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.materialize import materialize_table
from .readers import local_path

log = logging.getLogger("olist_snowflake_dbt_spark")

# Candidate regexes, tested in dbt-agate precedence order on non-null values.
_INT_RE = r"^[-+]?\d{1,18}$"
_NUM_RE = r"^[-+]?(\d+\.?\d*|\.\d+)([eE][-+]?\d+)?$"
_DATE_RE = r"^\d{4}-\d{2}-\d{2}$"
_DATETIME_RE = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$"
_ISODATETIME_RE = r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:?\d{2})?$"

_NULL_LITERALS = ("", "null")


def _quote(name: str) -> str:
    """``name`` as a backtick-quoted identifier: a dot in a CSV header is
    part of the name, not struct-field access."""
    return "`" + name.replace("`", "``") + "`"


def _col(name: str) -> Column:
    return F.col(_quote(name))


def _csv_header(spark: SparkSession, path: str) -> list[str] | None:
    """The column names Spark's CSV inference gives the single local
    file ``path`` with ``header`` on, read on the driver; ``None`` for a
    directory, a non-local path or a header this reader cannot take, and
    the caller then lets Spark read the header in a job.

    As Spark's inference: the header is the first line (split on LF, CR
    or CRLF; a UTF-8 BOM dropped, as Hadoop's line reader drops it) that
    is not empty after trimming spaces, tokenized with ``"`` as quote and
    escape; then ``CSVUtils.makeSafeHeader``: an empty name becomes
    ``_c{i}``, and a name duplicated (case-insensitively unless
    ``spark.sql.caseSensitive``) becomes the name plus its index."""
    local = local_path(spark, path)
    if local is None or not os.path.isfile(local):
        log.info("CSV header of %s read by Spark: not a local file", path)
        return None
    try:
        with open(local, encoding="utf-8-sig", newline="") as f:
            line = next((ln for ln in f if ln.rstrip("\r\n").strip(" ")), None)
            row = None if line is None else next(
                csv.reader([line.rstrip("\r\n")], quotechar='"', doublequote=True))
    except (UnicodeDecodeError, csv.Error) as exc:
        log.info("CSV header of %s read by Spark: %s", path, exc)
        return None
    if not row:
        log.info("CSV header of %s read by Spark: no header line", path)
        return None
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    keys = [n if case_sensitive else n.lower() for n in row]
    dup = {k for k in keys if keys.count(k) > 1}
    return [
        f"_c{i}" if not n else f"{n}{i}" if k in dup else n
        for i, (n, k) in enumerate(zip(row, keys))
    ]


def _read_raw_strings(spark: SparkSession, path: str) -> DataFrame:
    """Read CSV with every column as string; normalize NULL literals and BOM.

    Handles the reference seeds' quirks: UTF-8 BOM + CRLF
    (product_category_name_translation.csv), quoted commas (seller cities),
    doubled-quote escapes, ``""``/``"null"`` → NULL (FIXTURES.md). One
    projection strips a BOM/whitespace that survived into a header name
    and maps the NULL literals.

    A single local file is read under the all-string schema of its
    header, parsed on the driver by :func:`_csv_header`, so no Spark job
    runs to read it; a directory keeps Spark's header job. Nothing is
    cached: each call reads its header afresh.
    """
    reader = spark.read.options(
        header=True, quote='"', escape='"', encoding="UTF-8", mode="PERMISSIVE"
    )
    header = _csv_header(spark, path)
    if header is not None:
        reader = reader.schema(
            T.StructType([T.StructField(n, T.StringType()) for n in header]))
    df = reader.csv(path)
    return df.select(*(
        F.when(F.lower(_col(c)).isin(*_NULL_LITERALS), None)
        .otherwise(_col(c))
        .alias(c.lstrip("\ufeff").strip())
        for c in df.columns
    ))


def _mask_sql(c: str) -> str:
    """``bit_and`` of a per-value mask of the candidates it satisfies, one
    bit each in precedence order: Integer 1, Number 2, Date 4, DateTime 8,
    ISODateTime 16, Boolean 32. An Integer is also a Number and a DateTime
    also an ISODateTime; no other pair overlaps, so the first CASE branch
    that matches carries the value's whole set. NULLs are skipped, so an
    all-NULL column reads NULL."""
    q = _quote(c)
    return (
        f"bit_and(CASE WHEN {q} IS NULL THEN NULL"
        f" WHEN {q} RLIKE r'{_INT_RE}' THEN 3 WHEN {q} RLIKE r'{_NUM_RE}' THEN 2"
        f" WHEN {q} RLIKE r'{_DATE_RE}' THEN 4 WHEN {q} RLIKE r'{_DATETIME_RE}' THEN 24"
        f" WHEN {q} RLIKE r'{_ISODATETIME_RE}' THEN 16"
        f" WHEN lower({q}) IN ('true', 'false') THEN 32 ELSE 0 END)"
    )


def infer_seed_schema(raw: DataFrame) -> T.StructType:
    """One distributed aggregation from one SQL-text ``selectExpr``: per
    column the :func:`_mask_sql` mask and the largest decimal scale seen.
    Picks the FIRST candidate type every non-null value satisfies
    (agate_helper.py:59-76 precedence): the mask's lowest set bit."""
    exprs = []
    for c in raw.columns:
        exprs.append(_mask_sql(c))
        exprs.append(rf"max(length(regexp_extract({_quote(c)}, r'\.(\d+)', 1)))")
    row = raw.selectExpr(*exprs).first()
    fields = []
    for i, c in enumerate(raw.columns):
        mask, scale = row[2 * i] or 0, row[2 * i + 1]  # all-NULL → 0 → Text
        dtype = {
            1: T.LongType(),
            2: T.DecimalType(38, min(int(scale or 0), 18)),
            4: T.DateType(),
            8: T.TimestampType(),
            16: T.TimestampType(),
            32: T.BooleanType(),
        }.get(mask & -mask, T.StringType())
        fields.append(T.StructField(c, dtype, nullable=True))
    return T.StructType(fields)


def read_seed_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    column_types: dict[str, str] | None = None,
) -> DataFrame:
    """CSV → typed DataFrame. ``schema`` pins types (the deterministic path,
    FIXTURES.md); otherwise types are inferred with dbt precedence.

    ``column_types`` is dbt's seed ``+column_types`` config (dbt-core
    seed materialization helpers.sql create_csv_table: listed columns
    take the configured type verbatim, the rest keep agate inference).
    The canonical use is preserving leading zeros — zip prefix "01037"
    infers Integer and becomes 1037; ``{"zip": "string"}`` keeps it
    textual. Values are Spark DDL type strings."""
    raw = _read_raw_strings(spark, path)
    st = schema or infer_seed_schema(raw)
    if column_types:
        unknown = sorted(set(column_types) - {f.name for f in st.fields})
        if unknown:
            raise ValueError(
                f"column_types references columns not in the seed: {unknown}"
            )
        resolved = {
            c: spark.range(0).select(F.lit(None).cast(t)).schema[0].dataType
            for c, t in column_types.items()
        }
        st = T.StructType(
            [
                T.StructField(f.name, resolved.get(f.name, f.dataType), True)
                for f in st.fields
            ]
        )
    cols = []
    for f in st.fields:
        src = _col(f.name)
        if isinstance(f.dataType, T.BooleanType):
            cast = F.when(F.lower(src) == "true", F.lit(True)).when(
                F.lower(src) == "false", F.lit(False)
            )
        else:
            cast = src.cast(f.dataType)
        cols.append(cast.alias(f.name))
    return raw.select(*cols)


def seed_to_parquet(
    spark: SparkSession,
    csv_path: str,
    out_dir: str,
    name: str,
    schema: T.StructType | None = None,
    column_types: dict[str, str] | None = None,
) -> DataFrame:
    """Full seed materialization: CSV → typed table on Parquet, published
    by ``materialize_table``'s stage-and-swap like every table, so a
    re-seed that fails mid-write keeps the previous seed readable.

    Re-run overwrites (the reference's TRUNCATE+INSERT and --full-refresh
    paths both collapse to one overwrite — seeds/seed.sql:23-30)."""
    df = read_seed_csv(spark, csv_path, schema, column_types=column_types)
    return materialize_table(spark, name, df, out_dir).df
