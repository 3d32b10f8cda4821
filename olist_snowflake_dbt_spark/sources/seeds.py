"""Seed (CSV) ingestion with dbt-equivalent type inference.

The reference loads seed CSVs through dbt's agate ``TypeTester`` with
candidate order Integer → Number → Date(%Y-%m-%d) →
DateTime(%Y-%m-%d %H:%M:%S) → ISODateTime → Boolean(true/false) → Text,
treating ``""`` and ``"null"`` as NULL
(dbt_common/clients/agate_helper.py:59-76, overrides :29-56), then emits
typed DDL + batched INSERTs (dbt-snowflake macros/materializations/
seed.sql:1-37). Spark-side we replicate the *inference precedence* exactly
but ingest as one distributed job: read all-string CSV → one aggregation
pass votes a type per column → cast → write Parquet. No row batching —
the write is already partition-parallel, and at 100 TB a "seed" would just
be a CSV directory read by the same code path.

Known fidelity quirk replicated on purpose: integer inference drops leading
zeros (zip prefix "01037" → 1037) — SURVEY.md §1.3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Candidate regexes, tested in dbt-agate precedence order on non-null values.
_INT_RE = r"^[-+]?\d{1,18}$"
_NUM_RE = r"^[-+]?(\d+\.?\d*|\.\d+)([eE][-+]?\d+)?$"
_DATE_RE = r"^\d{4}-\d{2}-\d{2}$"
_DATETIME_RE = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$"
_ISODATETIME_RE = r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:?\d{2})?$"

_NULL_LITERALS = ("", "null")


def _col(name: str) -> Column:
    """The column named ``name`` verbatim: a dot in a CSV header is part
    of the name, not struct-field access."""
    return F.col("`" + name.replace("`", "``") + "`")


def _read_raw_strings(spark: SparkSession, path: str) -> DataFrame:
    """Read CSV with every column as string; normalize NULL literals and BOM.

    Handles the reference seeds' quirks: UTF-8 BOM + CRLF
    (product_category_name_translation.csv), quoted commas (seller cities),
    doubled-quote escapes, ``""``/``"null"`` → NULL (FIXTURES.md).
    """
    df = (
        spark.read.options(
            header=True,
            quote='"',
            escape='"',
            encoding="UTF-8",
            mode="PERMISSIVE",
        ).csv(path)
    )
    # Strip a BOM that survived into the first header name.
    renames = {c: c.lstrip("\ufeff").strip() for c in df.columns}
    for old, new in renames.items():
        if old != new:
            df = df.withColumnRenamed(old, new)
    for c in df.columns:
        df = df.withColumn(
            c, F.when(F.lower(_col(c)).isin(*_NULL_LITERALS), None).otherwise(_col(c))
        )
    return df


def infer_seed_schema(raw: DataFrame) -> T.StructType:
    """One distributed aggregation pass; per column picks the FIRST candidate
    type every non-null value satisfies (agate_helper.py:59-76 precedence)."""
    aggs = []
    for c in raw.columns:
        col = _col(c)
        nn = col.isNotNull()
        for key, rx in (
            ("int", _INT_RE),
            ("num", _NUM_RE),
            ("date", _DATE_RE),
            ("dt", _DATETIME_RE),
            ("iso", _ISODATETIME_RE),
        ):
            ok = F.when(nn, col.rlike(rx)).otherwise(F.lit(True))
            aggs.append(F.min(ok.cast("int")).alias(f"{c}\x1f{key}"))
        bool_ok = F.when(nn, F.lower(col).isin("true", "false")).otherwise(F.lit(True))
        aggs.append(F.min(bool_ok.cast("int")).alias(f"{c}\x1fbool"))
        # max decimal scale actually observed, for the Number type
        frac = F.regexp_extract(col, r"\.(\d+)", 1)
        aggs.append(F.max(F.when(nn, F.length(frac)).otherwise(F.lit(0))).alias(f"{c}\x1fscale"))
        aggs.append(F.max(nn.cast("int")).alias(f"{c}\x1fanyval"))
    row = raw.agg(*aggs).collect()[0].asDict()

    fields = []
    for c in raw.columns:
        v = {k.split("\x1f")[1]: row[k] for k in row if k.split("\x1f")[0] == c}
        if not v["anyval"]:
            dtype: T.DataType = T.StringType()  # all-NULL column → Text
        elif v["int"]:
            dtype = T.LongType()
        elif v["num"]:
            scale = min(int(v["scale"] or 0), 18)
            dtype = T.DecimalType(38, scale)
        elif v["date"]:
            dtype = T.DateType()
        elif v["dt"] or v["iso"]:
            dtype = T.TimestampType()
        elif v["bool"]:
            dtype = T.BooleanType()
        else:
            dtype = T.StringType()
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
    """Full seed materialization: CSV → typed table on Parquet.

    Re-run overwrites (the reference's TRUNCATE+INSERT and --full-refresh
    paths both collapse to mode=overwrite — seeds/seed.sql:23-30)."""
    import os

    df = read_seed_csv(spark, csv_path, schema, column_types=column_types)
    path = os.path.join(out_dir, name)
    df.write.mode("overwrite").parquet(path)
    out = spark.read.parquet(path)
    out.createOrReplaceTempView(name)
    return out
