from __future__ import annotations

import os

import pyspark.sql.types as T

from olist_snowflake_dbt_spark.sources.seeds import (
    infer_seed_schema,
    read_seed_csv,
    seed_to_parquet,
)

CSV = (
    "﻿id,amount,when_date,when_ts,flag,name,zip,empty\n"
    '1,1.50,2024-01-02,2024-01-02 10:00:00,true,"Sao Paulo, SP",01037,\n'
    '2,2.25,2024-01-03,2024-01-03 11:30:00,false,"Rio ""RJ""",98765,null\n'
    "3,,2024-01-04,2024-01-04 12:00:00,,plain,00123,\n"
)


def _write(tmp_path, text=CSV, name="seed.csv"):
    p = tmp_path / name
    p.write_text(text, encoding="utf-8")
    return str(p)


def test_inference_precedence(spark, tmp_path):
    df = read_seed_csv(spark, _write(tmp_path))
    types = {f.name: f.dataType for f in df.schema.fields}
    assert types["id"] == T.LongType()
    assert types["amount"] == T.DecimalType(38, 2)
    assert types["when_date"] == T.DateType()
    assert types["when_ts"] == T.TimestampType()
    assert types["flag"] == T.BooleanType()
    assert types["name"] == T.StringType()
    assert types["zip"] == T.LongType()
    assert types["empty"] == T.StringType()  # all-NULL → Text


def test_bom_stripped_and_values(spark, tmp_path):
    rows = read_seed_csv(spark, _write(tmp_path)).orderBy("id").collect()
    assert rows[0].id == 1  # BOM didn't mangle first header
    # leading zeros lost by integer inference (reference quirk, SURVEY §1.3)
    assert rows[0].zip == 1037 and rows[2].zip == 123
    # quoted comma and doubled-quote escape survive
    assert rows[0].name == "Sao Paulo, SP"
    assert rows[1].name == 'Rio "RJ"'
    # ""/null → NULL
    assert rows[2].amount is None and rows[0].empty is None and rows[1].empty is None
    assert rows[2].flag is None
    assert str(rows[0].amount) == "1.50"


def test_crlf(spark, tmp_path):
    path = _write(tmp_path, CSV.replace("\n", "\r\n"), "crlf.csv")
    df = read_seed_csv(spark, path)
    assert df.count() == 3
    assert {f.name for f in df.schema.fields} == {
        "id", "amount", "when_date", "when_ts", "flag", "name", "zip", "empty"}


def test_explicit_schema_overrides_inference(spark, tmp_path):
    schema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("amount", T.StringType()),
    ])
    df = read_seed_csv(spark, _write(tmp_path), schema)
    assert df.schema["id"].dataType == T.StringType()
    assert df.columns == ["id", "amount"]


def test_seed_to_parquet_roundtrip(spark, tmp_path):
    out = seed_to_parquet(spark, _write(tmp_path), str(tmp_path / "wh"), "my_seed")
    assert out.count() == 3
    assert spark.table("my_seed").count() == 3
    # re-run overwrites (TRUNCATE+INSERT semantics)
    out2 = seed_to_parquet(spark, _write(tmp_path), str(tmp_path / "wh"), "my_seed")
    assert out2.count() == 3


def test_header_with_dot_or_backtick_is_one_column_name(spark, tmp_path):
    """A dot in a header is part of the name (dbt's agate loader takes
    ``order.id`` as is), not struct-field access on ``order``."""
    path = _write(tmp_path, "order.id,amount,note`x\n1,1.50,a\n2,null,b\n", "dot.csv")
    out = seed_to_parquet(spark, path, str(tmp_path / "wh"), "dot_seed")
    assert out.columns == ["order.id", "amount", "note`x"]
    assert [f.dataType for f in out.schema.fields] == [
        T.LongType(), T.DecimalType(38, 2), T.StringType()]
    rows = sorted(tuple(r) for r in out.collect())
    assert [(r[0], r[2]) for r in rows] == [(1, "a"), (2, "b")]
    assert str(rows[0][1]) == "1.50" and rows[1][1] is None


def test_column_types_override_preserves_leading_zeros(spark, tmp_path):
    """dbt seed +column_types (helpers.sql create_csv_table): a listed
    column takes the configured type verbatim — the canonical fix for
    zip prefixes whose leading zeros agate's Integer inference destroys
    ("01037" -> 1037); unlisted columns keep inference."""
    import pyspark.sql.types as T
    import pytest as _pytest

    from olist_snowflake_dbt_spark.sources.seeds import read_seed_csv

    p = tmp_path / "geo.csv"
    p.write_text("zip,population\n01037,1200\n02115,3400\n", encoding="utf-8")

    inferred = read_seed_csv(spark, str(p))
    assert inferred.schema["zip"].dataType == T.LongType()
    assert {r.zip for r in inferred.collect()} == {1037, 2115}  # zeros lost

    pinned = read_seed_csv(spark, str(p), column_types={"zip": "string"})
    assert pinned.schema["zip"].dataType == T.StringType()
    assert pinned.schema["population"].dataType == T.LongType()  # still inferred
    assert {r.zip for r in pinned.collect()} == {"01037", "02115"}

    with _pytest.raises(ValueError, match="not in the seed"):
        read_seed_csv(spark, str(p), column_types={"nope": "string"})


def test_failed_reseed_keeps_previous_seed(spark, tmp_path):
    """A re-seed whose write job fails must leave the previous seed
    table fully readable: seeds publish by stage-and-swap, never by
    overwriting the live directory in place."""
    import pytest as _pytest

    wh = str(tmp_path / "wh")
    schema = T.StructType([T.StructField("id", T.LongType())])
    good = _write(tmp_path, "id\n1\n2\n", "good.csv")
    seed_to_parquet(spark, good, wh, "reseed", schema)

    bad = _write(tmp_path, "id\n3\nnot-a-number\n", "bad.csv")
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with _pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            seed_to_parquet(spark, bad, wh, "reseed", schema)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)

    back = spark.read.parquet(f"{wh}/reseed")
    assert sorted(r.id for r in back.collect()) == [1, 2]
    assert os.listdir(wh) == ["reseed"]  # the failed stage was removed


# ---------------------------------------------------------------------
# Inference equivalence: the one-mask SQL-text aggregate against the
# eight-aggregates-per-column form it replaced, kept here as the oracle.
# ---------------------------------------------------------------------

def _infer_eight_aggregates(raw):
    """Per column, one ``min`` per candidate (1 if every non-null value
    matches), the max decimal scale and an any-value flag; first
    candidate in agate precedence wins."""
    from pyspark.sql import functions as F

    from olist_snowflake_dbt_spark.sources import seeds as S

    aggs = []
    for c in raw.columns:
        col = S._col(c)
        nn = col.isNotNull()
        for key, rx in (("int", S._INT_RE), ("num", S._NUM_RE), ("date", S._DATE_RE),
                        ("dt", S._DATETIME_RE), ("iso", S._ISODATETIME_RE)):
            ok = F.when(nn, col.rlike(rx)).otherwise(F.lit(True))
            aggs.append(F.min(ok.cast("int")).alias(f"{c}\x1f{key}"))
        bool_ok = F.when(nn, F.lower(col).isin("true", "false")).otherwise(F.lit(True))
        aggs.append(F.min(bool_ok.cast("int")).alias(f"{c}\x1fbool"))
        frac = F.regexp_extract(col, r"\.(\d+)", 1)
        aggs.append(F.max(F.when(nn, F.length(frac)).otherwise(F.lit(0))).alias(f"{c}\x1fscale"))
        aggs.append(F.max(nn.cast("int")).alias(f"{c}\x1fanyval"))
    row = raw.agg(*aggs).collect()[0]
    fields = []
    for i, c in enumerate(raw.columns):
        v = dict(zip(("int", "num", "date", "dt", "iso", "bool", "scale", "anyval"),
                     row[8 * i: 8 * i + 8]))
        if not v["anyval"]:
            dtype = T.StringType()
        elif v["int"]:
            dtype = T.LongType()
        elif v["num"]:
            dtype = T.DecimalType(38, min(int(v["scale"] or 0), 18))
        elif v["date"]:
            dtype = T.DateType()
        elif v["dt"] or v["iso"]:
            dtype = T.TimestampType()
        elif v["bool"]:
            dtype = T.BooleanType()
        else:
            dtype = T.StringType()
        fields.append(T.StructField(c, dtype, True))
    return T.StructType(fields)


_ADVERSARIAL = {
    "ints_and_dates": (["1", "2024-01-02", "7"], T.StringType()),
    "datetime_and_iso_t": (["2024-01-02 10:00:00", "2024-01-02T10:00:00.5Z",
                            "2024-01-02T10:00:00+03:00"], T.TimestampType()),
    "sci_plus_leading_dot": (["1.0e-5", "+5", ".5"], T.DecimalType(38, 1)),
    "nineteen_digits": (["1234567890123456789", "-1"], T.DecimalType(38, 0)),
    "eighteen_digits": (["123456789012345678", "-1"], T.LongType()),
    "mixed_case_bools": (["TRUE", "False", None], T.BooleanType()),
    "bool_and_int": (["true", "1"], T.StringType()),
    # Java's ``$`` also matches before a final line terminator
    "trailing_newline": (["5\n", "6"], T.LongType()),
    "all_null": ([None, None, None], T.StringType()),
    "order.id": (["1", None, "3"], T.LongType()),
    "note`x": (["2024-01-02", "2024-02-03", None], T.DateType()),
    "it's \"q\"": (["1.25", "2.5", "3"], T.DecimalType(38, 2)),
    "datetime_only": (["2024-01-02 10:00:00", None, "2024-01-03 00:00:00"], T.TimestampType()),
    "fraction_long": (["0." + "1" * 25], T.DecimalType(38, 18)),
    "blank_text": (["a b", "", "x"], T.StringType()),
}


def _adversarial_raw(spark):
    names = list(_ADVERSARIAL)
    n = max(len(vals) for vals, _ in _ADVERSARIAL.values())
    rows = [tuple((_ADVERSARIAL[c][0] + [None] * n)[i] for c in names) for i in range(n)]
    schema = T.StructType([T.StructField(c, T.StringType()) for c in names])
    return spark.createDataFrame(rows, schema)


def test_mask_inference_matches_eight_aggregate_form_on_adversarial_columns(spark):
    raw = _adversarial_raw(spark)
    got = infer_seed_schema(raw)
    assert got == _infer_eight_aggregates(raw)
    for f in got.fields:
        assert f.dataType == _ADVERSARIAL[f.name][1], f.name


def test_mask_inference_matches_eight_aggregate_form_on_random_columns(spark):
    """Columns drawn from a pool of near-miss tokens (each close to one
    candidate's boundary), so every pairing of candidates shows up."""
    import random

    pool = ["0", "-7", "+12", "007", "1234567890123456789", "1.", ".5", "1.250",
            "-3.5e+2", "1e5", "e5", "2024-02-30", "2024-1-02", "2024-01-02",
            "2024-01-02 03:04:05", "2024-01-02T03:04:05", "2024-01-02 03:04:05.123",
            "2024-01-02T03:04:05-0300", "2024-01-02 03:04", "true", "FALSE", "yes",
            "", "null", None, "  1", "1 ", "NaN", "x\n"]
    rng = random.Random(7)
    names = [f"c{i}" for i in range(60)]
    cols = [rng.sample(pool, rng.randint(1, 4)) for _ in names]
    n = 4
    rows = [tuple((vals * n)[i] for vals in cols) for i in range(n)]
    raw = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in names))
    got = infer_seed_schema(raw)
    assert got == _infer_eight_aggregates(raw)
    assert {type(f.dataType) for f in got.fields} >= {
        T.LongType, T.DecimalType, T.DateType, T.TimestampType, T.BooleanType, T.StringType}


def test_mask_inference_matches_eight_aggregate_form_on_shipped_csvs(spark):
    from olist_snowflake_dbt_spark.sources.seeds import _read_raw_strings

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    demo = os.path.join(root, "olist_snowflake_dbt_spark", "models", "demo_seeds")
    paths = [os.path.join(root, "fixtures", "seed_customers.csv")] + [
        os.path.join(demo, f) for f in sorted(os.listdir(demo))]
    for path in paths:
        raw = _read_raw_strings(spark, path)
        assert infer_seed_schema(raw) == _infer_eight_aggregates(raw), path


def test_raw_read_is_one_projection_over_the_csv_scan(spark, tmp_path):
    """BOM/whitespace header cleanup and the NULL-literal mapping are one
    ``select``, not one re-analysed ``withColumn`` per column."""
    from olist_snowflake_dbt_spark.sources.seeds import _read_raw_strings

    raw = _read_raw_strings(spark, _write(tmp_path))
    plan = raw._jdf.queryExecution().analyzed()
    assert plan.nodeName() == "Project"
    assert plan.child().nodeName() == "LogicalRelation"
    assert raw.columns == ["id", "amount", "when_date", "when_ts", "flag", "name",
                           "zip", "empty"]


# ---------------------------------------------------------------------
# Publish read-back
# ---------------------------------------------------------------------

def test_unpartitioned_publish_is_one_job_with_the_footer_schema(spark, tmp_path):
    """An unpartitioned ``materialize_table`` runs only its write job: the
    read-back takes the written frame's schema instead of a footer-
    inference job, and that schema equals what footer inference reads."""
    from olist_snowflake_dbt_spark.plans.materialize import materialize_table

    df = spark.sql("""
        SELECT CAST(id AS INT) AS not_null_int,
               CAST(id AS DECIMAL(12, 3)) AS dec,
               TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ntz,
               TIMESTAMP'2024-01-02 03:04:05' AS ts,
               array(id, id + 1) AS arr,
               map('k', named_struct('a', id, 'b', array('x'))) AS m,
               named_struct('x', id, 'y', array(named_struct('z', id))) AS st,
               CAST(NULL AS STRING) AS nothing
        FROM range(5)""")
    assert not df.schema["not_null_int"].nullable
    sc = spark.sparkContext
    sc.setJobGroup("publish-readback", "publish-readback")
    try:
        rel = materialize_table(spark, "publish_readback", df, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("publish-readback")) == 1
    assert rel.df.schema == spark.read.parquet(rel.path).schema
    assert rel.df.schema["not_null_int"].nullable
    assert sorted(r.not_null_int for r in spark.table("publish_readback").collect()) == [
        0, 1, 2, 3, 4]
