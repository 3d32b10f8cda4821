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
