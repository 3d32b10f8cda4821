from __future__ import annotations

from olist_snowflake_dbt_spark.functions.local_frame import arrow_local_df


def test_generator_rows_fill_every_column(spark):
    """Each column takes its own pass over ``rows``; a generator must not
    be spent by the first one and leave NULLs in the rest."""
    df = arrow_local_df(spark, ((i, "x%d" % i) for i in range(3)), "a long, b string")
    assert sorted(tuple(r) for r in df.collect()) == [(0, "x0"), (1, "x1"), (2, "x2")]


def test_empty_generator_gives_empty_frame(spark):
    df = arrow_local_df(spark, (r for r in []), "a long, b string")
    assert df.columns == ["a", "b"] and df.count() == 0
