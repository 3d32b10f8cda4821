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


def test_empty_frames_plan_as_empty_local_relations(spark, tmp_path):
    """An empty frame, from ``empty_df``, an empty ``arrow_local_df`` or
    a ``CopyInto`` read before any load, is an Arrow local relation
    (``LocalTableScan <empty>``), not a scan over an empty RDD, and
    keeps the asked-for schema."""
    from pyspark.sql import types as T

    from olist_snowflake_dbt_spark.functions.local_frame import empty_df
    from olist_snowflake_dbt_spark.sources.copy_into import CopyInto

    ddl = "a long, ts timestamp, d decimal(38,6), tags array<string>"
    want = T.DataType.fromDDL(ddl)
    frames = [
        empty_df(spark, ddl),
        empty_df(spark, want),
        arrow_local_df(spark, [], ddl),
        CopyInto(spark, str(tmp_path / "stage"), str(tmp_path / "tgt")).read(want),
    ]
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan <empty>" in plan, plan
        assert "ExistingRDD" not in plan, plan
        assert df.schema == want and df.count() == 0
