from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olist_snowflake_dbt_spark.queries import QUERIES
from olist_snowflake_dbt_spark.sources.readers import read_table


def test_sketches_close_to_exact(spark, sf_dir):
    approx = {
        r.l_returnflag: r
        for r in QUERIES["hll_and_quantile_sketch"](spark, sf_dir).collect()
    }
    li = read_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.expr("percentile(CAST(l_quantity AS DOUBLE), 0.5)").alias("median_qty"),
        )
        .collect()
    }
    for flag, a in approx.items():
        e = exact[flag]
        # the query now emits the exact twins + sketch-invariant booleans
        # (the driver-checkable shape); accuracy asserted via the bools
        # plus the exact columns matching an independent computation.
        assert a.exact_orders == e.n_orders
        assert abs(a.exact_median_qty - e.median_qty) <= 1e-6
        assert a.hll_within_tol and a.pct_within_tol


def test_moment_stats_match_builtin_variance(spark, sf_dir):
    """The decimal-moment variance must agree with Spark's var_samp to
    float precision (same statistic, different accumulation)."""
    got = {r.l_returnflag: r.var_qty
           for r in QUERIES["moment_stats"](spark, sf_dir).collect()}
    ref = {
        r.l_returnflag: r.v
        for r in read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.var_samp(F.col("l_quantity").cast("double")).alias("v"))
        .collect()
    }
    for flag, v in got.items():
        # the query rounds to 6 decimals; allow that plus float noise
        assert ref[flag] == pytest.approx(v, abs=1e-6)


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    """Predicates and projection must reach the scan: PushedFilters
    carries the key filter and ReadSchema is pruned to the two columns
    used (not the full part schema)."""
    p = read_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    plan = (
        p.select("p_partkey", "p_brand")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(p_partkey), LessThanOrEqual(p_partkey,500)" in plan
    assert "p_name" not in plan.split("ReadSchema")[1][:200]


def test_fct_orders_joins_are_broadcast(spark):
    """At sf0.001 both fact-side joins must be broadcast (dim tables far
    under the 10MB threshold) — no sort-merge shuffle for small dims."""
    df = QUERIES["fct_orders"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_plan_has_no_cartesian(spark, sf_dir):
    df = QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_join_equals_plain_join(spark, sf_dir):
    from olist_snowflake_dbt_spark.operators.skew import salted_join

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_suppkey").alias("supp_key")
    )
    supp = read_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("supp_key"), "s_name"
    )
    salted = salted_join(li, supp, "supp_key", num_salts=4)
    plain = li.join(supp, "supp_key").select(*salted.columns)
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salted_join_shuffles_on_salt(spark, sf_dir):
    from olist_snowflake_dbt_spark.operators.skew import salted_join

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_suppkey").alias("supp_key")
    )
    supp = read_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("supp_key"), "s_name"
    )
    plan = (
        salted_join(li, supp, "supp_key", num_salts=4)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "__salt" in plan  # the join key carries the salt


def test_two_phase_distinct_ignores_nulls(spark):
    from olist_snowflake_dbt_spark.operators.skew import two_phase_distinct

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", None), ("b", None), ("b", None)],
        "grp string, x int",
    )
    got = {r.grp: r.n_distinct_x for r in two_phase_distinct(df, ["grp"], "x").collect()}
    # COUNT(DISTINCT x) semantics: NULL never counts; all-NULL group → 0
    assert got == {"a": 1, "b": 0}
    oracle = {
        r.grp: r.n
        for r in df.groupBy("grp").agg(
            F.countDistinct("x").alias("n")).collect()
    }
    assert got == oracle


def test_decimal_double_cast_parity_boundary(spark):
    # pins the engine contract every presentation cast relies on: the
    # DECIMAL->DOUBLE cast is bit-identical between Spark and DuckDB
    # while the unscaled value stays below 2^53 (probed to 1e15 at
    # scale 2). Beyond that boundary (see README) outputs go VARCHAR.
    import random

    import duckdb

    random.seed(7)
    vals = [random.randrange(1, 10**d) for d in range(1, 16) for _ in range(300)]
    sdf = spark.createDataFrame([(v,) for v in vals], "cents long")
    srows = [
        r.d
        for r in sdf.select(
            (F.col("cents").cast("decimal(38,2)") / 100)
            .cast("decimal(38,2)")
            .cast("double")
            .alias("d")
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(cents BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    drows = [
        d
        for (d,) in con.sql(
            "SELECT CAST(CAST(CAST(cents AS DECIMAL(38,2)) / 100"
            " AS DECIMAL(38,2)) AS DOUBLE) FROM t"
        ).fetchall()
    ]
    assert [repr(s) for s in srows] == [repr(d) for d in drows]


def test_session_window_exact_gap_boundary(spark):
    # pins the boundary semantics batch_session_window's oracle relies
    # on: an event arriving EXACTLY gap after the previous one merges
    # into the same session (Spark merges when next_start <= current
    # session end), so the gaps-and-islands oracle must use
    # `<= INTERVAL '30 minutes'` — not `<`. Verified empirically and
    # asserted here so a Spark behavior change breaks the build, not
    # the driver compare.
    df = spark.createDataFrame(
        [
            ("u1", "2024-01-01 00:00:00"),
            ("u1", "2024-01-01 00:30:00"),  # exactly 30-min gap: merges
            ("u1", "2024-01-01 01:30:00"),  # 60-min gap: new session
        ],
        "user_id string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = sorted(
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w")["start"].alias("s"), "n")
        .collect(),
        key=lambda r: r.s,
    )
    assert [(str(r.s), r.n) for r in rows] == [
        ("2024-01-01 00:00:00", 2),
        ("2024-01-01 01:30:00", 1),
    ]


def test_seed_csv_inference_reads_this_checkouts_fixture():
    """The query and its DuckDB oracle both read the fixture shipped next
    to the package, wherever the checkout lives."""
    import os

    from olist_snowflake_dbt_spark import queries_sql_breadth as B
    from olist_snowflake_dbt_spark.queries import ORACLE_SQL

    root = os.path.dirname(os.path.dirname(os.path.abspath(B.__file__)))
    assert B._SEED_FIXTURE == os.path.join(root, "fixtures", "seed_customers.csv")
    assert os.path.isfile(B._SEED_FIXTURE)
    assert f"read_csv('{B._SEED_FIXTURE}'" in ORACLE_SQL["seed_csv_inference"]
