from __future__ import annotations

import datetime as dt
from decimal import Decimal

from pyspark.sql import functions as F

from olist_snowflake_dbt_spark.models.olist import register_olist_models
from olist_snowflake_dbt_spark.operators.dq import TestStatus
from olist_snowflake_dbt_spark.runner import Engine

ORDERS_SCHEMA = (
    "order_id string, customer_id string, order_status string, "
    "order_purchase_timestamp timestamp, order_approved_at timestamp, "
    "order_delivered_carrier_date timestamp, "
    "order_delivered_customer_date timestamp, "
    "order_estimated_delivery_date timestamp"
)


def _engine(spark, tmp_path, orders_rows=None):
    eng = Engine(spark, str(tmp_path / "wh"))
    orders = spark.createDataFrame(
        orders_rows
        or [
            ("o1", "c1", "delivered", dt.datetime(2020, 1, 1), None, None, None, None),
            ("o2", "c1", "invoiced", dt.datetime(2020, 1, 2), None, None, None, None),
        ],
        ORDERS_SCHEMA,
    )
    customers = spark.createDataFrame(
        [("c1", "u1", 1037, "sao paulo", "SP")],
        "customer_id string, customer_unique_id string, "
        "customer_zip_code_prefix long, customer_city string, customer_state string",
    )
    items = spark.createDataFrame(
        [
            ("o1", 1, "p1", Decimal("10.00"), Decimal("2.50")),
            ("o2", 1, "p2", Decimal("7.00"), Decimal("1.00")),
        ],
        "order_id string, order_item_id long, product_id string, "
        "price decimal(38,2), freight_value decimal(38,2)",
    )
    eng.registry.register_source("olist_orders_dataset", orders)
    eng.registry.register_source("olist_customers_dataset", customers)
    eng.registry.register_source("olist_order_items_dataset", items)
    register_olist_models(eng.registry)
    # the reference's 5 tests (schema.yml:7-19 + assert_revenue_is_positive),
    # with the stg_customers ref bug fixed to the intended model
    eng.test_unique("fct_orders", "order_id")
    eng.test_not_null("fct_orders", "order_id")
    eng.test_not_null("fct_orders", "customer_id")
    eng.test_relationships("fct_orders", "customer_id", "stg_olist_customers", "customer_id")
    eng.test_singular(
        "assert_revenue_is_positive",
        "fct_orders",
        lambda df: df.select("order_id", "total_order_value").filter(
            F.col("total_order_value") < 0
        ),
    )
    return eng


def test_pipeline_all_green(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    result = eng.pipeline(select="+fct_orders")
    assert result.ok
    assert result.relations["fct_orders"].materialization == "table"
    assert result.relations["stg_items"].materialization == "view"
    assert len(result.tests) == 5
    assert all(t.passed for t in result.tests)
    # table was really written + registered
    assert spark.table("fct_orders").count() == 2


def test_pipeline_gating_on_failures(spark, tmp_path):
    rows = [
        ("o1", "c1", "delivered", dt.datetime(2020, 1, 1), None, None, None, None),
        ("o1", "c9", "delivered", dt.datetime(2020, 1, 2), None, None, None, None),
    ]
    eng = _engine(spark, tmp_path, orders_rows=rows)
    result = eng.pipeline(select="+fct_orders")
    assert result.built_ok and not result.tests_ok
    by_name = {t.name: t for t in result.tests}
    assert by_name["unique_fct_orders_order_id"].status == TestStatus.ERROR
    assert by_name["relationships_fct_orders_customer_id__stg_olist_customers"].failures == 1


def test_select_subset_runs_only_ancestors(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    rels = eng.run(select="+stg_items")
    assert set(rels) == {"stg_items"}


def test_table_rerun_overwrites_atomically(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    eng.pipeline(select="+fct_orders")
    first = spark.table("fct_orders").count()
    eng.pipeline(select="+fct_orders")
    assert spark.table("fct_orders").count() == first


def test_clone_zero_copy_shares_inodes_then_diverges(spark, sf_dir, tmp_path):
    import os

    from olist_snowflake_dbt_spark.plans.materialize import (
        clone_table,
        materialize_table,
    )
    from olist_snowflake_dbt_spark.sources.readers import read_table

    src_df = read_table(spark, sf_dir, "nation")
    rel = materialize_table(spark, "clone_src", src_df, str(tmp_path))
    dst = str(tmp_path / "clone_dst")
    n = clone_table(rel.path, dst)
    assert n > 0
    # identical rows...
    assert sorted(map(tuple, spark.read.parquet(dst).collect())) == sorted(
        map(tuple, spark.read.parquet(rel.path).collect())
    )
    # ...with ZERO copied bytes: every data file shares its inode
    src_inodes = {
        f: os.stat(os.path.join(rel.path, f)).st_ino
        for f in os.listdir(rel.path) if f.endswith(".parquet")
    }
    for f, ino in src_inodes.items():
        assert os.stat(os.path.join(dst, f)).st_ino == ino
    # clone is create-only
    import pytest

    with pytest.raises(FileExistsError):
        clone_table(rel.path, dst)
    # overwriting the ORIGINAL swaps in new files; the clone keeps serving
    # the old rows (copy-on-write divergence, like Snowflake clones)
    materialize_table(spark, "clone_src", src_df.limit(3), str(tmp_path))
    assert spark.read.parquet(dst).count() == src_df.count()
    assert spark.read.parquet(rel.path).count() == 3


def test_engine_incremental_materialization_merges_across_runs(spark, tmp_path):
    from olist_snowflake_dbt_spark.runner import Engine

    eng = Engine(spark, str(tmp_path))
    batches = {"n": 0}

    @eng.registry.model(name="latest_state", materialized="incremental",
                        unique_key=["id"], strategy="merge")
    def latest_state(ctx):
        if batches["n"] == 0:
            return ctx.spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        return ctx.spark.createDataFrame([(2, "b2"), (3, "c")], "id long, v string")

    eng.run()
    assert {r.id: r.v for r in eng.relations["latest_state"].df.collect()} == {
        1: "a", 2: "b"}
    batches["n"] = 1
    eng.run()
    assert {r.id: r.v for r in eng.relations["latest_state"].df.collect()} == {
        1: "a", 2: "b2", 3: "c"}


def test_engine_dynamic_table_materialization(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from olist_snowflake_dbt_spark.runner import Engine
    from olist_snowflake_dbt_spark.sources.readers import read_table
    from olist_snowflake_dbt_spark.streaming import (
        stream_events,
        windowed_event_counts,
    )

    eng = Engine(spark, str(tmp_path))

    @eng.registry.model(name="hourly_counts", materialized="dynamic_table",
                        unique_key=["window_start", "event_type"])
    def hourly_counts(ctx):
        return windowed_event_counts(
            stream_events(ctx.spark, sf_dir), "1 hour", watermark="30 minutes")

    eng.run()
    got = eng.relations["hourly_counts"].df.count()
    want = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour")["start"], "event_type")
        .count()
        .count()
    )
    assert got == want
    # tests can run against the dynamic table like any other model
    eng.test_not_null("hourly_counts", "event_type")
    assert all(t.status.name == "PASS" for t in eng.test())


def test_hooks_fire_in_order(spark, tmp_path):
    """pre_hook → build → post_hook per model; on_run_start/on_run_end
    bracket the invocation (dbt hooks.sql semantics)."""
    eng = _engine(spark, tmp_path)
    calls = []
    eng.on_run_start = lambda s, e: calls.append("run_start")
    eng.on_run_end = lambda s, e: calls.append("run_end")
    eng.registry.register(
        "audit_model",
        lambda ctx: ctx.ref("stg_items"),
        pre_hook=[lambda s, e: calls.append("pre")],
        post_hook=lambda s, e: calls.append("post"),
    )
    eng.run(select="+audit_model")
    assert calls[0] == "run_start" and calls[-1] == "run_end"
    assert calls.index("pre") < calls.index("post")


def test_sql_hook_executes_statement(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    eng.registry.register(
        "hooked",
        lambda ctx: ctx.ref("stg_items"),
        pre_hook="CREATE OR REPLACE TEMP VIEW __hook_probe AS SELECT 42 AS x",
    )
    eng.run(select="+hooked")
    assert spark.table("__hook_probe").first().x == 42


def test_source_freshness_thresholds(spark, tmp_path):
    from olist_snowflake_dbt_spark.runner import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    src = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 12, 0, 0))],
        "id string, loaded_at timestamp",
    )
    eng.registry.register_source("feed", src)
    as_of = dt.datetime(2024, 1, 1, 13, 0, 0)
    fresh = eng.source_freshness("feed", "loaded_at", 7200, 86400, as_of=as_of)
    warn = eng.source_freshness("feed", "loaded_at", 1800, 86400, as_of=as_of)
    err = eng.source_freshness("feed", "loaded_at", 600, 1800, as_of=as_of)
    assert fresh.fresh and fresh.age_seconds == 3600
    assert warn.status == TestStatus.WARN
    assert err.status == TestStatus.ERROR


def test_generate_docs_manifest(spark, tmp_path):
    import json

    eng = _engine(spark, tmp_path)
    manifest = eng.generate_docs()
    assert manifest["models"]["fct_orders"]["materialized"] == "table"
    assert "stg_olist_orders" in manifest["models"]["fct_orders"]["depends_on"]
    cols = {c["name"] for c in manifest["models"]["fct_orders"]["columns"]}
    assert {"order_id", "customer_id"} <= cols
    assert any(t["name"] == "unique_fct_orders_order_id" for t in manifest["tests"])
    on_disk = json.load(open(tmp_path / "wh" / "docs.json"))
    assert on_disk["models"].keys() == manifest["models"].keys()


def test_run_keep_going_skips_descendants_builds_siblings(spark, tmp_path):
    """dbt's default scheduling: a failed node fails, its descendants
    skip, independent branches still build."""
    from olist_snowflake_dbt_spark.runner import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    src = spark.createDataFrame([(1, "a")], "id long, v string")
    eng.registry.register_source("src", src)
    eng.registry.register("good_stg", "select id, v from {{ ref('src') }}")
    eng.registry.register(
        "bad_stg", "select no_such_column from {{ ref('src') }}"
    )
    eng.registry.register(
        "bad_child",
        "select * from {{ ref('bad_stg') }}",
        materialized="table",
    )
    eng.registry.register(
        "good_mart",
        "select count(*) as n from {{ ref('good_stg') }}",
        materialized="table",
    )
    results = eng.run_keep_going()
    assert results["good_stg"].status == "success"
    assert results["bad_stg"].status == "error" and results["bad_stg"].error
    assert results["bad_child"].status == "skipped"
    assert results["good_mart"].status == "success"
    assert spark.table("good_mart").first().n == 1


def test_engine_full_refresh_flows_to_incremental_model(spark, tmp_path):
    """Engine.full_refresh=True reaches the incremental materialization
    (dbt --full-refresh at the orchestration level)."""
    from olist_snowflake_dbt_spark.runner import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    src = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    eng.registry.register_source("src", src)
    eng.registry.register(
        "inc",
        "select * from {{ ref('src') }}",
        materialized="incremental",
        strategy="merge",
        unique_key=("id",),
    )
    eng.run(select="inc")
    assert spark.table("inc").count() == 2
    # second run with a 1-row source: merge would keep 2; full refresh -> 1
    eng.registry.register_source(
        "src", spark.createDataFrame([(3, "c")], "id long, v string")
    )
    eng.full_refresh = True
    eng.registry.invalidate()
    eng.run(select="inc")
    assert [r.id for r in spark.table("inc").collect()] == [3]


def test_keep_going_deep_sibling_subtree_still_builds(spark, tmp_path):
    from olist_snowflake_dbt_spark.runner import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.registry.register_source(
        "src", spark.createDataFrame([(1,)], "id long")
    )
    eng.registry.register("root_a", "select id from {{ ref('src') }}")
    eng.registry.register("bad_mid", "select boom from {{ ref('root_a') }}")
    eng.registry.register("bad_leaf", "select * from {{ ref('bad_mid') }}")
    eng.registry.register("ok_mid", "select id + 1 as id from {{ ref('root_a') }}")
    eng.registry.register(
        "ok_leaf",
        "select id * 10 as id from {{ ref('ok_mid') }}",
        materialized="table",
    )
    res = eng.run_keep_going()
    assert res["bad_mid"].status == "error"
    assert res["bad_leaf"].status == "skipped"
    assert res["ok_mid"].status == "success"
    assert res["ok_leaf"].status == "success"
    assert spark.table("ok_leaf").first().id == 20


def test_source_freshness_empty_source_errors(spark, tmp_path):
    from olist_snowflake_dbt_spark.runner import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    empty = spark.createDataFrame([], "id string, loaded_at timestamp")
    eng.registry.register_source("feed", empty)
    res = eng.source_freshness(
        "feed", "loaded_at", 60, 120, as_of=dt.datetime(2024, 1, 1)
    )
    assert res.status == TestStatus.ERROR and res.max_loaded_at is None


def test_generate_docs_documents_broken_model_without_raising(spark, tmp_path):
    from olist_snowflake_dbt_spark.runner import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.registry.register_source("src", spark.createDataFrame([(1,)], "id long"))
    eng.registry.register("ok", "select id from {{ ref('src') }}")
    eng.registry.register("broken", "select no_col from {{ ref('src') }}")
    manifest = eng.generate_docs(write=False)
    assert {c["name"] for c in manifest["models"]["ok"]["columns"]} == {"id"}
    assert "error" in manifest["models"]["broken"]["columns"][0]


def test_source_freshness_tz_mismatch_both_directions(spark, tmp_path):
    """ADVICE r05: aware-loaded/naive-as_of (and the reverse) must grade
    freshness instead of raising TypeError."""
    from olist_snowflake_dbt_spark.runner import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    aware = dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    src = spark.createDataFrame([("a", aware)], "id string, loaded_at timestamp")
    eng.registry.register_source("feed_tz", src)

    naive_as_of = dt.datetime(2024, 1, 1, 13, 0, 0)
    res = eng.source_freshness("feed_tz", "loaded_at", 7200, 86400,
                               as_of=naive_as_of)
    assert res.age_seconds is not None and res.status == TestStatus.PASS

    aware_as_of = dt.datetime(2024, 1, 1, 13, 0, 0, tzinfo=dt.timezone.utc)
    res2 = eng.source_freshness("feed_tz", "loaded_at", 1800, 86400,
                                as_of=aware_as_of)
    assert res2.age_seconds is not None and res2.status in (
        TestStatus.PASS, TestStatus.WARN
    )


def test_run_exclude_and_intersection_selection(spark, tmp_path):
    """dbt node-selection parity on the engine surface: --exclude
    subtracts, comma intersects, @ pulls descendants' ancestors."""
    eng = _engine(spark, tmp_path)
    all_nodes = eng.registry.select(None)
    built = eng.run(select="+fct_orders", exclude="fct_orders")
    assert "fct_orders" not in built
    assert set(built) == eng.registry.select("+fct_orders") - {"fct_orders"}
    # @staging-model builds the model, its mart descendant, and that
    # descendant's other parents
    at_sel = eng.registry.select("@stg_items")
    assert "fct_orders" in at_sel and "stg_items" in at_sel
    assert at_sel <= all_nodes


def test_state_modified_selection_and_write_state(spark, tmp_path):
    """dbt slim CI: write_state on 'main', then state:modified(+) against
    it selects exactly the redefined models (and their descendants)."""
    from olist_snowflake_dbt_spark.plans.registry import CompilationError
    from olist_snowflake_dbt_spark.runner import Engine
    import pytest as _pytest

    def build(defn_b):
        eng = Engine(spark, str(tmp_path / "wh_state"))
        eng.registry.register_source(
            "src", spark.createDataFrame([(1,)], "id long")
        )
        eng.registry.register("a", "select id from {{ ref('src') }}")
        eng.registry.register("b", defn_b)
        eng.registry.register("c", "select * from {{ ref('b') }}")
        return eng

    main = build("select id from {{ ref('a') }}")
    state_path = main.write_state()
    state = main.load_state(state_path)

    unchanged = build("select id from {{ ref('a') }}")
    assert unchanged.registry.select("state:modified", state=state) == set()
    assert unchanged.registry.select("state:new", state=state) == set()

    changed = build("select id, id + 1 as id2 from {{ ref('a') }}")
    changed.registry.register("d", "select * from {{ ref('a') }}")  # new node
    assert changed.registry.select("state:modified", state=state) == {"b", "d"}
    assert changed.registry.select("state:modified+", state=state) == {"b", "c", "d"}
    assert changed.registry.select("state:new", state=state) == {"d"}
    # building only the modified frontier works end-to-end
    built = changed.run(select="state:modified+", state=state)
    assert set(built) == {"b", "c", "d"}
    with _pytest.raises(CompilationError, match="state"):
        changed.registry.select("state:modified")  # no manifest passed


def test_retry_reruns_only_failed_and_skipped(spark, tmp_path):
    """dbt retry: after a keep-going run with a failing node, retry()
    replays exactly the errored node and its skipped descendants —
    fixed in the meantime, everything goes green without rebuilding the
    successful siblings."""
    from olist_snowflake_dbt_spark.runner import Engine

    eng = Engine(spark, str(tmp_path / "wh_retry"))
    eng.registry.register_source(
        "src", spark.createDataFrame([(1,)], "id long")
    )
    eng.registry.register("ok_model", "select id from {{ ref('src') }}")
    state = {"broken": True}

    def flaky(ctx):
        if state["broken"]:
            raise RuntimeError("transient failure")
        return ctx.ref("src")

    eng.registry.register("flaky", flaky)
    eng.registry.register("child", "select * from {{ ref('flaky') }}")

    first = eng.run_keep_going()
    assert first["ok_model"].status == "success"
    assert first["flaky"].status == "error"
    assert first["child"].status == "skipped"

    state["broken"] = False
    second = eng.retry()
    assert set(second) == {"flaky", "child"}  # successes NOT rebuilt
    assert all(r.status == "success" for r in second.values())
    assert eng.retry() == {}  # nothing left to retry


def test_model_contract_enforcement(spark, tmp_path):
    """dbt model contracts: a declared-columns contract gates the build
    — exact name+type match passes; missing/extra/drifted columns fail
    BEFORE materialization; enforced=False registers without checking."""
    from olist_snowflake_dbt_spark.runner import Engine
    import pytest as _pytest

    eng = Engine(spark, str(tmp_path / "wh_contract"))
    eng.registry.register_source(
        "src", spark.createDataFrame([(1, "a")], "id long, v string")
    )
    eng.registry.register(
        "good",
        "select id, v from {{ ref('src') }}",
        contract={"columns": {"id": "bigint", "v": "string"}},
    )
    assert "good" in eng.run(select="good")

    eng.registry.register(
        "drift",
        "select cast(id as int) as id, v from {{ ref('src') }}",
        contract={"columns": {"id": "bigint", "v": "string"}},
    )
    with _pytest.raises(ValueError, match="type_drift"):
        eng.run(select="drift")

    eng.registry.register(
        "extra",
        "select id, v, 1 as surprise from {{ ref('src') }}",
        contract={"columns": {"id": "bigint", "v": "string"}},
    )
    with _pytest.raises(ValueError, match="undeclared"):
        eng.run(select="extra")

    eng.registry.register(
        "unenforced",
        "select id from {{ ref('src') }}",
        contract={"enforced": False, "columns": {"id": "bigint", "v": "string"}},
    )
    assert "unenforced" in eng.run(select="unenforced")


def test_ls_lists_selection_without_building(spark, tmp_path):
    """dbt ls: selector resolution only — no materialization happens."""
    from olist_snowflake_dbt_spark.runner import Engine

    eng = Engine(spark, str(tmp_path / "wh_ls"))
    eng.registry.register_source("src", spark.createDataFrame([(1,)], "id long"))
    eng.registry.register("a", "select id from {{ ref('src') }}",
                          materialized="table")
    eng.registry.register("b", "select * from {{ ref('a') }}")
    assert eng.ls("+b") == ["a", "b"]
    assert eng.ls(None, exclude="b") == ["a"]
    import os
    assert not os.path.exists(str(tmp_path / "wh_ls" / "a"))  # nothing built


def test_exposures_impact_analysis_and_docs(spark, tmp_path):
    """dbt exposures: declared downstream consumers appear in the docs
    manifest and answer 'what breaks if I change X?'."""
    from olist_snowflake_dbt_spark.runner import Engine
    import pytest as _pytest

    eng = Engine(spark, str(tmp_path / "wh_exp"))
    eng.registry.register_source("src", spark.createDataFrame([(1,)], "id long"))
    eng.registry.register("stg", "select id from {{ ref('src') }}")
    eng.registry.register("mart", "select * from {{ ref('stg') }}")
    eng.register_exposure(
        "weekly_dashboard", ["mart"], owner="data-team", url="https://example.test/dash"
    )
    with _pytest.raises(ValueError, match="unknown models"):
        eng.register_exposure("bad", ["nope"])
    # changing stg impacts the dashboard (mart is downstream of stg)
    assert eng.impacted_exposures("stg") == ["weekly_dashboard"]
    assert eng.impacted_exposures("mart") == ["weekly_dashboard"]
    manifest = eng.generate_docs(write=False)
    assert manifest["exposures"]["weekly_dashboard"]["owner"] == "data-team"


def test_run_concurrent_builds_independent_marts_in_parallel(spark, tmp_path):
    """VERDICT r06 #8: independent DAG nodes materialize CONCURRENTLY
    (dbt's thread-pool scheduling, $DBT/dbt/task/runnable.py:437-440)
    with results identical to a serial run. Proof of true concurrency:
    the two independent marts' builders rendezvous on a Barrier — a
    serial scheduler would deadlock it (timeout), concurrent passes."""
    import threading

    from olist_snowflake_dbt_spark.runner import Engine

    barrier = threading.Barrier(2, timeout=30)
    eng = Engine(spark, str(tmp_path / "wh_conc"))
    eng.registry.register_source(
        "src", spark.range(0, 100).select("id", (F.col("id") % 7).alias("k"))
    )
    eng.registry.register("stg", "select * from {{ ref('src') }}")

    def _mart(agg):
        def build(ctx):
            barrier.wait()  # both marts must be in-flight at once
            return ctx.ref("stg").groupBy("k").agg(agg)

        return build

    eng.registry.register(
        "mart_a", _mart(F.sum("id").alias("v")), materialized="table"
    )
    eng.registry.register(
        "mart_b", _mart(F.count(F.lit(1)).alias("v")), materialized="table"
    )
    # a child of BOTH marts: must only start after both finish
    eng.registry.register(
        "combined",
        "select a.k, a.v + b.v as total from {{ ref('mart_a') }} a "
        "join {{ ref('mart_b') }} b on a.k = b.k",
        materialized="table",
    )
    out = eng.run_concurrent(threads=4)
    assert set(out) == {"stg", "mart_a", "mart_b", "combined"}
    got = {r.k: r.total for r in out["combined"].df.collect()}

    # identical results to a serial run of the same DAG
    eng2 = Engine(spark, str(tmp_path / "wh_serial"))
    eng2.registry.register_source(
        "src", spark.range(0, 100).select("id", (F.col("id") % 7).alias("k"))
    )
    eng2.registry.register("stg", "select * from {{ ref('src') }}")
    eng2.registry.register(
        "mart_a",
        lambda ctx: ctx.ref("stg").groupBy("k").agg(F.sum("id").alias("v")),
        materialized="table",
    )
    eng2.registry.register(
        "mart_b",
        lambda ctx: ctx.ref("stg").groupBy("k").agg(F.count(F.lit(1)).alias("v")),
        materialized="table",
    )
    eng2.registry.register(
        "combined",
        "select a.k, a.v + b.v as total from {{ ref('mart_a') }} a "
        "join {{ ref('mart_b') }} b on a.k = b.k",
        materialized="table",
    )
    want = {r.k: r.total for r in eng2.run()["combined"].df.collect()}
    assert got == want


def test_run_concurrent_failure_fails_fast_and_propagates(spark, tmp_path):
    """A failing node's error propagates (fail-fast, like run());
    in-flight siblings complete, downstream of the failure never runs."""
    import pytest as _pytest

    from olist_snowflake_dbt_spark.runner import Engine

    eng = Engine(spark, str(tmp_path / "wh_fail"))
    eng.registry.register_source("src", spark.range(0, 10))
    built = []

    def ok(ctx):
        built.append("ok")
        return ctx.ref("src")

    def boom(ctx):
        raise RuntimeError("injected model failure")

    eng.registry.register("good", ok, materialized="table")
    eng.registry.register("bad", boom, materialized="table")
    eng.registry.register(
        "downstream_of_bad",
        lambda ctx: ctx.ref("bad"),
        materialized="table",
    )
    with _pytest.raises(RuntimeError, match="injected model failure"):
        eng.run_concurrent(threads=2)
    assert "downstream_of_bad" not in eng.relations


def test_defer_resolves_unselected_parents_from_prod(spark, tmp_path):
    """dbt --defer: a slim-CI run of the modified subgraph resolves refs
    to UNSELECTED upstream models from the deferred (prod) warehouse —
    proven three ways: the deferred parent's PROD data (which local
    sources can no longer produce) flows into the CI build, the parent's
    builder never executes locally (it raises), and no parent artifact
    appears in the CI warehouse."""
    from olist_snowflake_dbt_spark.runner import Engine

    prod_wh = str(tmp_path / "prod_wh")
    ci_wh = str(tmp_path / "ci_wh")

    # prod: a (table) -> b (table), built from the prod source
    prod = Engine(spark, prod_wh)
    prod.registry.register_source(
        "src", spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
    )
    prod.registry.register(
        "a", "select id, v from {{ ref('src') }}", materialized="table"
    )
    prod.registry.register(
        "b", "select id, v * 2 as v2 from {{ ref('a') }}", materialized="table"
    )
    prod.run()
    state = prod.load_state(prod.write_state())

    # CI: 'a' has the SAME definition (unmodified by checksum), but the
    # CI environment's 'src' carries POISONED data (999s) — if the
    # deferred read were silently bypassed and 'a' rebuilt locally, the
    # numbers would betray it; 'b' is modified -> frontier = {'b'}
    ci = Engine(spark, ci_wh)
    ci.registry.register_source(
        "src", spark.createDataFrame([(1, 999), (2, 999)], "id long, v long")
    )
    ci.registry.register("a", "select id, v from {{ ref('src') }}",
                         materialized="table")
    ci.registry.register(
        "b", "select id, v * 3 as v2 from {{ ref('a') }}", materialized="table"
    )
    assert ci.registry.select("state:modified+", state=state) == {"b"}

    built = ci.run(select="state:modified+", state=state, defer=prod_wh)
    assert set(built) == {"b"}
    got = {r.id: r.v2 for r in built["b"].df.collect()}
    assert got == {1: 30, 2: 60}  # PROD 'a' data x the NEW x3 logic
    import os

    assert not os.path.exists(os.path.join(ci_wh, "a"))  # nothing built
    assert os.path.exists(os.path.join(ci_wh, "b"))
    # defer context is cleared after the run: a full rebuild now uses
    # the LOCAL (poisoned) source again instead of silently reading prod
    rebuilt = ci.run()
    assert {r.v2 for r in rebuilt["b"].df.collect()} == {999 * 3}


def test_defer_falls_back_to_local_build_when_artifact_missing(spark, tmp_path):
    """dbt's favor-local default: if the deferred environment has no
    artifact for an unselected parent, it builds locally."""
    from olist_snowflake_dbt_spark.runner import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.registry.register_source(
        "src", spark.createDataFrame([(5,)], "id long")
    )
    eng.registry.register("a", "select id from {{ ref('src') }}")
    eng.registry.register("b", "select id + 1 as id from {{ ref('a') }}",
                          materialized="table")
    built = eng.run(select="b", defer=str(tmp_path / "empty_prod"))
    assert [r.id for r in built["b"].df.collect()] == [6]


def _defer_fixture(spark, tmp_path, ci_src_vals):
    """prod(a -> b) built from clean source; CI registers the same 'a'
    (unmodified) over a poisoned source and a modified 'b'. Returns
    (ci_engine, state, prod_wh)."""
    from olist_snowflake_dbt_spark.runner import Engine

    prod_wh = str(tmp_path / "prod_wh")
    prod = Engine(spark, prod_wh)
    prod.registry.register_source(
        "src", spark.createDataFrame([(1, 10), (2, 20)], "id long, v long")
    )
    prod.registry.register(
        "a", "select id, v from {{ ref('src') }}", materialized="table"
    )
    prod.registry.register(
        "b", "select id, v * 2 as v2 from {{ ref('a') }}", materialized="table"
    )
    prod.run()
    state = prod.load_state(prod.write_state())

    ci = Engine(spark, str(tmp_path / "ci_wh"))
    ci.registry.register_source(
        "src", spark.createDataFrame(ci_src_vals, "id long, v long")
    )
    ci.registry.register(
        "a", "select id, v from {{ ref('src') }}", materialized="table"
    )
    ci.registry.register(
        "b", "select id, v * 3 as v2 from {{ ref('a') }}", materialized="table"
    )
    return ci, state, prod_wh


def test_defer_applies_on_threaded_runs_too(spark, tmp_path):
    """dbt applies --defer uniformly regardless of --threads: the
    concurrent scheduler must resolve unselected parents from the
    deferred warehouse exactly like the serial path (previously the
    threaded branch silently dropped the flag and rebuilt upstream
    lineage against CI sources)."""
    ci, state, prod_wh = _defer_fixture(spark, tmp_path, [(1, 999), (2, 999)])
    built = ci.run_concurrent(
        select="state:modified+", state=state, defer=prod_wh, threads=2
    )
    assert set(built) == {"b"}
    got = {r.id: r.v2 for r in built["b"].df.collect()}
    assert got == {1: 30, 2: 60}  # PROD 'a' data, not the poisoned 999s
    # defer context cleared even on the concurrent path
    rebuilt = ci.run_concurrent(threads=2)
    assert {r.v2 for r in rebuilt["b"].df.collect()} == {999 * 3}


def test_defer_favor_local_vs_favor_state_precedence(spark, tmp_path):
    """dbt's documented precedence: by DEFAULT an unselected parent with
    an artifact in the CURRENT warehouse resolves locally (favor-local);
    --favor-state flips it so the deferred artifact always wins."""
    ci, state, prod_wh = _defer_fixture(spark, tmp_path, [(1, 100), (2, 200)])
    ci.run()  # CI now has its OWN 'a' artifact (v=100/200)

    built = ci.run(select="state:modified+", state=state, defer=prod_wh)
    got = {r.id: r.v2 for r in built["b"].df.collect()}
    assert got == {1: 300, 2: 600}  # favor-local: CI 'a' (100/200) x3

    built = ci.run(
        select="state:modified+", state=state, defer=prod_wh, favor_state=True
    )
    got = {r.id: r.v2 for r in built["b"].df.collect()}
    assert got == {1: 30, 2: 60}  # favor-state: PROD 'a' (10/20) x3


class TestInterleavedBuild:
    def _engine(self, spark, tmp_path, bad_stg=False):
        eng = Engine(spark, str(tmp_path / "wh"))
        rows = [(1, "x"), (2, "y")] + ([(2, "dup")] if bad_stg else [])
        eng.registry.register_source(
            "src", spark.createDataFrame(rows, "k int, v string")
        )
        eng.registry.register("stg", "select k, v from {{ ref('src') }}",
                              materialized="table")
        eng.registry.register("mart", "select count(*) as n from {{ ref('stg') }}",
                              materialized="table")
        eng.registry.register("side", "select 1 as one", materialized="table")
        eng.test_unique("stg", "k")
        return eng

    def test_green_build_runs_everything(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path)
        res = eng.build()
        assert {n: r.status for n, r in res.items()} == {
            "stg": "success", "mart": "success", "side": "success",
        }

    def test_failing_test_skips_descendants_before_they_consume(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path, bad_stg=True)
        res = eng.build()
        assert res["stg"].status == "fail"
        assert "unique" in res["stg"].error
        # mart never materialized over the bad data...
        assert res["mart"].status == "skipped"
        assert "mart" not in eng.relations
        # ...while the independent branch still built (dbt build semantics)
        assert res["side"].status == "success"

    def test_warn_threshold_does_not_block(self, spark, tmp_path):
        eng = self._engine(spark, tmp_path, bad_stg=True)
        # raise the duplicate into warn territory (dbt warn_if/error_if)
        eng.tests[0].warn_if = 0
        eng.tests[0].error_if = 5
        res = eng.build()
        assert res["stg"].status == "success"
        assert res["mart"].status == "success"

    def test_store_failures_persists_failing_rows_like_test(self, spark, tmp_path):
        """build()'s test gate honours ``store_failures`` exactly as
        test() does: the failing rows land in ``_test_failures/<name>``."""
        eng = self._engine(spark, tmp_path, bad_stg=True)
        eng.tests[0].store_failures = True
        res = eng.build()
        assert res["stg"].status == "fail"
        stored = spark.read.parquet(
            str(tmp_path / "wh" / "_test_failures" / "unique_stg_k")
        )
        assert [(r.unique_field, r.n_records) for r in stored.collect()] == [(2, 2)]

    def test_erroring_test_marks_node_error_and_skips_descendants(self, spark, tmp_path):
        """A test whose evaluation raises gates like a failing one: the
        node is ``error``, its descendants skip, other branches build."""
        eng = self._engine(spark, tmp_path)

        def boom(df):
            raise RuntimeError("test query failed")

        eng.test_singular("boom_stg", "stg", boom)
        res = eng.build()
        assert res["stg"].status == "error"
        assert "test query failed" in res["stg"].error
        assert res["mart"].status == "skipped"
        assert res["side"].status == "success"


def test_keep_going_and_retry_honour_default_selector(spark, tmp_path):
    """A default selector scopes every run with no explicit selection
    (dbt ``default: true``), run_keep_going() included; retry() then
    replays exactly the errored and skipped nodes of that run."""
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.registry.register_source("src", spark.createDataFrame([(1,)], "id long"))
    state = {"broken": True}

    def flaky(ctx):
        if state["broken"]:
            raise RuntimeError("transient failure")
        return ctx.ref("src")

    eng.registry.register("a", flaky)
    eng.registry.register("a_child", "select * from {{ ref('a') }}")
    eng.registry.register("b", "select id from {{ ref('src') }}")
    eng.define_selector("a_tree", "a+", default=True)

    first = eng.run_keep_going()
    assert {n: r.status for n, r in first.items()} == {
        "a": "error", "a_child": "skipped",
    }
    state["broken"] = False
    second = eng.retry()
    assert {n: r.status for n, r in second.items()} == {
        "a": "success", "a_child": "success",
    }
    assert sorted(eng.run()) == sorted(eng.build()) == ["a", "a_child"]


def test_scheduler_order_and_results_independent_of_threads(spark, tmp_path):
    """run() and run_concurrent(threads=1) start nodes in the same
    topological order; threads=4 builds identical relations on a
    diamond DAG (stg -> {left, right} -> joined)."""

    def engine(wh, started):
        eng = Engine(spark, str(tmp_path / wh))
        eng.registry.register_source("src", spark.range(0, 20))

        def reg(name, sql, **kw):
            eng.registry.register(
                name, sql, pre_hook=lambda s, e: started.append(name), **kw
            )

        reg("z_root", "select id from {{ ref('src') }}")
        reg("m_mid", "select id * 2 as id from {{ ref('src') }}")
        reg("a_leaf", "select id + 1 as id from {{ ref('z_root') }}")
        reg("b_leaf", "select id - 1 as id from {{ ref('m_mid') }}")
        return eng

    serial, threaded = [], []
    eng = engine("wh_serial", serial)
    eng.run()
    engine("wh_threads1", threaded).run_concurrent(threads=1)
    assert serial == threaded == eng.registry.topological_order()
    assert serial == ["z_root", "m_mid", "a_leaf", "b_leaf"]

    def diamond(wh):
        eng = Engine(spark, str(tmp_path / wh))
        eng.registry.register_source(
            "src", spark.range(0, 50).select("id", (F.col("id") % 5).alias("k"))
        )
        eng.registry.register("stg", "select * from {{ ref('src') }}")
        eng.registry.register(
            "left", "select k, sum(id) as s from {{ ref('stg') }} group by k",
            materialized="table",
        )
        eng.registry.register(
            "right", "select k, count(*) as n from {{ ref('stg') }} group by k",
            materialized="table",
        )
        eng.registry.register(
            "joined",
            "select l.k, l.s, r.n from {{ ref('left') }} l "
            "join {{ ref('right') }} r on l.k = r.k",
            materialized="table",
        )
        return eng

    def rows(out):
        return {n: sorted(rel.df.collect()) for n, rel in out.items()}

    one = diamond("wh_d1").run()
    four = diamond("wh_d4").run_concurrent(threads=4)
    assert list(one) == list(four) == ["stg", "left", "right", "joined"]
    assert rows(one) == rows(four)
