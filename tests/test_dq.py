from __future__ import annotations

from olist_snowflake_dbt_spark.operators.dq import (
    TestStatus,
    accepted_values_failures,
    evaluate_test,
    not_null_failures,
    relationship_failures,
    unique_failures,
    verdict_frame,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_unique_pass_and_fail(spark):
    ok = _df(spark, [("a",), ("b",), (None,), (None,)], "order_id string")
    assert unique_failures(ok, "order_id").count() == 0  # NULLs don't count
    dup = _df(spark, [("a",), ("a",), ("b",)], "order_id string")
    fails = unique_failures(dup, "order_id").collect()
    assert len(fails) == 1
    assert fails[0].unique_field == "a" and fails[0].n_records == 2


def test_not_null(spark):
    df = _df(spark, [("a", 1), (None, 2)], "order_id string, v long")
    fails = not_null_failures(df, "order_id").collect()
    assert len(fails) == 1 and fails[0].v == 2


def test_relationships_anti_join(spark):
    child = _df(spark, [("o1", "c1"), ("o2", "c9"), ("o3", None)],
                "order_id string, customer_id string")
    parent = _df(spark, [("c1",), ("c2",)], "customer_id string")
    fails = relationship_failures(child, "customer_id", parent, "customer_id").collect()
    # NULL FK is exempt (reference macro filters child NOT NULL)
    assert [f.order_id for f in fails] == ["o2"]


def test_accepted_values(spark):
    df = _df(spark, [("O",), ("F",), ("X",), ("X",)], "status string")
    fails = accepted_values_failures(df, "status", ["O", "F"]).collect()
    assert len(fails) == 1
    assert fails[0].value_field == "X" and fails[0].n_records == 2


def test_verdict_and_evaluate(spark):
    bad = _df(spark, [("x",)], "c string")
    empty = bad.filter("c is null")
    v = verdict_frame(bad).collect()[0]
    assert v.failures == 1 and v.should_error
    assert evaluate_test("t", empty).status == TestStatus.PASS
    assert evaluate_test("t", bad).status == TestStatus.ERROR
    # warn_if/error_if thresholds (dbt severity config)
    assert evaluate_test("t", bad, warn_if=0, error_if=5).status == TestStatus.WARN


def test_store_failures(spark, tmp_path):
    bad = _df(spark, [("x",)], "c string")
    path = str(tmp_path / "failures")
    res = evaluate_test("t", bad, store_failures_path=path)
    assert res.failures == 1
    assert spark.read.parquet(path).count() == 1


def test_unit_test_diff_and_verdict(spark):
    from olist_snowflake_dbt_spark.operators.dq import (
        evaluate_unit_test,
        unit_test_diff,
    )

    actual = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b")], "id long, v string")
    same = spark.createDataFrame([(2, "b"), (1, "a"), (2, "b")], "id long, v string")
    assert unit_test_diff(actual, same).count() == 0
    assert evaluate_unit_test("t", actual, same).passed

    diff = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    rows = unit_test_diff(actual, diff).collect()
    # multiset semantics: the extra (2, b) shows up as actual-only
    assert [(r.id, r.v, r.actual_or_expected) for r in rows] == [(2, "b", "actual")]
    assert not evaluate_unit_test("t", actual, diff).passed


class TestThresholdGrammar:
    """dbt test config surface: expression warn_if/error_if, fail_calc,
    limit (materializations/tests/helpers.sql:5-13)."""

    def _failing(self, spark, n=7, weight=10):
        return spark.createDataFrame(
            [(i, weight) for i in range(n)], "id long, n_records long"
        )

    def test_expression_thresholds(self, spark):
        from olist_snowflake_dbt_spark.operators.dq import (
            TestStatus,
            evaluate_test,
        )

        f = self._failing(spark, n=7)
        # 7 failures: warn over 5, error over 10 → WARN
        r = evaluate_test("t", f, warn_if=">5", error_if=">10")
        assert r.status == TestStatus.WARN and r.failures == 7
        assert evaluate_test("t", f, warn_if=">5", error_if=">=7").status == TestStatus.ERROR
        assert evaluate_test("t", f, warn_if="!=7", error_if=">10").status == TestStatus.PASS
        # legacy int semantics unchanged: > N
        assert evaluate_test("t", f, warn_if=7, error_if=7).status == TestStatus.PASS

    def test_fail_calc_weighs_groups(self, spark):
        from olist_snowflake_dbt_spark.operators.dq import (
            TestStatus,
            evaluate_test,
        )

        f = self._failing(spark, n=3, weight=50)  # sum = 150
        r = evaluate_test(
            "t", f, fail_calc="sum(n_records)", warn_if="!=0", error_if=">100"
        )
        assert r.failures == 150 and r.status == TestStatus.ERROR
        # empty failing set with a sum fail_calc → 0 → PASS
        empty = f.filter("id < 0")
        r0 = evaluate_test(
            "t", empty, fail_calc="sum(n_records)", warn_if="!=0", error_if="!=0"
        )
        assert r0.failures == 0 and r0.status == TestStatus.PASS

    def test_limit_caps_failing_rows(self, spark):
        from olist_snowflake_dbt_spark.operators.dq import evaluate_test

        f = self._failing(spark, n=50)
        assert evaluate_test("t", f, limit=5).failures == 5

    def test_bad_expression_raises(self, spark):
        import pytest as _pytest

        from olist_snowflake_dbt_spark.operators.dq import evaluate_test

        with _pytest.raises(ValueError, match="unsupported threshold"):
            evaluate_test("t", self._failing(spark), warn_if="~5")
