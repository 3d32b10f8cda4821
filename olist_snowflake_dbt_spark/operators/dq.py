"""Data-quality test operators (SURVEY.md §2 A10-A15, B7).

Each generic test is a *failing-rows query builder*: semantics ported from
dbt's generic test macros —

- unique:          macros/generic_test_sql/unique.sql:1-13
- not_null:        macros/generic_test_sql/not_null.sql:1-9
- relationships:   macros/generic_test_sql/relationships.sql:1-23
- accepted_values: macros/generic_test_sql/accepted_values.sql:1-30
- verdict wrapper: macros/materializations/tests/helpers.sql:5-13 with
  defaults warn_if/error_if "!= 0" (dbt/artifacts/resources/v1/
  config.py:180-182)

Singular tests are arbitrary DataFrame predicates (tests/
assert_revenue_is_positive.sql:3-7 shape).

Scale: every test is a distributed plan — unique/accepted_values shuffle
once on the tested column (map-side partial counts first), not_null is a
scan-with-filter (pushed to parquet), relationships is a LEFT ANTI join
that AQE can turn into broadcast when the parent's key set is small. A
test never collects rows to the driver; the verdict needs only a count.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class TestStatus(str, Enum):
    PASS = "pass"
    WARN = "warn"
    ERROR = "error"


# -- generic test builders (failing-rows queries) ----------------------


def unique_failures(df: DataFrame, column: str) -> DataFrame:
    """Non-null values of ``column`` that occur more than once.
    Output: (unique_field, n_records) — matches dbt's unique.sql shape."""
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(F.col(column).alias("unique_field"))
        .agg(F.count(F.lit(1)).alias("n_records"))
        .filter(F.col("n_records") > 1)
    )


def not_null_failures(
    df: DataFrame, column: str, keep: Sequence[str] | None = None
) -> DataFrame:
    """Rows where ``column`` IS NULL (optionally projected to ``keep``)."""
    out = df.filter(F.col(column).isNull())
    return out.select(*keep) if keep else out


def relationship_failures(
    child: DataFrame, fk: str, parent: DataFrame, pk: str
) -> DataFrame:
    """Child rows whose non-null FK has no parent — LEFT ANTI join
    (the reference renders child LEFT JOIN parent ... WHERE parent IS NULL;
    anti-join is the same relation, one fewer projection)."""
    parent_keys = parent.select(F.col(pk).alias("__pk")).dropDuplicates()
    return child.filter(F.col(fk).isNotNull()).join(
        parent_keys, child[fk] == F.col("__pk"), "left_anti"
    )


def accepted_values_failures(
    df: DataFrame, column: str, values: Sequence, quote: bool = True
) -> DataFrame:
    """Grouped values outside the accepted list.
    Output: (value_field, n_records)."""
    return (
        df.groupBy(F.col(column).alias("value_field"))
        .agg(F.count(F.lit(1)).alias("n_records"))
        .filter(~F.col("value_field").isin(*values))
    )


# -- verdict layer -----------------------------------------------------


def verdict_frame(failing_rows: DataFrame) -> DataFrame:
    """One-row (failures, should_warn, should_error) frame — the Spark
    rendering of get_test_sql's wrapper."""
    return failing_rows.agg(
        F.count(F.lit(1)).alias("failures"),
        (F.count(F.lit(1)) != 0).alias("should_warn"),
        (F.count(F.lit(1)) != 0).alias("should_error"),
    )


@dataclass
class TestResult:
    name: str
    status: TestStatus
    failures: int

    @property
    def passed(self) -> bool:
        return self.status == TestStatus.PASS


def unit_test_diff(actual: DataFrame, expected: DataFrame) -> DataFrame:
    """B6 unit-test fixture compare (dbt-core
    materializations/tests/helpers.sql:19-46): symmetric multiset diff of
    actual vs expected, tagged ``actual_or_expected`` — empty ⇔ the model
    output equals the fixture exactly (duplicates counted). Spark twin of
    the reference's UNION-ALL-of-two-EXCEPTs; ``exceptAll`` keeps
    multiset semantics."""
    cols = [F.col(c) for c in expected.columns]
    only_actual = actual.select(*cols).exceptAll(expected.select(*cols))
    only_expected = expected.select(*cols).exceptAll(actual.select(*cols))
    return only_actual.withColumn(
        "actual_or_expected", F.lit("actual")
    ).unionByName(
        only_expected.withColumn("actual_or_expected", F.lit("expected"))
    )


def evaluate_unit_test(name: str, actual: DataFrame, expected: DataFrame) -> "TestResult":
    """Unit-test verdict: pass iff the symmetric diff is empty."""
    return evaluate_test(name, unit_test_diff(actual, expected))


def _threshold_hit(value: int, spec: "int | str") -> bool:
    """dbt warn_if/error_if: an int N keeps the legacy ``> N`` reading;
    a string is dbt's condition grammar (``"!=0"``, ``">10"``, ``">=5"``,
    ``"<3"`` …) evaluated against the fail_calc value — the test fires
    (warns/errors) when the condition is TRUE, exactly dbt's
    ``{fail_calc} {warn_if}`` rendering
    (materializations/tests/helpers.sql:5-13)."""
    if isinstance(spec, int):
        return value > spec
    import re as _re

    m = _re.fullmatch(r"\s*(!=|>=|<=|>|<|=)\s*(-?\d+)\s*", spec)
    if m is None:
        raise ValueError(f"unsupported threshold expression: {spec!r}")
    op, n = m.group(1), int(m.group(2))
    return {
        "!=": value != n,
        ">=": value >= n,
        "<=": value <= n,
        ">": value > n,
        "<": value < n,
        "=": value == n,
    }[op]


def evaluate_test(
    name: str,
    failing_rows: DataFrame,
    warn_if: "int | str" = 0,
    error_if: "int | str" = 0,
    store_failures_path: str | None = None,
    fail_calc: str = "count(*)",
    limit: int | None = None,
) -> TestResult:
    """Failing rows → pass/warn/error verdict, the full dbt test config
    surface (materializations/tests/test.sql + helpers.sql:5-13):

    - ``fail_calc``: the aggregate measured over the failing rows —
      default ``count(*)``; dbt allows e.g. ``sum(n_records)`` so a
      rolled-up test weighs each failing group by its size.
    - ``warn_if`` / ``error_if``: int N = legacy ``> N``; a string is
      dbt's condition grammar applied to the fail_calc value.
    - ``limit``: cap applied to the failing-row set BEFORE fail_calc
      (dbt renders ``{{ "limit " ~ limit }}`` inside the failing-rows
      subquery) — bounds the work a pathological test does at 100 TB.
    - ``store_failures_path``: persists the (limited) failing rows (B7).

    Pass iff neither condition fires (dbt defaults: both ``!= 0`` ⇒
    pass only at zero failures; the int-0 default here is equivalent for
    non-negative counts)."""
    for _spec in (warn_if, error_if):
        if isinstance(_spec, str):
            _threshold_hit(0, _spec)  # validate grammar up front
    custom_calc = fail_calc.strip().lower() != "count(*)"
    if custom_calc:
        # dbt's default error_if/warn_if is "!= 0", which the legacy
        # int-0 "> 0" reading only matches for non-negative values.
        # count(*) is always non-negative, but a custom fail_calc (e.g.
        # sum(balance_delta)) can go NEGATIVE — keep dbt's semantics by
        # upgrading the default int-0 threshold to the "!=0" grammar so
        # a negative fail_calc still fires. Explicit non-zero ints keep
        # the documented legacy "> N" reading.
        if warn_if == 0 and isinstance(warn_if, int):
            warn_if = "!=0"
        if error_if == 0 and isinstance(error_if, int):
            error_if = "!=0"
    if limit is not None:
        failing_rows = failing_rows.limit(limit)
    if store_failures_path is not None:
        failing_rows.write.mode("overwrite").parquet(store_failures_path)
    if fail_calc.strip().lower() == "count(*)":
        failures = failing_rows.count()
    else:
        row = failing_rows.selectExpr(f"{fail_calc} AS __fail_calc").collect()
        raw = row[0][0] if row else 0
        failures = int(raw) if raw is not None else 0
    if _threshold_hit(failures, error_if):
        status = TestStatus.ERROR
    elif _threshold_hit(failures, warn_if):
        status = TestStatus.WARN
    else:
        status = TestStatus.PASS
    return TestResult(name, status, failures)
