from __future__ import annotations

import datetime as dt

from olist_snowflake_dbt_spark.operators.incremental import (
    IncrementalTable,
    incremental_delete_insert,
    incremental_insert_overwrite,
    incremental_merge,
    incremental_microbatch,
)
from olist_snowflake_dbt_spark.operators.snapshots import snapshot_apply, snapshot_init

SCHEMA = "id long, v string, ts timestamp"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _existing(spark):
    return _df(spark, [
        (1, "a", dt.datetime(2020, 1, 1)),
        (2, "b", dt.datetime(2020, 1, 1)),
    ])


def _batch(spark):
    return _df(spark, [
        (2, "b2", dt.datetime(2020, 1, 2)),
        (3, "c", dt.datetime(2020, 1, 2)),
    ])


def test_merge_upserts(spark):
    out = {r.id: r.v for r in incremental_merge(_existing(spark), _batch(spark), ["id"]).collect()}
    assert out == {1: "a", 2: "b2", 3: "c"}


def test_merge_dedupe_order(spark):
    batch = _df(spark, [
        (2, "old", dt.datetime(2020, 1, 2)),
        (2, "new", dt.datetime(2020, 1, 3)),
    ])
    out = {r.id: r.v for r in
           incremental_merge(_existing(spark), batch, ["id"], dedupe_order="ts").collect()}
    assert out[2] == "new"


def test_delete_insert_allows_dup_batch_keys(spark):
    batch = _df(spark, [
        (2, "x", dt.datetime(2020, 1, 2)),
        (2, "y", dt.datetime(2020, 1, 2)),
    ])
    out = incremental_delete_insert(_existing(spark), batch, ["id"])
    assert out.filter("id = 2").count() == 2
    assert out.count() == 3


def test_insert_overwrite_partitions(spark):
    existing = spark.createDataFrame(
        [(1, "a", "2020-01-01"), (2, "b", "2020-01-02")], "id long, v string, dt string")
    batch = spark.createDataFrame([(9, "z", "2020-01-02")], "id long, v string, dt string")
    out = incremental_insert_overwrite(existing, batch, ["dt"])
    rows = {(r.id, r.dt) for r in out.collect()}
    assert rows == {(1, "2020-01-01"), (9, "2020-01-02")}


def test_microbatch_idempotent(spark):
    existing = _existing(spark)
    batch = _df(spark, [(5, "e", dt.datetime(2020, 1, 1, 5))])
    out = incremental_microbatch(existing, batch, "ts", "1 day")
    # batch's day bucket (jan 1) replaces existing jan-1 rows
    assert {r.id for r in out.collect()} == {5}
    out2 = incremental_microbatch(out, batch, "ts", "1 day")
    assert {r.id for r in out2.collect()} == {5}


def test_incremental_table_lifecycle(spark, tmp_path):
    t = IncrementalTable(spark, str(tmp_path / "t"))
    t.apply(_existing(spark), strategy="merge", unique_key=["id"])
    assert t.read().count() == 2
    t.apply(_batch(spark), strategy="merge", unique_key=["id"])
    out = {r.id: r.v for r in t.read().collect()}
    assert out == {1: "a", 2: "b2", 3: "c"}
    t.apply(_df(spark, [(4, "d", dt.datetime(2020, 1, 3))]), strategy="append")
    assert t.read().count() == 4


def test_scd2_timestamp_strategy(spark):
    src1 = _df(spark, [(1, "a", dt.datetime(2020, 1, 1)), (2, "b", dt.datetime(2020, 1, 1))])
    snap = snapshot_init(src1, ["id"], "ts")
    assert snap.filter("dbt_valid_to is null").count() == 2

    src2 = _df(spark, [
        (1, "a", dt.datetime(2020, 1, 1)),      # unchanged
        (2, "b2", dt.datetime(2020, 1, 5)),     # changed (newer ts)
        (3, "c", dt.datetime(2020, 1, 5)),      # new key
    ])
    snap2 = snapshot_apply(snap, src2, ["id"], "timestamp", updated_at="ts")
    rows = snap2.collect()
    assert len(rows) == 4  # 1 open unchanged + 2 closed/open pair for id=2 + 1 new
    open_now = {r.id: r.v for r in rows if r.dbt_valid_to is None}
    assert open_now == {1: "a", 2: "b2", 3: "c"}
    closed = [r for r in rows if r.dbt_valid_to is not None]
    assert len(closed) == 1 and closed[0].id == 2 and closed[0].v == "b"
    assert closed[0].dbt_valid_to == dt.datetime(2020, 1, 5)


def test_scd2_check_strategy_null_safe(spark):
    src1 = spark.createDataFrame([(1, None), (2, "b")], "id long, v string")
    snap = snapshot_init(
        src1.withColumn("ts", __import__("pyspark").sql.functions.lit("2020-01-01").cast("timestamp")),
        ["id"], "ts")
    src2 = spark.createDataFrame([(1, None), (2, "bX")], "id long, v string")
    snap2 = snapshot_apply(
        snap, src2.withColumn(
            "ts", __import__("pyspark").sql.functions.lit("2020-02-01").cast("timestamp")),
        ["id"], "check", check_cols=["v"], updated_at="ts")
    # id=1 NULL == NULL (null-safe) → unchanged; id=2 changed
    assert snap2.filter("id = 1").count() == 1
    assert snap2.filter("id = 2").count() == 2
    assert snap2.filter("id = 2 and dbt_valid_to is null").collect()[0].v == "bX"


def test_scd2_multiple_rounds(spark):
    src1 = _df(spark, [(1, "v1", dt.datetime(2020, 1, 1))])
    snap = snapshot_init(src1, ["id"], "ts")
    for i, v in enumerate(["v2", "v3"], start=2):
        src = _df(spark, [(1, v, dt.datetime(2020, 1, i))])
        snap = snapshot_apply(snap, src, ["id"], "timestamp", updated_at="ts")
    hist = sorted(snap.collect(), key=lambda r: r.dbt_valid_from)
    assert [r.v for r in hist] == ["v1", "v2", "v3"]
    assert [r.dbt_valid_to is None for r in hist] == [False, False, True]
    # contiguous validity windows
    assert hist[0].dbt_valid_to == hist[1].dbt_valid_from


def test_scd2_null_timestamp_row_survives(spark):
    # VERDICT r2: a NULL updated_at on either side made row_changed NULL,
    # which dropped the key from BOTH surviving and inserts — data loss.
    snap = snapshot_init(
        _df(spark, [(1, "a", dt.datetime(2020, 1, 1)), (2, "b", None)]),
        ["id"], "ts")
    src = _df(spark, [
        (1, "a1", None),                       # NULL src ts → treated unchanged
        (2, "b1", dt.datetime(2020, 1, 5)),    # NULL cur ts → treated unchanged
    ])
    out = snapshot_apply(snap, src, ["id"], "timestamp", updated_at="ts")
    open_now = {r.id: r.v for r in out.collect() if r.dbt_valid_to is None}
    # both keys still present, original versions kept open (not changed)
    assert open_now == {1: "a", 2: "b"}
    assert out.count() == 2


def test_insert_overwrite_requires_partition_cols(spark):
    import pytest

    with pytest.raises(ValueError, match="partition_cols"):
        incremental_insert_overwrite(_existing(spark), _batch(spark), [])


def test_merge_requires_unique_key(spark):
    import pytest

    with pytest.raises(ValueError, match="unique_key"):
        incremental_merge(_existing(spark), _batch(spark), [])


def test_full_refresh_discards_standing_table(spark, tmp_path):
    """dbt --full-refresh: the standing table is rebuilt from the batch
    alone, regardless of strategy."""
    from olist_snowflake_dbt_spark.operators.incremental import IncrementalTable

    t = IncrementalTable(spark, str(tmp_path / "tbl"))
    first = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    t.apply(first, strategy="merge", unique_key=("id",))
    assert t.read().count() == 2
    batch = spark.createDataFrame([(3, "c")], "id long, v string")
    # merge would keep ids 1,2 and add 3; full refresh keeps only 3
    out = t.apply(batch, strategy="merge", unique_key=("id",), full_refresh=True)
    assert [r.id for r in out.collect()] == [3]


def test_on_schema_change_modes(spark, tmp_path):
    """dbt on_schema_change: ignore drops new cols, fail raises,
    append_new_columns backfills NULL, sync_all_columns follows batch."""
    import pytest as _pytest

    from olist_snowflake_dbt_spark.operators.incremental import IncrementalTable

    def fresh(name):
        t = IncrementalTable(spark, str(tmp_path / name))
        t.apply(
            spark.createDataFrame([(1, "a")], "id long, v string"),
            strategy="merge", unique_key=("id",),
        )
        return t

    widened = spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double")

    out = fresh("t_ignore").apply(
        widened, strategy="merge", unique_key=("id",), on_schema_change="ignore"
    )
    assert set(out.columns) == {"id", "v"}

    with _pytest.raises(ValueError, match="schema changed"):
        fresh("t_fail").apply(
            widened, strategy="merge", unique_key=("id",), on_schema_change="fail"
        )

    out = fresh("t_append").apply(
        widened, strategy="merge", unique_key=("id",),
        on_schema_change="append_new_columns",
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[1].score is None and rows[2].score == 9.5

    narrowed = spark.createDataFrame([(3, 1.5)], "id long, score double")
    t = fresh("t_sync")
    t.apply(widened, strategy="merge", unique_key=("id",),
            on_schema_change="sync_all_columns")
    out = t.apply(narrowed, strategy="merge", unique_key=("id",),
                  on_schema_change="sync_all_columns")
    assert set(out.columns) == {"id", "score"}
    assert {r.id for r in out.collect()} == {1, 2, 3}


def test_on_schema_change_with_insert_overwrite_partitions(spark, tmp_path):
    """Schema sync composes with partition-scoped overwrite: the new
    column appears across the table, untouched partitions keep rows."""
    from olist_snowflake_dbt_spark.operators.incremental import IncrementalTable

    t = IncrementalTable(spark, str(tmp_path / "tbl"), partition_by=("day",))
    t.apply(
        spark.createDataFrame(
            [(1, "d1", "a"), (2, "d2", "b")], "id long, day string, v string"
        ),
        strategy="insert_overwrite",
    )
    widened = spark.createDataFrame(
        [(3, "d2", "c", 1.5)], "id long, day string, v string, score double"
    )
    out = t.apply(
        widened,
        strategy="insert_overwrite",
        on_schema_change="append_new_columns",
    )
    rows = {r.id: r for r in out.collect()}
    # d1 untouched (score backfilled NULL); d2 replaced wholesale
    assert set(rows) == {1, 3}
    assert rows[1].score is None and rows[3].score == 1.5


def test_append_with_schema_change_rewrites_reconciled(spark, tmp_path):
    """strategy='append' + on_schema_change that widens/narrows the column
    set must produce a table whose EVERY read sees the reconciled schema —
    a bare file append would leave mixed parquet footers and spark.read
    (no mergeSchema) would pick one arbitrarily, silently dropping the new
    column (ADVICE r05)."""
    from olist_snowflake_dbt_spark.operators.incremental import IncrementalTable

    # append_new_columns: widened batch appended, old rows backfill NULL
    t = IncrementalTable(spark, str(tmp_path / "t_app_widen"))
    t.apply(spark.createDataFrame([(1, "a")], "id long, v string"),
            strategy="append")
    widened = spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    )
    out = t.apply(widened, strategy="append",
                  on_schema_change="append_new_columns")
    assert set(out.columns) == {"id", "v", "score"}
    rows = {r.id: r for r in out.collect()}
    assert rows[1].score is None and rows[2].score == 9.5
    # the standing FILES carry the reconciled schema: a fresh read (new
    # session-level scan, still no mergeSchema) must agree
    again = spark.read.parquet(str(tmp_path / "t_app_widen"))
    assert set(again.columns) == {"id", "v", "score"}

    # sync_all_columns: narrowed batch drops the column everywhere
    t2 = IncrementalTable(spark, str(tmp_path / "t_app_narrow"))
    t2.apply(spark.createDataFrame([(1, "a", 1.0)],
                                   "id long, v string, score double"),
             strategy="append")
    narrowed = spark.createDataFrame([(2, "b")], "id long, v string")
    out2 = t2.apply(narrowed, strategy="append",
                    on_schema_change="sync_all_columns")
    assert set(out2.columns) == {"id", "v"}
    assert {r.id for r in out2.collect()} == {1, 2}

    # unchanged schema still takes the no-rewrite file-append path
    t3 = IncrementalTable(spark, str(tmp_path / "t_app_same"))
    t3.apply(spark.createDataFrame([(1, "a")], "id long, v string"),
             strategy="append")
    import os
    files_before = {
        f for f in os.listdir(str(tmp_path / "t_app_same"))
        if f.endswith(".parquet")
    }
    t3.apply(spark.createDataFrame([(2, "b")], "id long, v string"),
             strategy="append", on_schema_change="append_new_columns")
    files_after = {
        f for f in os.listdir(str(tmp_path / "t_app_same"))
        if f.endswith(".parquet")
    }
    assert files_before < files_after  # old files still present: pure append


class TestIncrementalPredicates:
    def _table(self, spark, tmp_path, partition_by=()):
        from olist_snowflake_dbt_spark.operators.incremental import IncrementalTable

        return IncrementalTable(spark, str(tmp_path / "t"), partition_by)

    def test_scoped_merge_only_touches_in_scope_rows(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.apply(
            spark.createDataFrame(
                [(1, "2024-01-01", "old-jan"), (2, "2024-02-01", "old-feb"),
                 (3, "2024-02-02", "old-feb2")],
                "k int, d string, v string",
            ),
            strategy="merge", unique_key=("k",),
        )
        out = t.apply(
            spark.createDataFrame([(2, "2024-02-01", "NEW")], "k int, d string, v string"),
            strategy="merge", unique_key=("k",),
            incremental_predicates=["d >= '2024-02-01'"],
        )
        got = {r.k: r.v for r in out.collect()}
        assert got == {1: "old-jan", 2: "NEW", 3: "old-feb2"}

    def test_key_outside_scope_is_not_matched_dbt_footgun(self, spark, tmp_path):
        """dbt documents that incremental_predicates scope the match: a
        batch key whose standing row lies OUTSIDE the predicate window
        does not match and is inserted. Faithful = duplicate key."""
        t = self._table(spark, tmp_path)
        t.apply(
            spark.createDataFrame([(1, "2024-01-01", "old")], "k int, d string, v string"),
            strategy="merge", unique_key=("k",),
        )
        out = t.apply(
            spark.createDataFrame([(1, "2024-02-01", "new")], "k int, d string, v string"),
            strategy="merge", unique_key=("k",),
            incremental_predicates=["d >= '2024-02-01'"],
        )
        assert sorted(r.v for r in out.collect()) == ["new", "old"]

    def test_null_predicate_rows_stay_untouched(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.apply(
            spark.createDataFrame([(1, None, "nullrow"), (2, "2024-02-01", "feb")],
                                  "k int, d string, v string"),
            strategy="merge", unique_key=("k",),
        )
        out = t.apply(
            spark.createDataFrame([(2, "2024-02-01", "NEW")], "k int, d string, v string"),
            strategy="merge", unique_key=("k",),
            incremental_predicates=["d >= '2024-01-01'"],
        )
        got = {r.k: r.v for r in out.collect()}
        assert got == {1: "nullrow", 2: "NEW"}

    def test_predicates_compose_with_partition_pruning(self, spark, tmp_path):
        t = self._table(spark, tmp_path, partition_by=("d",))
        t.apply(
            spark.createDataFrame(
                [(1, "a", "x1"), (2, "b", "x2"), (3, "c", "x3")],
                "k int, d string, v string",
            ),
            strategy="merge", unique_key=("k",),
        )
        out = t.apply(
            spark.createDataFrame([(2, "b", "X2")], "k int, d string, v string"),
            strategy="merge", unique_key=("k",),
            incremental_predicates=["d in ('b')"],
        )
        got = {r.k: r.v for r in out.collect()}
        assert got == {1: "x1", 2: "X2", 3: "x3"}

    def test_engine_config_passthrough(self, spark, tmp_path):
        from olist_snowflake_dbt_spark.runner import Engine

        eng = Engine(spark, str(tmp_path / "wh"))
        holder = {"df": spark.createDataFrame(
            [(1, "2024-01-05", 10.0), (2, "2024-02-05", 20.0)], "k int, d string, v double")}
        eng.registry.register_source("src", lambda s: holder["df"])

        @eng.registry.model(
            name="inc", materialized="incremental", strategy="merge",
            unique_key=("k",), incremental_predicates=["d >= '2024-02-01'"],
        )
        def inc(ctx):
            return ctx.ref("src")

        eng.run()
        holder["df"] = spark.createDataFrame([(2, "2024-02-05", 99.0)], "k int, d string, v double")
        eng.registry.register_source("src", lambda s: holder["df"])
        out = eng.run()["inc"].df
        got = {r.k: r.v for r in out.collect()}
        assert got == {1: 10.0, 2: 99.0}


class TestMergeUpdateColumns:
    """dbt merge_update_columns / merge_exclude_columns: matched rows
    keep existing values outside the update set (audit-column
    preservation); unmatched batch rows insert everything."""

    def _frames(self, spark):
        existing = spark.createDataFrame(
            [(1, "a", 10.0, "2020-01-01"), (2, "b", 20.0, "2020-01-02")],
            "id long, name string, amount double, created_at string",
        )
        batch = spark.createDataFrame(
            [(2, "B2", 99.0, "2021-06-06"), (3, "c", 30.0, "2021-07-07")],
            "id long, name string, amount double, created_at string",
        )
        return existing, batch

    def test_update_columns_preserves_others(self, spark):
        from olist_snowflake_dbt_spark.operators.incremental import (
            incremental_merge,
        )

        existing, batch = self._frames(spark)
        out = {
            r.id: r
            for r in incremental_merge(
                existing, batch, ["id"], merge_update_columns=["amount"]
            ).collect()
        }
        assert len(out) == 3
        # matched row: amount from batch, name + created_at preserved
        assert (out[2].amount, out[2].name, out[2].created_at) == (
            99.0, "b", "2020-01-02",
        )
        # unmatched batch row inserts ALL columns
        assert (out[3].name, out[3].created_at) == ("c", "2021-07-07")
        # untouched row intact
        assert out[1].amount == 10.0

    def test_exclude_columns_is_the_complement(self, spark):
        from olist_snowflake_dbt_spark.operators.incremental import (
            incremental_merge,
        )

        existing, batch = self._frames(spark)
        out = {
            r.id: r
            for r in incremental_merge(
                existing, batch, ["id"], merge_exclude_columns=["created_at"]
            ).collect()
        }
        assert (out[2].name, out[2].amount, out[2].created_at) == (
            "B2", 99.0, "2020-01-02",
        )

    def test_both_configs_raise(self, spark):
        import pytest as _pytest

        from olist_snowflake_dbt_spark.operators.incremental import (
            incremental_merge,
        )

        existing, batch = self._frames(spark)
        with _pytest.raises(ValueError, match="mutually exclusive"):
            incremental_merge(
                existing, batch, ["id"],
                merge_update_columns=["amount"],
                merge_exclude_columns=["name"],
            )

    def test_key_in_update_columns_raises(self, spark):
        import pytest as _pytest

        from olist_snowflake_dbt_spark.operators.incremental import (
            incremental_merge,
        )

        existing, batch = self._frames(spark)
        with _pytest.raises(ValueError, match="invalid merge update"):
            incremental_merge(
                existing, batch, ["id"], merge_update_columns=["id", "name"]
            )

    def test_engine_config_passthrough(self, spark, tmp_path):
        from olist_snowflake_dbt_spark.runner import Engine

        eng = Engine(spark, str(tmp_path / "wh"))
        batches = [
            [(1, "a", 10.0, "day1")],
            [(1, "A!", 77.0, "day2"), (2, "b", 20.0, "day2")],
        ]
        state = {"i": 0}

        @eng.registry.model(
            materialized="incremental",
            unique_key=["id"],
            strategy="merge",
            merge_exclude_columns=["created_at"],
        )
        def audit_merge(ctx):
            return ctx.spark.createDataFrame(
                batches[state["i"]],
                "id long, name string, amount double, created_at string",
            )

        eng.run(select="audit_merge")
        state["i"] = 1
        eng.registry.invalidate()
        out = {r.id: r for r in eng.run(select="audit_merge")["audit_merge"].df.collect()}
        assert (out[1].name, out[1].amount, out[1].created_at) == ("A!", 77.0, "day1")
        assert out[2].created_at == "day2"


class TestMergeFullSync:
    def _dfs(self, spark):
        existing = spark.createDataFrame(
            [(1, "old"), (2, "old"), (3, "old")], "k long, v string"
        )
        source = spark.createDataFrame(
            [(2, "new"), (3, None), (4, "new")], "k long, v string"
        )
        return existing, source

    def test_hard_delete_mirrors_source(self, spark):
        from olist_snowflake_dbt_spark.operators.incremental import (
            merge_full_sync,
        )

        e, s = self._dfs(spark)
        got = {r["k"]: r["v"] for r in merge_full_sync(e, s, ["k"]).collect()}
        # 1 deleted; 2 updated; 3 updated TO NULL (presence wins, no
        # coalesce resurrection); 4 inserted
        assert got == {2: "new", 3: None, 4: "new"}

    def test_soft_delete_tombstones(self, spark):
        from olist_snowflake_dbt_spark.operators.incremental import (
            merge_full_sync,
        )

        e, s = self._dfs(spark)
        got = {
            r["k"]: (r["v"], r["gone"])
            for r in merge_full_sync(
                e, s, ["k"], soft_delete_col="gone"
            ).collect()
        }
        assert got[1] == ("old", True)
        assert got[2] == ("new", False)
        assert got[4] == ("new", False)

    def test_schema_mismatch_raises(self, spark):
        import pytest as _pytest

        from olist_snowflake_dbt_spark.operators.incremental import (
            merge_full_sync,
        )

        e = spark.createDataFrame([(1, "x")], "k long, v string")
        s = spark.createDataFrame([(1, "x", 2)], "k long, v string, extra long")
        with _pytest.raises(ValueError, match="schemas must match"):
            merge_full_sync(e, s, ["k"])
