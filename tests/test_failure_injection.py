"""Failure-injection tests for the exactly-once surfaces (VERDICT r06 #5).

The abort path (task failure → nothing published) is covered in
test_formats.py; these tests inject crashes INSIDE the driver-side
commit/publish protocols — the windows that bite at scale — and assert
the invariant every surface documents: **the previous generation stays
fully visible and internally consistent; readers never observe a partial
new generation.**

Surfaces:

- ``JsonlSinkWriter.commit`` (sources/pyds.py): crash between staged-file
  publish and manifest replace, and between manifest replace and
  superseded-file cleanup. The commit protocol is plain driver-side
  Python, so it is unit-tested in-process with the real writer.
- ``IncrementalTable._write_full`` (operators/incremental.py): crash
  during the backup-swap publish — the standing table must be restored.
- ``DynamicTable.refresh`` (plans/materialize.py): a merge failure mid
  micro-batch must leave the standing table untouched, and a retry
  against the SAME checkpoint must replay the uncommitted batch and
  converge (the end-to-end exactly-once contract: offsets commit only
  after the batch's side effects succeed).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


def _manifest_rows(path: str) -> list[dict]:
    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        return json.load(fh)


def _read_manifest_honoring(path: str) -> list[dict]:
    """What a manifest-honoring reader sees: exactly the manifest's
    files, in order."""
    rows = []
    for entry in _manifest_rows(path):
        with open(os.path.join(path, entry["file"])) as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def _stage_generation(out: str, cols, rows_per_file: list[list]) -> list:
    """Drive the REAL writer's executor half: stage one file per entry."""
    from olist_snowflake_dbt_spark.sources.pyds import JsonlSinkWriter

    writer = JsonlSinkWriter(out, list(cols), overwrite=True)
    return writer, [writer.write(iter(rows)) for rows in rows_per_file]


def _commit(writer, messages):
    writer.commit(messages)


def test_jsonl_sink_append_manifest_keeps_prior_generation(spark, tmp_path):
    """Append-mode commit must MERGE the previous manifest — dropping it
    would orphan committed rows for any manifest-honoring reader."""
    from olist_snowflake_dbt_spark.sources.pyds import register

    register(spark)
    out = str(tmp_path / "sink")
    os.makedirs(out, exist_ok=True)
    for lo, hi in ((0, 50), (50, 80)):
        spark.range(lo, hi).select("id").repartition(2).write.format(
            "jsonl_sink"
        ).option("path", out).mode("append").save()
    manifest = _manifest_rows(out)
    assert len(manifest) == 4  # 2 files per generation, both retained
    assert sum(m["rows"] for m in manifest) == 80
    seen = {r["id"] for r in _read_manifest_honoring(out)}
    assert seen == set(range(80))


def test_jsonl_sink_crash_before_manifest_keeps_old_generation(
    tmp_path, monkeypatch
):
    """Crash AFTER staged files are renamed in but BEFORE the manifest
    replace: the old manifest and every old part file must survive, so a
    manifest-honoring reader still sees exactly generation 1."""
    out = str(tmp_path / "sink")
    os.makedirs(out, exist_ok=True)
    w1, m1 = _stage_generation(out, ["id"], [[(1,), (2,)], [(3,)]])
    _commit(w1, m1)
    gen1_manifest = _manifest_rows(out)
    gen1_rows = _read_manifest_honoring(out)
    assert {r["id"] for r in gen1_rows} == {1, 2, 3}

    w2, m2 = _stage_generation(out, ["id"], [[(10,), (11,)]])
    real_replace = os.replace

    def torn_replace(src, dst):
        if dst.endswith("_MANIFEST.json"):
            raise OSError("injected crash: power loss before manifest publish")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", torn_replace)
    with pytest.raises(OSError, match="injected crash"):
        _commit(w2, m2)
    monkeypatch.undo()

    # old generation fully intact: manifest unchanged, all its files present
    assert _manifest_rows(out) == gen1_manifest
    assert {r["id"] for r in _read_manifest_honoring(out)} == {1, 2, 3}
    # the new generation's files may exist on disk (uuid names — no
    # collision with gen 1) but are invisible to the manifest
    manifest_files = {m["file"] for m in _manifest_rows(out)}
    for m in m2:
        assert m.file.replace("stage-", "part-") not in manifest_files


def test_jsonl_sink_crash_after_manifest_before_cleanup(tmp_path, monkeypatch):
    """Crash AFTER the manifest replace but BEFORE superseded-file
    removal: stale gen-1 files linger on disk, but the manifest is the
    commit point — a manifest-honoring reader sees exactly gen 2."""
    out = str(tmp_path / "sink")
    os.makedirs(out, exist_ok=True)
    w1, m1 = _stage_generation(out, ["id"], [[(1,), (2,)]])
    _commit(w1, m1)

    w2, m2 = _stage_generation(out, ["id"], [[(10,)], [(11,)]])
    real_remove = os.remove

    def crashing_remove(path):
        if os.path.basename(path).startswith("part-"):
            raise OSError("injected crash: died during superseded cleanup")
        return real_remove(path)

    monkeypatch.setattr(os, "remove", crashing_remove)
    with pytest.raises(OSError, match="injected crash"):
        _commit(w2, m2)
    monkeypatch.undo()

    # gen-1 files still on disk (cleanup never ran)...
    on_disk = {f for f in os.listdir(out) if f.startswith("part-")}
    gen1_file = m1[0].file.replace("stage-", "part-")
    assert gen1_file in on_disk
    # ...but the committed view is exactly generation 2
    assert {r["id"] for r in _read_manifest_honoring(out)} == {10, 11}
    assert sum(m["rows"] for m in _manifest_rows(out)) == 2


def test_incremental_write_full_crash_restores_old_generation(
    spark, tmp_path, monkeypatch
):
    """Crash during the backup-swap publish (tmp→final rename fails):
    the standing table must be RESTORED from backup — never a window
    where the table is missing or half-replaced."""
    from olist_snowflake_dbt_spark.operators.incremental import IncrementalTable

    path = str(tmp_path / "tbl")
    t = IncrementalTable(spark, path)
    t.apply(spark.range(0, 10).select("id", (F.col("id") * 2).alias("v")))
    assert t.read().count() == 10

    real_rename = os.rename
    fired = {"n": 0}

    def failing_publish(src, dst):
        # fail ONLY the tmp→final rename, once; the restore path's
        # backup→final rename must go through
        if ".tmp-" in src and fired["n"] == 0:
            fired["n"] += 1
            raise OSError("injected crash: publish rename failed")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_publish)
    with pytest.raises(OSError, match="injected crash"):
        t.apply(
            spark.range(0, 5).select("id", (F.col("id") * 3).alias("v")),
            strategy="merge",
            unique_key=["id"],
        )
    monkeypatch.undo()
    assert fired["n"] == 1

    # old generation restored and fully readable
    back = t.read()
    assert back.count() == 10
    assert back.filter(F.col("v") != F.col("id") * 2).count() == 0
    # no half-published backup dir left claiming to be the table
    assert os.path.isdir(path)


def test_dynamic_table_failed_refresh_keeps_table_then_retry_converges(
    spark, tmp_path
):
    """Merge failure mid micro-batch: the standing table is untouched;
    a retry against the SAME durable checkpoint replays the uncommitted
    batch (offsets only commit after the batch succeeds) and converges
    to the correct totals — end-to-end exactly-once."""
    from olist_snowflake_dbt_spark.plans.materialize import DynamicTable

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.range(0, 100).select(
        (F.col("id") % 5).alias("k"), F.lit(1).alias("n")
    ).write.parquet(src)

    def stream():
        return (
            spark.readStream.schema("k long, n int")
            .parquet(src)
            .groupBy("k")
            .agg(F.sum("n").alias("total"))
        )

    dt = DynamicTable(spark, str(tmp_path / "dyn"), ["k"])
    # generation 1: a committed table from a first (successful) refresh
    dt.refresh(stream(), checkpoint=ckpt)
    gen1 = {r.k: r.total for r in dt.read().collect()}
    assert gen1 == {k: 20 for k in range(5)}

    # new source data arrives, then the merge is made to fail mid-batch
    spark.range(100, 140).select(
        (F.col("id") % 5).alias("k"), F.lit(1).alias("n")
    ).write.mode("append").parquet(src)
    real_apply = dt._table.apply

    def failing_apply(*a, **kw):
        raise RuntimeError("injected crash: merge died mid-refresh")

    dt._table.apply = failing_apply
    with pytest.raises(Exception, match="injected crash"):
        dt.refresh(stream(), checkpoint=ckpt)
    dt._table.apply = real_apply

    # standing table untouched by the failed refresh
    assert {r.k: r.total for r in dt.read().collect()} == gen1

    # retry with the SAME checkpoint: the failed batch replays (its
    # offsets never committed) and the table converges exactly
    dt.refresh(stream(), checkpoint=ckpt)
    assert {r.k: r.total for r in dt.read().collect()} == {
        k: 28 for k in range(5)
    }


def test_partition_swap_leftover_backup_is_invisible(spark, tmp_path, monkeypatch):
    """``_atomic_swap`` of one ``key=value`` directory inside a live
    partitioned table: a backup that survives a crash (here: its removal
    is skipped) must not show up as an extra partition value."""
    import shutil

    from olist_snowflake_dbt_spark.plans.materialize import _atomic_swap

    root = str(tmp_path / "tbl")
    spark.range(0, 6).select(
        F.col("id"), (F.col("id") % 2).alias("k")
    ).write.partitionBy("k").parquet(root)
    new_k1 = str(tmp_path / "new_k1")
    spark.range(100, 103).write.parquet(new_k1)

    monkeypatch.setattr(shutil, "rmtree", lambda *a, **kw: None)
    _atomic_swap(os.path.join(root, "k=1"), new_k1)
    monkeypatch.undo()
    assert [d for d in os.listdir(root) if ".backup-" in d]  # it survived

    rows = {(r.id, r.k) for r in spark.read.parquet(root).collect()}
    assert rows == {(0, 0), (2, 0), (4, 0), (100, 1), (101, 1), (102, 1)}


class TestMultiTableInsertPromotion:
    """multi_table_insert's per-target promote loop (plans/materialize
    .multi_table_insert): a crash between target promotions must leave
    already-promoted targets on their NEW generation and every
    not-yet-promoted target on its intact PREVIOUS generation — the
    same backup-swap invariant materialize_table documents."""

    def _run(self, spark, wh, lo, hi):
        from olist_snowflake_dbt_spark.plans.materialize import (
            multi_table_insert,
        )

        df = spark.range(lo, hi).select(
            F.col("id"), (F.col("id") % 2).alias("band")
        )
        return multi_table_insert(
            spark,
            df,
            "__route",
            {"mti_even": F.col("band") == 0, "mti_odd": F.lit(True)},
            wh,
        )

    def test_crash_mid_promotion_keeps_prior_generations(
        self, spark, tmp_path, monkeypatch
    ):
        import olist_snowflake_dbt_spark.plans.materialize as mat

        wh = str(tmp_path / "wh")
        self._run(spark, wh, 0, 100)  # generation 1 for both targets
        gen1_even = {r.id for r in spark.read.parquet(f"{wh}/mti_even").collect()}
        gen1_odd = {r.id for r in spark.read.parquet(f"{wh}/mti_odd").collect()}

        real_swap = mat._atomic_swap
        calls = {"n": 0}

        def crashing_swap(final, tmp):
            calls["n"] += 1
            if calls["n"] == 2:  # first target promoted, second crashes
                raise OSError("injected: crash before second promote")
            real_swap(final, tmp)

        monkeypatch.setattr(mat, "_atomic_swap", crashing_swap)
        with pytest.raises(OSError, match="injected"):
            self._run(spark, wh, 1000, 1100)
        monkeypatch.setattr(mat, "_atomic_swap", real_swap)

        # first target in route order (mti_even) was promoted → gen 2;
        # the crashed target still serves gen 1, fully readable
        even_now = {r.id for r in spark.read.parquet(f"{wh}/mti_even").collect()}
        odd_now = {r.id for r in spark.read.parquet(f"{wh}/mti_odd").collect()}
        assert even_now == {i for i in range(1000, 1100) if i % 2 == 0}
        assert even_now != gen1_even
        assert odd_now == gen1_odd
        # the staging directory is cleaned up even on the crash path
        assert not [d for d in os.listdir(wh) if d.startswith(".mti-stage-")]

        # retry converges: both targets on generation 3
        self._run(spark, wh, 2000, 2100)
        assert {r.id for r in spark.read.parquet(f"{wh}/mti_odd").collect()} == {
            i for i in range(2000, 2100) if i % 2 == 1
        }


class TestResultCachePublish:
    """ResultCache.get_or_compute's publish (plans/result_cache.py):
    a crash at the tmp→final rename must leave existing entries intact
    and the failed entry ABSENT (no half-published directory a lookup
    could see); a retry recomputes and publishes."""

    def test_crash_at_publish_rename(self, spark, tmp_path, monkeypatch):
        import olist_snowflake_dbt_spark.plans.result_cache as rc

        cache = rc.ResultCache(spark, str(tmp_path / "rc"))
        plan_a = spark.range(10).selectExpr("id", "id * 2 AS v")
        plan_b = spark.range(20).selectExpr("id", "id * 3 AS v")
        out_a, hit_a = cache.get_or_compute(plan_a)
        assert not hit_a and out_a.count() == 10

        real_rename = os.rename

        def crashing_rename(src, dst):
            if str(dst).startswith(cache.root):
                raise OSError("injected: crash at cache publish")
            real_rename(src, dst)

        monkeypatch.setattr(rc.os, "rename", crashing_rename)
        with pytest.raises(OSError, match="injected"):
            cache.get_or_compute(plan_b)
        monkeypatch.setattr(rc.os, "rename", real_rename)

        # prior entry intact and still a HIT; failed entry invisible
        assert cache.lookup(plan_b) is None
        out_a2, hit_a2 = cache.get_or_compute(plan_a)
        assert hit_a2 and {r.v for r in out_a2.collect()} == {2 * i for i in range(10)}

        # retry publishes and the next call hits
        out_b, hit_b = cache.get_or_compute(plan_b)
        assert not hit_b and out_b.count() == 20
        _, hit_b2 = cache.get_or_compute(plan_b)
        assert hit_b2
