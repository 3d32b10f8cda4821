"""tools/measure.py: the one timer, cleanup and SCALING.json merge that
bench.py and every tools/ lane share."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tools.measure import cleanup, time_noop, write_scaling

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_timer_returns_every_run_and_their_min(spark):
    t = time_noop(spark, lambda: spark.range(1000), 3)
    assert len(t["runs"]) == 3
    assert t["min"] == min(t["runs"])


def test_timer_counts_shuffle_of_a_wide_plan_only(spark):
    # 50k distinct keys: enough partial-aggregate rows to move > 0.01 MB
    wide = time_noop(
        spark,
        lambda: spark.range(200_000).selectExpr("id % 50000 AS k").groupBy("k").count(),
        1,
    )
    narrow = time_noop(spark, lambda: spark.range(200_000).selectExpr("id * 2"), 1)
    assert wide["shuffle_mb"] > 0
    assert narrow["shuffle_mb"] == 0
    assert narrow["spill_disk_mb"] == narrow["spill_mem_mb"] == 0


@pytest.mark.parametrize("fail", [False, True])
def test_timer_uncaches_after_success_and_failure(spark, fail):
    view = f"measure_persist_{int(fail)}"

    def make():
        spark.range(100).createOrReplaceTempView(view)
        spark.catalog.cacheTable(view)
        spark.table(view).count()
        if fail:
            raise RuntimeError("factory failed")
        return spark.table(view)

    try:
        if fail:
            with pytest.raises(RuntimeError, match="factory failed"):
                time_noop(spark, make, 2)
        else:
            time_noop(spark, make, 2)
        assert not spark.catalog.isCached(view)
    finally:
        spark.catalog.dropTempView(view)


def test_cleanup_empties_the_operator_cache_registry(spark):
    from olist_snowflake_dbt_spark.operators._cache import _REGISTRY, scoped_persist

    frame = scoped_persist(spark.range(10).selectExpr("id * 3 AS x"))
    frame.count()
    assert _REGISTRY.get(spark)
    cleanup(spark)
    assert not _REGISTRY.get(spark)
    assert not frame.is_cached


def test_write_scaling_replaces_only_what_it_names(tmp_path):
    path = str(tmp_path / "SCALING.json")
    with open(path, "w") as fh:
        json.dump({
            "data_ratio": 10,
            "state_note": "kept",
            "queries": {
                "q1": {"sf0.1": 1.0, "sf1": 5.0, "ratio": 5.0,
                       "forced_smj": {"sf1": 4.0}, "zipf": {"x1": {}}},
                "q2": {"sf0.1": 2.0, "sf1": 8.0, "ratio": 4.0},
            },
        }, fh)

    write_scaling({"q1": {"sf0.1": 1.5, "sf1": 3.0, "ratio": 2.0}},
                  top={"runs_per_point": 2}, path=path)
    write_scaling({"q2": {"rows": 3}}, lane="state", path=path)
    write_scaling({"q3": {"k": 1}}, lane="k_scaling", path=path)

    with open(path) as fh:
        doc = json.load(fh)
    assert doc["state_note"] == "kept"
    assert doc["data_ratio"] == 10 and doc["runs_per_point"] == 2
    q = doc["queries"]
    assert q["q1"] == {"sf0.1": 1.5, "sf1": 3.0, "ratio": 2.0,
                       "forced_smj": {"sf1": 4.0}, "zipf": {"x1": {}}}
    assert q["q2"] == {"sf0.1": 2.0, "sf1": 8.0, "ratio": 4.0,
                       "state": {"rows": 3}}
    assert q["q3"] == {"k_scaling": {"k": 1}}


@pytest.mark.parametrize("tool", [
    "qbench", "scale_bench", "bpe_scale", "cap_zipf_scale", "oph_k_scale",
    "standing_growth_scale", "stream_state_bench",
])
def test_tool_help_imports(tool):
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", f"{tool}.py"), "--help"],
        check=True, capture_output=True, timeout=60,
    )
