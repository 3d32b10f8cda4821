"""The tools/ harness: the one timer, cleanup and SCALING.json merge in
tools/measure.py that bench.py, qbench and every scale_bench lane share,
the lane table, and local_env's checkout path for Python workers."""

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
                       "sf1_spill_disk_mb": 1.0, "sf10": 40.0,
                       "sf10_shuffle_mb": 90.0, "ratio_d2": 8.0,
                       "bytes_ratio_d2": 9.0,
                       "forced_smj": {"sf1": 4.0}, "zipf": {"x1": {}}},
                "q2": {"sf0.1": 2.0, "sf1": 8.0, "ratio": 4.0},
                "q4": {"sf1": 2.0, "sf10": 30.0, "ratio_d2": 15.0,
                       "bytes_ratio_d2": 9.0},
            },
        }, fh)

    # a run without sf10 keeps the sf10 decade; a run with it replaces it
    write_scaling({"q1": {"sf0.1": 1.5, "sf1": 3.0, "ratio": 2.0},
                   "q4": {"sf1": 2.0, "sf10": 20.0, "ratio_d2": 10.0}},
                  top={"runs_per_point": 2}, path=path)
    write_scaling({"q2": {"rows": 3}}, lane="state", path=path)
    write_scaling({"q3": {"k": 1}}, lane="k_scaling", path=path)

    with open(path) as fh:
        doc = json.load(fh)
    assert doc["state_note"] == "kept"
    assert doc["data_ratio"] == 10 and doc["runs_per_point"] == 2
    q = doc["queries"]
    assert q["q1"] == {"sf0.1": 1.5, "sf1": 3.0, "ratio": 2.0,
                       "sf10": 40.0, "sf10_shuffle_mb": 90.0,
                       "ratio_d2": 8.0, "bytes_ratio_d2": 9.0,
                       "forced_smj": {"sf1": 4.0}, "zipf": {"x1": {}}}
    assert q["q4"] == {"sf1": 2.0, "sf10": 20.0, "ratio_d2": 10.0}
    assert q["q2"] == {"sf0.1": 2.0, "sf1": 8.0, "ratio": 4.0,
                       "state": {"rows": 3}}
    assert q["q3"] == {"k_scaling": {"k": 1}}


@pytest.mark.parametrize("tool", ["qbench", "scale_bench"])
def test_tool_help_imports(tool):
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", f"{tool}.py"), "--help"],
        check=True, capture_output=True, timeout=60,
    )


def test_every_committed_lane_has_a_generator():
    from tools.lanes import LANES

    with open(os.path.join(REPO, "SCALING.json")) as fh:
        queries = json.load(fh)["queries"]
    committed = {k for entry in queries.values()
                 for k, v in entry.items() if isinstance(v, dict)}
    assert set(LANES) == committed


def test_oracle_tool_runs_python_workers_from_any_directory(tmp_path, sf_dir):
    # the workers import the package through PYTHONPATH, not the cwd
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    done = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_oracle.py"),
         sf_dir, "stream_stateful_totals"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stdout[-2000:] + done.stderr[-2000:]
    assert "1 passed, 0 failed" in done.stdout
