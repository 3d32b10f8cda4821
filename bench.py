"""Benchmark harness: runs every driver query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes its full distributed plan through the noop sink (no
driver-side collect — rows never leave the executors, mirroring how a
real pipeline would write to storage).
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import local_env  # noqa: E402,F401  (harness opt-in: protobuf site for tws)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from olist_snowflake_dbt_spark.session import get_spark
    from olist_snowflake_dbt_spark.queries import QUERIES
    from tools.measure import time_noop, warm

    spark = get_spark("bench")
    warm(spark, sf_dir)

    # Canary: a fixed synthetic probe (range → hash agg → noop) whose
    # CODE never changes across rounds, interleaved every ~20 queries.
    # Per-query times normalized by the nearest canary separate machine
    # drift (uniform canary rise — the +20% r07→r08 question) from a
    # real plan regression (one query's normalized time moves alone).
    # It deliberately reads no catalog table, so data-layout changes
    # can't touch it either.
    def run_canary() -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, 20_000_000)
            .selectExpr("id % 997 AS k", "id AS v")
            .groupBy("k")
            .agg({"v": "sum"})
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return round(time.perf_counter() - t0, 3)

    run_canary()  # discard: first execution pays codegen compile (~5x)
    canary_times: list[float] = [run_canary()]
    _CANARY_EVERY = 20

    # min-of-N per query (default 2): a single run sits on a ~2.5x noise
    # floor from JVM GC pauses and codegen compilation landing inside one
    # measurement (r04: cube_aggregate 13.9 s in-sequence vs 1.8 s
    # isolated); the min of two runs is a stable estimator of the true
    # plan cost. Override with SPARK_GRAFT_BENCH_RUNS=1 for a fast pass.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    timings: dict[str, float] = {}
    # every raw run per query is preserved (BENCH_DETAIL.json) so a
    # round-over-round drift is separable from a plan regression by
    # machine: a query whose min rose but whose spread straddles the old
    # min is noise; one whose EVERY run exceeds the old max changed plan
    raw_runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    canary_of: dict[str, int] = {}  # query -> index into canary_times
    for qi, (name, fn) in enumerate(QUERIES.items()):
        if qi and qi % _CANARY_EVERY == 0:
            canary_times.append(run_canary())
        canary_of[name] = len(canary_times) - 1
        try:
            t = time_noop(spark, functools.partial(fn, spark, sf_dir), n_runs)
        except Exception as exc:  # a broken query must not sink the run
            # a query that fails on ANY run is an error, not a timing —
            # never report it in both maps
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"bench: {name} failed: {errors[name]}", file=sys.stderr)
        else:
            timings[name], raw_runs[name] = t["min"], t["runs"]

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "total_wall_sec_all_queries",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    out["canary"] = canary_times
    # canary-normalized summary (round-12 verdict #5): `canary_mean` is
    # the drift yardstick — compare IT across rounds first; a uniform
    # canary rise explains a uniform wall rise (machine drift), while a
    # query whose normalized value moved alone changed plan.
    # `normalized_queries` = wall / governing-canary, the unit in which
    # round-over-round regressions should be read.
    canary_mean = round(sum(canary_times) / len(canary_times), 3)
    out["canary_mean"] = canary_mean
    out["normalized_queries"] = {
        k: round(v / canary_times[canary_of[k]], 2)
        for k, v in timings.items()
        if canary_times[canary_of[k]] > 0
    }
    if errors:
        out["errors"] = errors
    # full-precision per-query detail survives in the repo regardless of
    # how much stdout the caller keeps
    try:
        repo_dir = os.path.dirname(os.path.abspath(__file__))
        detail_path = os.path.join(repo_dir, "BENCH_DETAIL.json")
        detail = {
            **out,
            "queries": {
                k: {
                    "min": v,
                    "runs": raw_runs.get(k, []),
                    # wall time in units of the governing canary run —
                    # compare THIS across rounds, not raw seconds
                    "canary": canary_times[canary_of[k]],
                    "normalized": round(v / canary_times[canary_of[k]], 3)
                    if canary_times[canary_of[k]] > 0
                    else None,
                }
                for k, v in timings.items()
            },
            "n_runs": n_runs,
        }
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
        # ALSO keep a per-core-count copy: the driver runs the bench at
        # two core counts and the second run overwrites BENCH_DETAIL.json
        # (r14 lost its 32-core full-catalog detail this way). The
        # suffixed file makes each core count's 282-query detail durable,
        # so round-over-round comparisons can use the full catalog at
        # matched cores instead of the truncated stdout line. Additive:
        # the one-line stdout contract and BENCH_DETAIL.json unchanged.
        # The count is the parallelism the run used, so local[*] names
        # the file by its real core count.
        cpus = spark.sparkContext.defaultParallelism
        with open(os.path.join(repo_dir,
                               f"BENCH_DETAIL_c{cpus}.json"), "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError:
        pass
    # the driver records only the last ~2000 chars of stdout and parses
    # the JSON from it — a line longer than the window truncates at the
    # FRONT and parses as nothing (r01/r02 lost their first ~9 timings
    # this way). Shrink by dropping the FASTEST queries from the inline
    # map until the line fits, recording how many were omitted.
    _BUDGET = 1800
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > _BUDGET:
        by_time = sorted(timings, key=timings.get)
        omitted = 0
        while len(line) > _BUDGET and omitted < len(by_time):
            omitted += 1
            dropped = set(by_time[:omitted])
            out["queries"] = {
                k: round(v, 2)
                for k, v in timings.items()
                if k not in dropped
            }
            # shrink the normalized map in tandem — same kept set, so
            # the two maps stay comparable row-for-row
            out["normalized_queries"] = {
                k: round(v / canary_times[canary_of[k]], 2)
                for k, v in timings.items()
                if k not in dropped and canary_times[canary_of[k]] > 0
            }
            out["queries_omitted"] = omitted
            out["detail"] = "BENCH_DETAIL.json"
            line = json.dumps(out, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
