"""The one measurement method behind ``bench.py`` and the ``tools/``
lanes: warm-up, min-of-N noop-sink timing, cleanup between runs,
shuffle/spill byte counters and the SCALING.json read-modify-write.

Importing this module starts no Spark session; every function takes
the caller's ``spark``.
"""

from __future__ import annotations

import json
import os
import time

from py4j.protocol import Py4JJavaError

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALING_PATH = os.path.join(REPO, "SCALING.json")
MB = 1024.0 * 1024.0


def warm(spark, *sf_dirs: str) -> None:
    """Run a trivial job, then read one row of every input table under
    each scale dir, so timed runs pay neither JVM/codegen startup nor
    the first Parquet scan's reader init. ``read_table`` reads each
    footer schema on the driver on every call (nothing is cached), so
    warming changes no later read's schema."""
    from olist_snowflake_dbt_spark.sources.readers import TESTDATA_TABLES, read_table

    spark.range(1).count()
    for sf_dir in sf_dirs:
        for t in TESTDATA_TABLES:
            try:
                read_table(spark, sf_dir, t).limit(1).count()
            except Exception:  # best effort: a table absent at this scale
                pass


def cleanup(spark) -> None:
    """Release the operator-registered frames (their registry holds
    strong references until released), drop every cached frame, then
    run a JVM GC: broadcast blocks and shuffle state are only reclaimed
    by the ContextCleaner after one, and without it queries ~30+ into a
    run measured 10-20x their true cost (dedup_simhash 54 s polluted vs
    3 s clean)."""
    from olist_snowflake_dbt_spark.operators._cache import release_operator_caches

    release_operator_caches(spark)
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def _counters(spark) -> tuple[int, int]:
    """(executor shuffle-write total, newest job id) once the listener
    bus has delivered every event. The executor counter is monotonic for
    the JVM's life, so deltas survive stage-store eviction."""
    sc = spark._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    ex = store.executorList(False)
    jobs = store.jobsList(None)  # newest first
    return (
        sum(ex.apply(i).totalShuffleWrite() for i in range(ex.size())),
        jobs.apply(0).jobId() if jobs.size() else -1,
    )


def _moved_mb(spark, mark: tuple[int, int]) -> dict[str, float]:
    """Shuffle write and disk/memory spill since ``mark``. Spill exists
    only per stage, so it sums the last attempt of every stage of the
    jobs started since the mark."""
    shuffle0, job0 = mark
    shuffle1, job1 = _counters(spark)
    store = spark._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for jid in range(job0 + 1, job1 + 1):
        try:
            ids = store.job(jid).stageIds()
        except Py4JJavaError:  # evicted past spark.ui.retainedJobs
            continue
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    disk = mem = 0
    for sid in stage_ids:
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted past spark.ui.retainedStages
            continue
        disk += s.diskBytesSpilled()
        mem += s.memoryBytesSpilled()
    return {
        "shuffle_mb": round((shuffle1 - shuffle0) / MB, 2),
        "spill_disk_mb": round(disk / MB, 2),
        "spill_mem_mb": round(mem / MB, 2),
    }


def time_noop(spark, make_df, runs: int) -> dict:
    """Min-of-``runs`` wall seconds of building ``make_df()`` and writing
    it to the noop sink, so rows never leave the executors.

    ``cleanup`` runs after every run, a failed one too; the failure is
    then re-raised, so a caller never gets a timing for a query that
    failed on any run. Returns ``{"min", "runs", "shuffle_mb",
    "spill_disk_mb", "spill_mem_mb"}``; the byte counts are run 0's.
    """
    times: list[float] = []
    moved: dict[str, float] = {}
    for r in range(runs):
        try:
            mark = _counters(spark) if r == 0 else None
            t0 = time.perf_counter()
            make_df().write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
            if r == 0:
                moved = _moved_mb(spark, mark)
        finally:
            cleanup(spark)
    return {"min": min(times), "runs": times, **moved}


def _second_decade(key: str) -> bool:
    return key.startswith("sf10") or key.endswith("_d2")


def write_scaling(
    rows: dict[str, dict],
    lane: str | None = None,
    top: dict | None = None,
    path: str = SCALING_PATH,
) -> None:
    """Merge results into SCALING.json, replacing only what is named.

    Without ``lane``, ``rows[name]`` replaces that query's flat row and
    keeps its nested lanes, and its second-decade keys (``sf10*``,
    ``*_d2``) too when the new row measured no sf10; with ``lane``, it
    replaces ``queries[name][lane]`` alone. ``top`` replaces those
    top-level keys. Every other query, lane and top-level key is kept. The file is
    swapped in whole, so an interrupted write cannot truncate it.
    """
    try:
        with open(path) as fh:
            doc = json.load(fh)
    except FileNotFoundError:
        doc = {}
    queries = doc.setdefault("queries", {})
    for name, row in rows.items():
        entry = queries.setdefault(name, {})
        if lane is None:
            keep_d2 = not any(map(_second_decade, row))
            kept = {k: v for k, v in entry.items()
                    if isinstance(v, dict) or (keep_d2 and _second_decade(k))}
            queries[name] = {**row, **kept}
        else:
            entry[lane] = row
    doc.update(top or {})
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    os.replace(tmp, path)
