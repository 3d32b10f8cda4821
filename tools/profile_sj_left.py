"""Round-15 profiling harness for stream_stream_left_outer: replicate
q_stream_stream_left_outer phase by phase with wall timers and dump the
streaming query's per-batch progress (durationMs breakdown, state
operator metrics) so the 11.5 s driver reading can be attributed to
setup vs micro-batch machinery vs join work.

Usage: SPARK_GRAFT_CPUS=32 python tools/profile_sj_left.py [sf_dir]
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import local_env  # noqa: E402,F401

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from olist_snowflake_dbt_spark.session import get_spark
    from olist_snowflake_dbt_spark.sources.readers import read_table
    from olist_snowflake_dbt_spark.streaming import clicks_left_outer_errors
    from olist_snowflake_dbt_spark.streaming.events import _drain

    spark = get_spark("profile_sj_left")
    spark.range(1).count()
    read_table(spark, sf_dir, "events").limit(1).count()

    t = {}
    t0 = time.perf_counter()
    src = read_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type",
    )
    max_ts = src.agg(F.max("ts")).collect()[0][0]
    t["max_ts_agg"] = time.perf_counter() - t0

    sentinel_ts = max_ts + dt.timedelta(days=2)
    from olist_snowflake_dbt_spark.functions.local_frame import arrow_local_df

    sentinels = arrow_local_df(
        spark,
        [(-1, sentinel_ts, -1, "click"), (-2, sentinel_ts, -2, "error")],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    root = tempfile.mkdtemp(prefix="olist_sj_prof_")
    stage = os.path.join(root, "stream")
    os.makedirs(stage)
    t0 = time.perf_counter()
    for i, (df, tag) in enumerate([(src, "real"), (sentinels, "sentinel")]):
        t1 = time.perf_counter()
        part_dir = os.path.join(root, f"w{i}")
        df.coalesce(1).write.parquet(part_dir)
        [part] = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dst = os.path.join(stage, f"{i:03d}_{tag}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
        t[f"stage_write_{tag}"] = time.perf_counter() - t1
    t["staging_total"] = time.perf_counter() - t0

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    joined = clicks_left_outer_errors(
        stream, horizon="10 minutes", watermark="1 minute"
    )
    t0 = time.perf_counter()
    # the drain run_available_now uses, kept for its terminated query
    q = _drain(spark, joined.writeStream.format("memory")
               .queryName("prof_sink").outputMode("append"))
    t["stream_drain"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    n = spark.table("prof_sink").filter(F.col("user_id") >= 0).count()
    t["sink_filter_count"] = time.perf_counter() - t0
    t["result_rows"] = n

    progress = [json.loads(p.json) for p in q.recentProgress]
    out = {
        "phases_sec": {k: round(v, 3) if isinstance(v, float) else v
                       for k, v in t.items()},
        "n_batches": len(progress),
        "batches": [
            {
                "batchId": p.get("batchId"),
                "numInputRows": p.get("numInputRows"),
                "durationMs": p.get("durationMs"),
                "stateOperators": [
                    {
                        k: so.get(k)
                        for k in (
                            "operatorName", "numRowsTotal", "numRowsUpdated",
                            "commitTimeMs", "allUpdatesTimeMs",
                            "allRemovalsTimeMs", "numShufflePartitions",
                        )
                    }
                    for so in p.get("stateOperators", [])
                ],
            }
            for p in progress
        ],
    }
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
