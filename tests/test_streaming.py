from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olist_snowflake_dbt_spark.sources.readers import read_table
from olist_snowflake_dbt_spark.streaming import (
    dedup_within_watermark,
    run_available_now,
    session_stats,
    stream_events,
    user_running_totals,
    windowed_event_counts,
)


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    # mirror stream_events' normalization: ts as TIMESTAMP (LTZ) whatever
    # the on-disk layout, so stream-vs-batch compares are type-identical
    return (
        read_table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .cache()
    )


def test_windowed_counts_equal_batch(spark, sf_dir, batch_events):
    streamed = run_available_now(
        windowed_event_counts(stream_events(spark, sf_dir), "15 minutes"),
        "complete",
    )
    batch = batch_events.groupBy(
        F.window("ts", "15 minutes")["start"].alias("window_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("total_value"),
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_session_stats_equal_batch_gaps_and_islands(spark, sf_dir, batch_events):
    streamed = run_available_now(
        session_stats(stream_events(spark, sf_dir), gap="30 minutes"), "complete"
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    marked = batch_events.select(
        "user_id",
        "ts",
        F.when(
            F.col("ts") - F.lag("ts").over(w) <= F.expr("INTERVAL 30 MINUTES"),
            0,
        )
        .otherwise(1)
        .alias("new_session"),
    )
    numbered = marked.withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    batch = numbered.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        (F.max("ts") + F.expr("INTERVAL 30 minutes")).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).drop("session_no")
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_dedup_within_watermark_drops_planted(spark, sf_dir):
    ev = stream_events(spark, sf_dir)
    dup = ev.filter(F.col("event_id") % 97 == 0)
    both = ev.unionByName(dup).select("user_id", "ts", "event_type")
    out = run_available_now(
        dedup_within_watermark(both, ["user_id", "ts", "event_type"], "10 days"),
        "append",
    )
    batch_distinct = (
        read_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .distinct()
    )
    assert out.count() == batch_distinct.count()


def test_stateful_totals_accumulate_across_batches(spark, sf_dir, batch_events, tmp_path):
    # split the events into 3 files so AvailableNow runs 3 micro-batches
    # with maxFilesPerTrigger=1 — state must carry across batches
    src = str(tmp_path / "events_split")
    batch_events.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(batch_events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sink = run_available_now(user_running_totals(stream), "update")
    # update-mode memory sink appends every per-batch update row: the
    # LAST row per user carries the final running totals
    final = (
        sink.withColumn(
            "__rn",
            F.row_number().over(
                __import__("pyspark.sql", fromlist=["Window"])
                .Window.partitionBy("user_id")
                .orderBy(F.col("n_events").desc())
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    batch = batch_events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_value_cents"),
    )
    assert final.exceptAll(batch).count() == 0
    assert batch.exceptAll(final).count() == 0


def test_stream_stream_join_equals_batch_range_join(spark, sf_dir, batch_events):
    from olist_snowflake_dbt_spark.streaming import clicks_to_errors_join

    streamed = run_available_now(
        clicks_to_errors_join(
            stream_events(spark, sf_dir), "10 minutes", watermark="365 days"
        ),
        "append",
    )
    clicks = batch_events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    errors = batch_events.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("e_user"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (F.col("error_ts") < F.col("click_ts") + F.expr("INTERVAL 10 minutes"))
    )
    batch = clicks.join(errors, cond).select(
        F.col("c_user").alias("user_id"), "click_id", "error_id", "click_ts", "error_ts"
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_dynamic_table_refresh_upserts(spark, sf_dir, tmp_path):
    # B3: two full refreshes — the second must UPDATE every stale key
    # (re-aggregated over more data), not duplicate it, and the final
    # table must equal the batch aggregation over the whole source.
    from pyspark.sql import functions as F

    from olist_snowflake_dbt_spark.plans.materialize import DynamicTable
    from olist_snowflake_dbt_spark.sources.readers import read_table
    from olist_snowflake_dbt_spark.streaming import (
        stream_events,
        windowed_event_counts,
    )

    dt = DynamicTable(spark, str(tmp_path / "dyn"), ["window_start", "event_type"])
    cutoff = F.lit("2024-01-05").cast("timestamp")
    ev = stream_events(spark, sf_dir)
    dt.refresh(windowed_event_counts(
        ev.filter(F.col("ts") < cutoff), "1 hour", watermark="30 minutes"))
    first = dt.read().count()
    dt.refresh(windowed_event_counts(ev, "1 hour", watermark="30 minutes"))
    got = {
        (r.window_start, r.event_type): (r.n_events, str(r.total_value))
        for r in dt.read().collect()
    }
    batch = read_table(spark, sf_dir, "events").groupBy(
        F.window("ts", "1 hour")["start"].alias("window_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("total_value"),
    )
    want = {
        (r.window_start, r.event_type): (r.n_events, str(r.total_value))
        for r in batch.collect()
    }
    assert got == want
    assert first < len(got)  # second refresh really added the post-cutoff keys


def test_enrich_with_dim_equals_batch_join(spark, sf_dir):
    from olist_snowflake_dbt_spark.sources.readers import read_table
    from olist_snowflake_dbt_spark.streaming import (
        enrich_with_dim,
        run_available_now,
        stream_events,
    )

    dim = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = enrich_with_dim(
        stream_events(spark, sf_dir),
        dim,
        stream_key="user_id",
        dim_key="c_custkey",
        dim_cols=["c_mktsegment"],
    ).select("event_id", "user_id", "c_mktsegment")
    sink = run_available_now(enriched, "append", state_partitions=4)

    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id")
    expected = ev.join(
        dim.withColumnRenamed("c_custkey", "user_id"), "user_id"
    ).select("event_id", "user_id", "c_mktsegment")
    assert sink.exceptAll(expected).count() == 0
    assert expected.exceptAll(sink).count() == 0


def test_stateful_totals_on_rocksdb_state_store(spark, sf_dir, batch_events):
    """The applyInPandasWithState operator must run unchanged on the
    RocksDB state store provider — the production backend whose state
    size is bounded by disk, not executor heap (the HDFS-backed default
    keeps every key in memory)."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        streamed = run_available_now(
            user_running_totals(stream_events(spark, sf_dir)), "update"
        )
        batch = batch_events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("value") * 100).cast("decimal(18,0)"))
            .cast("bigint")
            .alias("total_value_cents"),
        )
        assert streamed.exceptAll(batch).count() == 0
        assert batch.exceptAll(streamed).count() == 0
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

def test_watermark_drops_late_rows_for_finalized_windows(spark, tmp_path):
    """The watermark guarantee append-mode aggregation actually makes:
    once a window has been finalized (watermark passed it, result
    emitted), a late row for that window in a LATER micro-batch is
    DROPPED — the emitted count never changes and the row shows up in
    the numRowsDroppedByWatermark metric. (A late row arriving before
    its window was ever finalized MAY still be included — watermark is
    an eviction bound, not an input filter; that best-effort case is
    deliberately not pinned.) File mtimes pin the batch order."""
    import os
    import time

    schema = "ts timestamp, event_type string, value double"
    d = tmp_path / "late_stream"

    def write(sub, rows):
        spark.createDataFrame(
            rows, "ts string, event_type string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(
            str(d / sub)
        )

    # b1: the 09:00 window gets its on-time row; max ts 10:10 → watermark 09:40
    write("a=1", [("2024-01-01 09:00:00", "click", 1.0),
                  ("2024-01-01 10:10:00", "click", 1.0)])
    # b2: advances the stream; at its start the 09:00 window (end 09:15
    # <= watermark 09:40) is finalized and emitted with n=1
    write("a=2", [("2024-01-01 10:20:00", "click", 1.0)])
    # b3: a LATE row for the already-finalized 09:00 window — must drop
    write("a=3", [("2024-01-01 09:05:00", "click", 1.0)])
    now = time.time()
    for sub, mt in (("a=1", now - 600), ("a=2", now - 300), ("a=3", now)):
        for root, _dirs, files in os.walk(str(d / sub)):
            for f in files:
                os.utime(os.path.join(root, f), (mt, mt))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d / "a=*"))
    )
    out = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w")["start"].alias("w"), "n")
    )
    name = "late_drop_sink"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    emitted = {str(r.w): r.n for r in spark.table(name).collect()}
    # the finalized window emitted ONCE with its on-time count only
    assert emitted.get("2024-01-01 09:00:00") == 1, emitted
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark") or 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1


def test_transform_with_state_matches_legacy_and_batch(spark, sf_dir, batch_events):
    """The Spark 4 transformWithStateInPandas operator computes the
    same per-user totals as the legacy applyInPandasWithState operator
    and the plain batch aggregate — three lanes, one semantics.

    transformWithState's state-server protocol needs protobuf
    (conftest._probe_protobuf makes a locally-available copy importable
    in pure-python mode; skipped only when no protobuf exists anywhere)
    and the RocksDB state store provider — named state variables map to
    state-store column families, which the HDFS-backed default provider
    does not support."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas needs protobuf (absent here)",
    )
    from olist_snowflake_dbt_spark.streaming import (
        stream_events,
        user_totals_tws,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        sink = run_available_now(
            user_totals_tws(stream_events(spark, sf_dir)),
            output_mode="update",
            state_partitions=8,
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    got = {r.user_id: (r.n_events, r.total_cents) for r in sink.collect()}
    exact = {
        r.user_id: (r.n, r.cents)
        for r in batch_events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value").cast("double") * 100).cast("long"))
            .alias("cents"),
        )
        .collect()
    }
    assert got == exact


def test_file_sink_second_start_writes_nothing(spark, sf_dir):
    """Exactly-once durable sink: restarting the checkpointed parquet
    sink against fully-committed source offsets must add ZERO files and
    ZERO rows (offset log + _spark_metadata commit log)."""
    import glob
    import os
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="sg_sink_once_")
    out_dir, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    src = stream_events(spark, sf_dir).select("event_id", "event_type")

    def start_once():
        q = (
            src.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(glob.glob(os.path.join(out_dir, "*.parquet")))

    files1 = start_once()
    n1 = spark.read.parquet(out_dir).count()
    files2 = start_once()
    n2 = spark.read.parquet(out_dir).count()
    assert files1 == files2  # no new files on restart
    assert n1 == n2 > 0
    shutil.rmtree(base, ignore_errors=True)


def test_stream_events_reads_directory_layout(spark, sf_dir, tmp_path):
    """Regression pin for the sf1 scale-lane finding: the file-stream
    source must read BOTH on-disk layouts of the events table — the
    driver's single FILE named events.parquet and a Spark-written
    DIRECTORY of part files. The original glob-filter approach matched
    only the file layout and silently replayed ZERO rows for the
    directory layout (a 0-row stream looks 'fast', not broken)."""
    from olist_snowflake_dbt_spark.sources.readers import read_table
    from olist_snowflake_dbt_spark.streaming import (
        run_available_now,
        stream_events,
        windowed_event_counts,
    )

    batch = read_table(spark, sf_dir, "events")
    # re-materialize the same events as a Spark-written DIRECTORY
    dir_sf = tmp_path / "sfdir"
    dir_sf.mkdir()
    batch.repartition(3).write.parquet(str(dir_sf / "events.parquet"))

    got = run_available_now(
        windowed_event_counts(
            stream_events(spark, str(dir_sf)), "1 hour", watermark="30 minutes"
        ),
        state_partitions=4,
    )
    want = run_available_now(
        windowed_event_counts(
            stream_events(spark, sf_dir), "1 hour", watermark="30 minutes"
        ),
        state_partitions=4,
    )
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_stream_left_outer_emits_nulls_and_matches_batch(spark, sf_dir):
    """The LEFT OUTER stream-stream join must (a) emit NULL-extended
    rows for unmatched clicks after watermark passage — the eviction
    path availableNow has to flush — and (b) equal the batch left join
    exactly, sentinels excluded."""
    from pyspark.sql import functions as F

    from olist_snowflake_dbt_spark.queries import QUERIES
    from olist_snowflake_dbt_spark.sources.readers import read_table

    out = QUERIES["stream_stream_left_outer"](spark, sf_dir)
    rows = out.collect()
    assert rows
    unmatched = [r for r in rows if r.error_id is None]
    assert unmatched, "watermark passage must flush NULL-extended clicks"
    assert all(r.user_id >= 0 for r in rows), "sentinels must not leak"

    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    )
    cond = (
        (F.col("user_id") == F.col("e_user"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (F.col("error_ts") < F.col("click_ts") + F.expr("INTERVAL 10 minutes"))
    )
    batch = clicks.join(errors, cond, "left_outer").select(
        "user_id", "click_id", "error_id", "click_ts", "error_ts"
    )
    assert out.exceptAll(batch).count() == 0
    assert batch.exceptAll(out).count() == 0


def test_tws_event_time_timers_close_sessions(spark, sf_dir, tmp_path):
    """transformWithState EVENT-TIME TIMERS: sessions close when the
    watermark passes last_event + gap — emitted from handleExpiredTimer,
    not from data arrival. Two-file mtime-ordered replay: real events,
    then a far-future sentinel that advances the watermark past every
    real session. The closed-session set must equal the batch
    gaps-and-islands sessionization exactly."""
    import datetime as dt
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from olist_snowflake_dbt_spark.compat import ensure_protobuf
    from olist_snowflake_dbt_spark.sources.readers import read_table
    from olist_snowflake_dbt_spark.streaming import (
        run_available_now,
        user_sessions_tws,
    )

    if not ensure_protobuf(spark):
        import pytest as _pytest

        _pytest.skip("protobuf unavailable for the tws state server")

    gap_s = 1800
    src = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 8)
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    )
    max_ts = src.agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [(-1, max_ts + dt.timedelta(days=3))], "user_id long, ts timestamp"
    )
    stage = str(tmp_path / "stream")
    os.makedirs(stage)
    for i, df in enumerate([src, sentinel]):
        part_dir = str(tmp_path / f"w{i}")
        df.coalesce(1).write.parquet(part_dir)
        [part] = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dst = os.path.join(stage, f"{i:03d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + i * 100,) * 2)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        sink = run_available_now(
            user_sessions_tws(stream, gap_seconds=gap_s),
            "append",
            state_partitions=8,
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    got = {
        (r.user_id, r.session_start_ms, r.session_end_ms, r.n_events)
        for r in sink.filter(F.col("user_id") >= 0).collect()
    }
    assert got, "timers must have fired and emitted sessions"

    # batch twin: gaps-and-islands with the same gap
    from pyspark.sql import Window as W

    ms = F.unix_millis(F.col("ts"))  # same ms floor as the processor
    w = W.partitionBy("user_id").orderBy("ms")
    marked = src.withColumn("ms", ms).withColumn(
        "new_sess",
        F.when(
            F.col("ms") - F.lag("ms").over(w) <= gap_s * 1000, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "sess_no",
        F.sum("new_sess").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    batch = (
        marked.groupBy("user_id", "sess_no")
        .agg(
            F.min("ms").alias("s"), F.max("ms").alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "user_id",
            F.col("s").alias("session_start_ms"),
            (F.col("e") + gap_s * 1000).alias("session_end_ms"),
            F.col("n").alias("n_events"),
        )
    )
    want = {
        (r.user_id, r.session_start_ms, r.session_end_ms, r.n_events)
        for r in batch.collect()
    }
    assert got == want


def test_dedup_admission_stream_first_seen_wins_and_replay_idempotent(
    spark, tmp_path
):
    """Cross-batch admission contract: a duplicate arriving in a LATER
    batch loses even with a SMALLER id (first-seen-wins, not min-id);
    and re-running the drained stream over the same state admits
    nothing new (the replay-idempotence that upgrades foreachBatch's
    at-least-once to exactly-once observable state)."""
    import glob
    import os
    import shutil

    from olist_snowflake_dbt_spark.streaming import dedup_admission_stream

    stage = str(tmp_path / "log")
    state = str(tmp_path / "state")
    os.makedirs(stage)
    batches = [
        [(100, "alpha beta gamma"), (101, "delta epsilon zeta")],
        # 5 duplicates 'alpha beta gamma' with a SMALLER id; 7 is new
        [(5, "alpha beta gamma"), (7, "eta theta iota")],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        part_dir = str(tmp_path / f"w{i}")
        df.coalesce(1).write.parquet(part_dir)
        [part] = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dst = os.path.join(stage, f"{i:03d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + i * 100,) * 2)

    def drain(ckpt):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
        )
        q = dedup_admission_stream(stream, state, ckpt).start()
        q.awaitTermination()

    drain(str(tmp_path / "ckpt1"))
    got = {r.doc_id for r in spark.read.parquet(state).collect()}
    assert got == {100, 101, 7}, "first-seen must beat the smaller late id"
    # fresh checkpoint = full REPLAY of both batches over existing state
    drain(str(tmp_path / "ckpt2"))
    again = {r.doc_id for r in spark.read.parquet(state).collect()}
    assert again == {100, 101, 7}


def test_dedup_admission_state_is_append_only_and_compacts(spark, tmp_path):
    """The partitioned state layout: each batch APPENDS one file per
    touched fp_bucket (no O(standing) rewrite — the standing files
    survive byte-identical across batches); a bucket crossing the
    file-count threshold compacts in isolation; dot-prefixed crash
    leftovers are invisible to readers."""
    import glob
    import os
    import shutil

    from olist_snowflake_dbt_spark.streaming import dedup_admission_stream

    stage = str(tmp_path / "log")
    state = str(tmp_path / "state")
    os.makedirs(stage)
    batches = [
        [(i, f"document number {i}")] for i in range(6)
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        part_dir = str(tmp_path / f"w{i}")
        df.coalesce(1).write.parquet(part_dir)
        [part] = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dst = os.path.join(stage, f"{i:03d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + i * 100,) * 2)

    standing_files = {}

    def drain(ckpt, **kw):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
        )
        q = dedup_admission_stream(stream, state, ckpt, **kw).start()
        q.awaitTermination()

    # high threshold: pure append — every admitted file persists
    drain(str(tmp_path / "ckpt1"), n_buckets=2, compact_files_per_bucket=99)
    files_after = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(state, "fp_bucket=*/part-*.parquet"))
    }
    assert len(files_after) == 6, "one appended file per single-doc batch"
    assert {r.doc_id for r in spark.read.parquet(state).collect()} == set(
        range(6)
    )
    # a dot-prefixed crash leftover must be invisible to readers
    leftover = os.path.join(state, ".backup-1-deadbeef")
    os.makedirs(leftover)
    with open(os.path.join(leftover, "junk.parquet"), "w") as fh:
        fh.write("not parquet")
    assert spark.read.parquet(state).count() == 6
    shutil.rmtree(leftover)

    # threshold 1: the next drain (replay admits nothing, appends
    # nothing) — compact by re-draining fresh docs with low threshold
    for i in range(6, 12):
        df = spark.createDataFrame(
            [(i, f"document number {i}")], "doc_id long, text string"
        )
        part_dir = str(tmp_path / f"w{i}")
        df.coalesce(1).write.parquet(part_dir)
        [part] = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dst = os.path.join(stage, f"{i:03d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + i * 100,) * 2)
    drain(str(tmp_path / "ckpt2"), n_buckets=2, compact_files_per_bucket=1)
    for b in (0, 1):
        bdir = os.path.join(state, f"fp_bucket={b}")
        n_parts = len(glob.glob(os.path.join(bdir, "part-*.parquet")))
        assert n_parts <= 2, f"bucket {b} not compacted ({n_parts} files)"
    assert {r.doc_id for r in spark.read.parquet(state).collect()} == set(
        range(12)
    )


def test_cdc_bucketed_state_matches_legacy_and_rewrites_only_touched(
    spark, tmp_path
):
    """The r14 bucketed CDC layout: final live state identical to the
    monolithic layout; a batch that touches one bucket leaves the other
    buckets' files byte-untouched (no O(standing) rewrite)."""
    import glob
    import os
    import shutil

    from olist_snowflake_dbt_spark.streaming import (
        cdc_apply_stream,
        cdc_state,
    )

    # keys 0..15; xxhash64 spreads them over 4 buckets. Batch 1 = all
    # keys; batch 2 = UPDATE for key 3 and DELETE for key 5 only.
    b1 = [(k, k * 10, "U", float(k)) for k in range(16)]
    b2 = [(3, 1000, "U", 99.0), (5, 1001, "D", 0.0)]

    def stage(rows, i, stage_dir):
        df = spark.createDataFrame(
            rows, "user_id long, lsn long, op string, value double"
        )
        part_dir = str(tmp_path / f"w{i}")
        df.coalesce(1).write.mode("overwrite").parquet(part_dir)
        [part] = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dst = os.path.join(stage_dir, f"{i:03d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + i * 100,) * 2)

    def drain(state, ckpt, **kw):
        stage_dir = os.path.dirname(state) + "/log"
        stream = (
            spark.readStream.schema(
                "user_id long, lsn long, op string, value double"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(stage_dir)
        )
        q = cdc_apply_stream(
            stream, state, ckpt, ["user_id"], "lsn", "op", **kw
        ).start()
        q.awaitTermination()

    for mode in ("legacy", "bucketed"):
        root = tmp_path / mode
        os.makedirs(str(root / "log"))
        for i, rows in enumerate([b1, b2]):
            stage(rows, i, str(root / "log"))

    drain(str(tmp_path / "legacy" / "state"), str(tmp_path / "legacy" / "ck"))
    drain(
        str(tmp_path / "bucketed" / "state"),
        str(tmp_path / "bucketed" / "ck"),
        n_buckets=4,
    )
    legacy = {
        (r.user_id, r.lsn, r.value)
        for r in cdc_state(
            spark, str(tmp_path / "legacy" / "state"), "op"
        ).collect()
    }
    bucketed = {
        (r.user_id, r.lsn, r.value)
        for r in cdc_state(
            spark, str(tmp_path / "bucketed" / "state"), "op"
        ).collect()
    }
    assert bucketed == legacy
    assert (3, 1000, 99.0) in bucketed and all(u != 5 for u, _, _ in bucketed)

    # untouched-bucket proof: replay batch 2 alone against a copy of the
    # state; buckets not containing keys 3/5 keep identical file mtimes
    state2 = str(tmp_path / "probe_state")
    shutil.copytree(str(tmp_path / "bucketed" / "state"), state2)
    before = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(state2, "key_bucket=*/part-*.parquet"))
    }
    probe_log = str(tmp_path / "probe" / "log")
    os.makedirs(probe_log)
    stage(b2, 0, probe_log)
    stream = (
        spark.readStream.schema(
            "user_id long, lsn long, op string, value double"
        )
        .parquet(probe_log)
    )
    q = cdc_apply_stream(
        stream, state2, str(tmp_path / "probe" / "ck"),
        ["user_id"], "lsn", "op", n_buckets=4,
    ).start()
    q.awaitTermination()
    after_files = set(
        glob.glob(os.path.join(state2, "key_bucket=*/part-*.parquet"))
    )
    untouched_kept = {
        f for f, m in before.items()
        if f in after_files and os.path.getmtime(f) == m
    }
    assert untouched_kept, "at least one untouched bucket must survive as-is"
    # and the replayed merge is idempotent: state content unchanged
    again = {
        (r.user_id, r.lsn, r.value)
        for r in cdc_state(spark, state2, "op").collect()
    }
    assert again == bucketed


# -- the bounded drain routine (streaming/events._drain) ----------------

_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."


def _batch_confs(seen):
    """foreachBatch body recording the confs each batch's session ran with."""
    def record(batch_df, _batch_id):
        conf = batch_df.sparkSession.conf
        seen.append((conf.get(_MANAGER, None), conf.get("spark.sql.shuffle.partitions")))
    return record


def test_drain_scopes_and_restores_confs_on_success_and_failure(spark, sf_dir, tmp_path):
    from pyspark.errors import StreamingQueryException

    from olist_snowflake_dbt_spark.streaming.events import _drain

    def fail(_batch_df, _batch_id):
        raise RuntimeError("planted batch failure")

    before = spark.conf.get("spark.sql.shuffle.partitions")
    src = stream_events(spark, sf_dir).select("event_id")
    seen = []
    _drain(spark, src.writeStream.foreachBatch(_batch_confs(seen)),
           str(tmp_path / "ok"), state_partitions=2)
    assert seen == [(_CHECKPOINTING + "FileSystemBasedCheckpointFileManager", "2")]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.conf.get(_MANAGER, None) is None

    with pytest.raises(StreamingQueryException, match="planted batch failure"):
        _drain(spark, src.writeStream.foreachBatch(fail),
               str(tmp_path / "fail"), state_partitions=2)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.conf.get(_MANAGER, None) is None


def test_drain_leaves_user_checkpoint_manager_alone(spark, sf_dir, tmp_path):
    from olist_snowflake_dbt_spark.streaming.events import _drain

    user_manager = _CHECKPOINTING + "FileContextBasedCheckpointFileManager"
    src = stream_events(spark, sf_dir).select("event_id")
    seen = []
    spark.conf.set(_MANAGER, user_manager)
    try:
        _drain(spark, src.writeStream.foreachBatch(_batch_confs(seen)),
               str(tmp_path / "ckpt"))
        assert spark.conf.get(_MANAGER) == user_manager
    finally:
        spark.conf.unset(_MANAGER)
    assert [manager for manager, _ in seen] == [user_manager]


def test_drain_caps_state_partitions_at_task_slots(spark, sf_dir):
    """A state shuffle wider than the cores only adds task waves: asking
    for more partitions than ``defaultParallelism`` runs with exactly
    ``defaultParallelism``, and the rows equal an uncapped run's."""
    from olist_snowflake_dbt_spark.streaming.events import _drain

    slots = spark.sparkContext.defaultParallelism
    counts = windowed_event_counts(stream_events(spark, sf_dir), "15 minutes")

    def drain(name, state_partitions):
        writer = counts.writeStream.format("memory").queryName(name)
        q = _drain(spark, writer.outputMode("complete"),
                   state_partitions=state_partitions)
        parts = {op["numShufflePartitions"] for op in q.lastProgress["stateOperators"]}
        return parts, sorted(spark.table(name).collect())

    capped_parts, capped = drain("drain_capped", slots + 3)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(slots + 3))
    try:  # no state_partitions: the session's width, uncapped
        uncapped_parts, uncapped = drain("drain_uncapped", None)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert capped_parts == {slots}
    assert uncapped_parts == {slots + 3}
    assert capped == uncapped and capped
