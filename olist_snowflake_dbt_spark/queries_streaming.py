"""Driver queries for the Structured Streaming surface.

Each entry replays the bounded events source through a REAL streaming
query (state store, watermarks, AvailableNow micro-batching, memory
sink) and returns the final sink table; the oracles are plain batch SQL
over the same rows — replay-to-completion of a bounded stream must
equal the batch computation, which is exactly what the driver's DuckDB
compare checks.

``complete`` output mode is used for the aggregations so windows that
the watermark has not closed by end-of-input are still emitted (append
mode would hold them back and the stream-vs-batch equality would not
hold on a bounded replay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .functions.local_frame import arrow_local_df

from .queries import _t, query
from .streaming import (
    dedup_within_watermark,
    run_available_now,
    session_stats,
    stream_events,
    user_running_totals,
    windowed_event_counts,
)
from .streaming.events import _drain


@query(
    "stream_window_counts",
    """
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window counts (watermarked, 15-min windows)
    replayed to completion — must equal the batch GROUP BY. State
    accumulates exact DECIMAL; presentation cast to DOUBLE for driver
    repr parity (DuckDB renders DECIMAL as float64 through pandas)."""
    counts = windowed_event_counts(stream_events(spark, sf_dir), "15 minutes")
    sink = run_available_now(counts, "complete")
    return sink.withColumn("total_value", F.col("total_value").cast("double"))


@query(
    "stream_session_stats",
    """
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER w <= INTERVAL '30 minutes'
                    THEN 0 ELSE 1 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
    """,
)
def q_stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap) — session_window's
    [first_event, last_event + gap) bounds equal the batch
    gaps-and-islands construction."""
    sessions = session_stats(stream_events(spark, sf_dir), gap="30 minutes")
    return run_available_now(sessions, "complete")


@query(
    "stream_dedup",
    """
    SELECT DISTINCT user_id, ts, event_type,
           CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
    FROM (
        SELECT user_id, ts, event_type, value FROM events
        UNION ALL
        SELECT user_id, ts, event_type, value FROM events WHERE event_id % 97 = 0
    )
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with watermark-bounded state: events with a
    planted duplicate (every 97th event re-sent) deduplicated on
    (user_id, ts, event_type) within the watermark. The replay fits in
    one watermark span, so the result equals batch DISTINCT. event_id
    is excluded from the output so the survivor choice is
    deterministic."""
    ev = stream_events(spark, sf_dir)
    dup = ev.filter(F.col("event_id") % 97 == 0)
    both = ev.unionByName(dup).select("user_id", "ts", "event_type", "value")
    deduped = dedup_within_watermark(
        both.withColumn("value", F.col("value").cast("decimal(18,2)")),
        ["user_id", "ts", "event_type"],
        watermark="10 days",
    )
    sink = run_available_now(deduped, "append")
    return sink.withColumn("value", F.col("value").cast("double"))


@query(
    "stream_stateful_totals",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value * 100 AS DECIMAL(18,0))) AS BIGINT)
               AS total_value_cents
    FROM events GROUP BY user_id
    """,
)
def q_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running totals in exact integer cents. On a bounded replay the
    final update per user equals the batch GROUP BY; the update-mode
    memory sink keeps only the latest row per key per batch, and the
    single-file source replays as one batch."""
    totals = user_running_totals(stream_events(spark, sf_dir))
    return run_available_now(totals, "update")


@query(
    "stream_stream_join",
    """
    WITH clicks AS (
        SELECT user_id, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    errors AS (
        SELECT user_id, event_id AS error_id, ts AS error_ts
        FROM events WHERE event_type = 'error'
    )
    SELECT c.user_id, c.click_id, e.error_id, c.click_ts, e.error_ts
    FROM clicks c JOIN errors e
      ON c.user_id = e.user_id
     AND e.error_ts >= c.click_ts
     AND e.error_ts < c.click_ts + INTERVAL '10 minutes'
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds (clicks to the
    same user's errors within 10 min): on a bounded replay inside one
    watermark span it equals the batch range join."""
    from .streaming import clicks_to_errors_join

    joined = clicks_to_errors_join(
        stream_events(spark, sf_dir), horizon="10 minutes", watermark="365 days"
    )
    return run_available_now(joined, "append")


@query(
    "stream_static_enrich",
    """
    SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment,
           CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) AS value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (streaming/events.enrich_with_dim):
    each micro-batch of the events stream broadcast-joins the static
    customer dimension — stateless (no watermark, no join state), the
    unbounded side never shuffles. A bounded replay equals the batch
    inner join."""
    from .queries import _t
    from .streaming import enrich_with_dim

    ev = stream_events(spark, sf_dir).withColumn(
        "value", F.col("value").cast("decimal(18,2)")
    )
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = enrich_with_dim(
        ev, dim, stream_key="user_id", dim_key="c_custkey",
        dim_cols=["c_mktsegment"],
    ).select("event_id", "user_id", "event_type", "c_mktsegment", "value")
    sink = run_available_now(enriched, "append")
    return sink.withColumn("value", F.col("value").cast("double"))


@query(
    "stream_sliding_window",
    """
    SELECT time_bucket(INTERVAL '10 minutes', ts)
               - INTERVAL '10 minutes' * off AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS DOUBLE) AS total_value
    FROM events, (SELECT UNNEST(generate_series(0, 2)) AS off)
    GROUP BY 1, 2
    """,
)
def q_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows: 30-minute windows every 10 minutes —
    each event contributes to exactly 3 windows. The batch oracle
    replays that membership arithmetically (each event's 3 window
    starts are its 10-min bucket shifted back 0/1/2 hops). State and
    shuffle scale by window/slide = 3x a tumbling window, bounded the
    same way by the watermark."""
    counts = windowed_event_counts(
        stream_events(spark, sf_dir), "30 minutes", watermark="30 minutes",
        slide="10 minutes",
    )
    sink = run_available_now(counts, "complete")
    return sink.withColumn("total_value", F.col("total_value").cast("double"))


@query(
    "stream_stateful_totals_tws",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value * 100 AS DECIMAL(18,0))) AS BIGINT)
               AS total_cents
    FROM events GROUP BY user_id
    """,
)
def q_stream_stateful_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals on the MODERN stateful surface —
    ``transformWithStateInPandas`` with a typed ValueState (the Spark 4
    API that supersedes applyInPandasWithState: named state variables,
    timers, TTL, initial-state bootstrap). Bounded replay ⇒ the final
    update per user equals the batch GROUP BY, same as the legacy lane
    (stream_stateful_totals) — two stateful APIs, one semantics, both
    driver-checked.

    Runtime requirements handled here: protobuf (the state-server
    protocol; compat.ensure_protobuf ships a pure-python copy to the
    running session's executors when the interpreter lacks it) and the
    RocksDB state store provider (named state variables map to state
    store column families, unsupported by the HDFS-backed default)."""
    from .compat import ensure_protobuf
    from .streaming import stream_events, user_totals_tws

    if not ensure_protobuf(spark):
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf and none "
            "was found (set SPARK_GRAFT_PROTOBUF_SITE to a site-packages "
            "dir that has it)"
        )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        return run_available_now(
            user_totals_tws(stream_events(spark, sf_dir)), "update"
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


@query(
    "stream_file_sink_exactly_once",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(event_id AS BIGINT)) AS BIGINT) AS id_sum
    FROM events GROUP BY event_type
    """,
)
def q_stream_file_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once DURABLE sink: the events stream writes to a parquet
    file sink with a checkpoint, and the streaming query is started
    TWICE against the same checkpoint — the second run finds the source
    offsets already committed and writes NOTHING, so the read-back
    aggregate equals the batch aggregate exactly (duplicated delivery
    would double every count). This is the at-least-once-source +
    transactional-file-sink contract (offset log + _spark_metadata
    commit log) that production jobs restart on after failure; the
    memory-sink queries elsewhere prove semantics, this one proves the
    durable path."""
    import os
    import shutil
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_stream_sink_{os.getpid()}"
    )
    # fresh dirs per query invocation: exactly-once is proven by the
    # SECOND start below, not by cross-invocation state
    shutil.rmtree(base, ignore_errors=True)
    out_dir, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")

    src = stream_events(spark, sf_dir).select("event_id", "event_type")
    for _ in range(2):  # second start: offsets committed -> writes nothing
        writer = src.writeStream.format("parquet").option("path", out_dir)
        _drain(spark, writer.outputMode("append"), ckpt)
    back = spark.read.parquet(out_dir)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("event_id").cast("bigint")).cast("bigint").alias("id_sum"),
    )


@query(
    "cdc_stream_apply",
    """
    WITH changes AS (
        SELECT user_id, event_id AS lsn,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               value, ts
        FROM events
    ),
    latest AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY lsn DESC) AS rn
        FROM changes
    )
    SELECT user_id, lsn, value, ts FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def q_cdc_stream_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert sink (streaming/events.cdc_apply_stream):
    the same Debezium-shaped change log as cdc_apply_latest, but
    arriving as a FILE STREAM split into 4 micro-batches
    (maxFilesPerTrigger=1), each foreachBatch-merged into a
    tombstone-retaining parquet state table hash-partitioned on
    key_bucket — only the batch's TOUCHED buckets are merged and
    atomically swapped (r14; the O(standing) whole-table rewrite is
    retired). The oracle is the BATCH
    collapse of the whole log — the driver row therefore proves the
    cross-batch upsert/tombstone algebra converges to the batch answer
    regardless of how the log was sliced, the exactly-once-observable
    contract a production CDC sink restarts on."""
    import os
    import shutil
    import tempfile

    from .streaming import cdc_apply_stream, cdc_state

    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_cdc_stream_{os.getpid()}"
    )
    shutil.rmtree(base, ignore_errors=True)
    log_dir = os.path.join(base, "log")
    state = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")

    changes = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "value",
        "ts",
    )
    # slice the log into 4 files -> 4 micro-batches; the final state is
    # split-invariant (max_by on lsn), which is exactly what the oracle
    # comparison proves
    changes.repartition(4).write.mode("overwrite").parquet(log_dir)
    stream = (
        spark.readStream.schema(spark.read.parquet(log_dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(log_dir)
    )
    writer = cdc_apply_stream(stream, state, ckpt, ["user_id"], "lsn", "op")
    _drain(spark, writer, ckpt)
    return cdc_state(spark, state, "op")


@query(
    "stream_file_ingest_native",
    """
    SELECT c_custkey, c_name FROM customer WHERE c_custkey % 89 IN (0, 1, 2)
    """,
)
def q_stream_file_ingest_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE exactly-once file-stream ingest (the engine-level
    Auto Loader: readStream over a landing directory tracks processed
    files in the checkpoint's source log): batches 0+1 are drained by an
    availableNow run into a parquet sink, batch 2 is dropped into the
    directory, and a SECOND run against the same checkpoint ingests
    ONLY the new file — re-reading a processed file would duplicate
    rows and break the oracle hash. Complements sources/copy_into.py
    (the manifest-based loader usable OUTSIDE streaming): same
    exactly-once-per-file contract, state in the checkpoint instead of
    a load-history manifest."""
    import json as _json
    import os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_file_ingest_{os.getpid()}"
    )
    shutil.rmtree(base, ignore_errors=True)
    land = os.path.join(base, "landing")
    out_dir, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    os.makedirs(land, exist_ok=True)

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
        ]
    )

    def drop_batch(r: int) -> None:
        rows = cust.filter(F.col("c_custkey") % 89 == r).collect()
        with open(os.path.join(land, f"batch{r}.jsonl"), "w") as f:
            for row in rows:
                f.write(_json.dumps({"c_custkey": row.c_custkey,
                                     "c_name": row.c_name}) + "\n")

    def drain() -> None:
        src = spark.readStream.schema(schema).json(land)
        writer = src.writeStream.format("parquet").option("path", out_dir)
        _drain(spark, writer.outputMode("append"), ckpt)

    drop_batch(0)
    drop_batch(1)
    drain()  # ingests batches 0+1, records them in the source log
    drop_batch(2)
    drain()  # ingests ONLY batch 2
    return spark.read.schema(schema).parquet(out_dir)


@query(
    "stream_stream_left_outer",
    """
    WITH clicks AS (
        SELECT user_id, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    errors AS (
        SELECT user_id, event_id AS error_id, ts AS error_ts
        FROM events WHERE event_type = 'error'
    )
    SELECT c.user_id, c.click_id, e.error_id, c.click_ts, e.error_ts
    FROM clicks c LEFT JOIN errors e
      ON c.user_id = e.user_id
     AND e.error_ts >= c.click_ts
     AND e.error_ts < c.click_ts + INTERVAL '10 minutes'
    """,
)
def q_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermarked NULL emission
    (streaming/events.clicks_left_outer_errors): unmatched clicks are
    held in join state and emitted NULL-extended only once the
    watermark proves no error can still match.

    The bounded-replay harness makes eviction observable: the source is
    staged as TWO files replayed in mtime order (maxFilesPerTrigger=1) —
    the real events, then a far-future sentinel pair (one click + one
    error on impossible user_ids, so both branch watermarks advance).
    Batch 1 emits the inner matches; the sentinel batch (plus Spark's
    no-data eviction batch) pushes the watermark 2 days past every
    ``click_ts + horizon``, flushing every unmatched click with NULL
    error columns. Sentinels are filtered from the sink, so the result
    must equal the batch LEFT JOIN exactly — nulls and all.
    """
    import datetime as _dt
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from .streaming import clicks_left_outer_errors, run_available_now

    src = _t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type",
    )
    max_ts = src.agg(F.max("ts")).collect()[0][0]  # 1-row harness setup
    sentinel_ts = max_ts + _dt.timedelta(days=2)
    # arrow_local_df (round 15): the classic list createDataFrame made
    # a 32-slice Python RDD whose single-task coalesce(1) write paid
    # ~115 ms of Python-worker handshake PER SLICE — ~5 s to stage two
    # sentinel rows (guide §4: cross the boundary as Arrow, not pickle)
    sentinels = arrow_local_df(
        spark,
        [(-1, sentinel_ts, -1, "click"), (-2, sentinel_ts, -2, "error")],
        "event_id long, ts timestamp, user_id long, event_type string",
    )

    root = _tempfile.mkdtemp(prefix="olist_sj_left_")
    stage = _os.path.join(root, "stream")
    _os.makedirs(stage)
    for i, (df, tag) in enumerate([(src, "real"), (sentinels, "sentinel")]):
        part_dir = _os.path.join(root, f"w{i}")
        df.coalesce(1).write.parquet(part_dir)
        [part] = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))
        dst = _os.path.join(stage, f"{i:03d}_{tag}.parquet")
        _shutil.move(part, dst)
        _os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    joined = clicks_left_outer_errors(
        stream, horizon="10 minutes", watermark="1 minute"
    )
    sink = run_available_now(joined, "append")
    # the memory sink holds the rows; the staged replay files are done
    _shutil.rmtree(root, ignore_errors=True)
    return sink.filter(F.col("user_id") >= 0)


@query(
    "stream_dedup_admission",
    """
    WITH d2 AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
        WHERE doc_id % 50 = 0
    ),
    fp AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                   AS doc_fingerprint
        FROM d2
    )
    SELECT doc_fingerprint, CAST(MIN(doc_id) AS BIGINT) AS doc_id
    FROM fp GROUP BY 1
    """,
)
def q_stream_dedup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus-dedup admission
    (streaming/events.dedup_admission_stream): the planted-duplicate
    corpus arrives as a 4-slice file stream (id-range slices staged
    with ascending mtimes → deterministic batch order), each micro-
    batch admitted against the standing 16-byte fingerprint table
    (first seen wins) and APPENDED into the fp_bucket-hash-partitioned
    state — O(batch) fold, never an O(standing) rewrite. The oracle is
    the BATCH collapse (min doc_id per
    normalized fingerprint): the hash match proves four incremental
    foreachBatch merges converge to the one-shot answer — the
    grows-forever corpus-ingest contract."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from .streaming import dedup_admission_stream

    base = _os.path.join(
        _tempfile.gettempdir(), f"spark_graft_dedup_adm_{_os.getpid()}"
    )
    _shutil.rmtree(base, ignore_errors=True)
    stage = _os.path.join(base, "log")
    state = _os.path.join(base, "state")
    ckpt = _os.path.join(base, "ckpt")
    _os.makedirs(stage)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.unionByName(
        docs.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    # 4 id-range slices staged oldest-first: originals land in earlier
    # batches than their planted duplicates, so first-seen == min id
    # Round 14: the cuts come from ONE percentile aggregate (the count
    # rides the same row) — the previous form collected every doc_id to
    # the driver (510k rows at sf0.1, growing with SF) inside the timed
    # region (guide §5: the driver should do almost no data work).
    # Round 15 (ADVICE r14): APPROX_percentile — the exact form buffers
    # every doc_id in ONE aggregation buffer on a single reducer (the
    # O(N) footprint had just moved from driver to executor), while the
    # sketch is map-side-combinable and scale-free. Approximate cuts
    # are semantically free here: originals (smaller ids) land in
    # earlier-or-equal slices than their planted +1e6 duplicates under
    # ANY ascending id slicing, so first-seen == min id whatever the
    # exact cut points.
    stats = planted.agg(
        F.count(F.lit(1)).alias("__n"),
        F.expr(
            "approx_percentile(doc_id, array(0.25, 0.5, 0.75))"
        ).alias("__cuts"),
    ).collect()[0]
    n = stats["__n"]
    cuts = [int(c) for c in stats["__cuts"]]
    # stage the 4 single-file slices CONCURRENTLY (guide §2.6 — each
    # coalesce(1) write is one task, so serial staging left 31 cores
    # idle); mtimes are stamped after the fact, so batch order is
    # unaffected by write completion order
    from concurrent.futures import ThreadPoolExecutor

    bounds = [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], cuts[2]),
              (cuts[2], None)]

    def _stage(i: int) -> None:
        lo, hi = bounds[i]
        sl = planted
        if lo is not None:
            sl = sl.filter(F.col("doc_id") >= lo)
        if hi is not None:
            sl = sl.filter(F.col("doc_id") < hi)
        part_dir = _os.path.join(base, f"w{i}")
        sl.coalesce(1).write.parquet(part_dir)
        [part] = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))
        dst = _os.path.join(stage, f"{i:03d}_slice.parquet")
        _shutil.move(part, dst)
        _os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(_stage, range(4)))

    stream = (
        spark.readStream.schema(planted.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    # _drain scopes the batches' shuffles to min(8, cores), as for every
    # other harness stream (the ~130k-row micro-batches would pay the
    # session's 32-task shuffles otherwise); admission output is
    # partitioning-independent (exact dedup by fingerprint)
    writer = dedup_admission_stream(stream, state, ckpt)
    _drain(spark, writer, ckpt)
    assert n == spark.read.parquet(stage).count()
    # fp_bucket is the state's physical hash-partition key, not part
    # of the admission contract the oracle checks
    return spark.read.parquet(state).select("doc_fingerprint", "doc_id")
