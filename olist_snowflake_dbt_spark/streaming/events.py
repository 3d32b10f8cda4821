"""Streaming operators over the events table.

Each operator is the streaming twin of a batch query in queries.py
(time_bucket_agg, sessionize_events, dedup_exact) — same grouping, same
results when the stream is replayed to completion with AvailableNow.

Reference parity note: the reference (dbt-on-Snowflake) has no streaming
surface at all (`/root/reference/models` is pure batch SQL); these
operators extend the engine the way Structured Streaming is meant to be
used — declarative transformations on an unbounded DataFrame, watermarks
for state eviction, `applyInPandasWithState` only where built-ins cannot
express the semantics.
"""

from __future__ import annotations

import itertools
import os
from typing import Iterable
from urllib.parse import urlparse

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

def _events_schema(spark: SparkSession, sf_dir: str) -> StructType:
    """Probe the batch reader's resolved schema for events.parquet.

    The driver has shipped the ts column as parquet TIMESTAMP(NANOS)
    (which Spark only reads as int64 under nanosAsLong) in some rounds
    and plain TIMESTAMP(MICROS) (→ TIMESTAMP_NTZ under Spark 4's
    inferTimestampNTZ default) in others — a footer probe adapts to
    whichever layout is on disk instead of hard-coding one."""
    from ..sources.readers import read_table

    # read_table already normalizes ts (ns→µs for the int64 layout), but
    # its output type is the BATCH type; for the stream we need the
    # on-disk type, so probe the raw file.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return raw.schema


_sink_counter = itertools.count()


def stream_events(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events parquet. The file source is
    the replayable-bounded harness; swapping in kafka changes only this
    function. ``max_files_per_trigger`` splits the replay into multiple
    micro-batches (used by tests to exercise cross-batch state).

    ``ts`` is normalized to TIMESTAMP (LTZ) whatever the on-disk layout:
    int64 nanos → ``timestamp_micros(ns div 1000)`` (exact integer
    division); TIMESTAMP_NTZ → cast (value-preserving under the engine's
    pinned UTC session timezone)."""
    schema = _events_schema(spark, sf_dir)
    # the driver's testdata lays events out as ONE parquet file named
    # events.parquet; Spark-written datasets (e.g. the local sf1 scale
    # lane) make it a DIRECTORY of part files. The file-stream source
    # lists a directory, so: single file → stream sf_dir filtered to
    # that name; directory → stream the directory itself (a glob filter
    # for "events.parquet" would match no part file and silently replay
    # zero rows).
    import os as _os

    events_path = _os.path.join(sf_dir, "events.parquet")
    reader = spark.readStream.schema(schema)
    if _os.path.isdir(events_path):
        target = events_path
    else:
        reader = reader.option("pathGlobFilter", "events.parquet")
        target = sf_dir
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(target)
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # integer div — float division rounds above 2^53 (off-by-1 µs)
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def windowed_event_counts(
    stream: DataFrame,
    window: str = "15 minutes",
    watermark: str = "30 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, sliding/hopping) window counts +
    exact-decimal value totals per event_type. Watermark bounds the
    state store: windows older than max(event_time) - watermark are
    finalized and evicted. One shuffle on (window, event_type) with
    partial aggregation map-side; a sliding window multiplies state and
    shuffle rows by window/slide (each event belongs to that many
    windows), not input scans."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(win["start"].alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("total_value"),
        )
    )


def session_stats(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based session windows per user (session_window merges events
    within ``gap``); emits per-session event counts and bounds. The
    window end is last-event + gap, mirroring the batch gaps-and-islands
    twin's MAX(ts) + gap. Sessions are keyed (user_id) — state lives on
    the user's shuffle partition and is evicted once the watermark
    passes session end."""
    sw = F.session_window("ts", gap)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(sw, "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window")["start"].alias("session_start"),
            F.col("session_window")["end"].alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(
    stream: DataFrame, keys: list[str], watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup: keep the first row per key combination,
    with state bounded by the watermark (a duplicate arriving more than
    ``watermark`` after the first copy may re-emit — the documented
    tradeoff that makes infinite-stream dedup finite-state)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def clicks_to_errors_join(
    stream: DataFrame, horizon: str = "10 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each click joins the SAME user's error
    events within ``horizon`` after the click. Both sides carry
    watermarks and the join condition bounds event-time distance, so
    each side's join state is evicted once the other side's watermark
    passes the horizon — bounded state on unbounded streams, the
    canonical funnel/attribution shape."""
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    errors = (
        stream.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("e_user"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (F.col("error_ts") < F.col("click_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return clicks.join(errors, cond, "inner").select(
        F.col("c_user").alias("user_id"), "click_id", "error_id", "click_ts", "error_ts"
    )


def clicks_left_outer_errors(
    stream: DataFrame, horizon: str = "10 minutes", watermark: str = "1 minute"
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click emits — joined to the
    same user's errors within ``horizon`` after the click when a match
    exists, with NULL error columns otherwise.

    The outer side is the semantically hard part of streaming joins: a
    "no match" verdict is only safe once the error-side watermark has
    passed ``click_ts + horizon`` (any earlier, a matching error could
    still arrive), so Spark holds unmatched clicks in state and emits
    the NULL-extended row on watermark passage, not on arrival. Both
    watermarks and the event-time bound are REQUIRED for outer
    stream-stream joins — they are what make join state evictable
    (bounded state on unbounded streams). Cite: reference has no
    streaming at all (SURVEY.md §2.C); this is the Spark-native
    attribution-with-nulls shape (funnel drop-off detection).
    """
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    errors = (
        stream.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("e_user"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (F.col("error_ts") < F.col("click_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return clicks.join(errors, cond, "left_outer").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "error_id",
        "click_ts",
        "error_ts",
    )


def enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    dim_cols: list[str],
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream
    inner-joins a STATIC dimension on ``stream_key = dim_key``,
    appending ``dim_cols``. The static side is explicitly broadcast —
    dimensions are small relative to an event stream, so the join is
    stateless (no watermark, no join state store) and each micro-batch
    pays only a map-side hash lookup; the unbounded side never
    shuffles. This is the canonical streaming-enrichment shape; a
    slowly-changing dimension would swap ``dim`` for a Delta/parquet
    re-read per batch via ``foreachBatch`` without touching the plan
    here."""
    d = dim.select(F.col(dim_key).alias(stream_key), *dim_cols)
    return stream.join(F.broadcast(d), stream_key, "inner")


# -- custom stateful operator -----------------------------------------

_TOTALS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value_cents", LongType()),
    ]
)
_TOTALS_STATE = StructType(
    [StructField("n", LongType()), StructField("cents", LongType())]
)


def _totals_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Running per-user totals. Value cents are accumulated as integers
    so cross-batch accumulation is exact and order-independent."""
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(round(pdf["value"].mul(100).round().sum())) if len(pdf) else 0
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value_cents": [cents]}
    )


def user_running_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, exact-cents total), one output row per user per
    micro-batch — the pattern for stateful logic Spark's built-in
    aggregates can't express (per-key accumulators with arbitrary Python
    update logic, Arrow-batched). State is two longs per user: at 10^9
    users that is ~16 GB across the cluster — fine, and evictable via a
    timeout if the key space churns."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _totals_fn,
        outputStructType=_TOTALS_OUT,
        stateStructType=_TOTALS_STATE,
        outputMode="Update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -- bounded-replay runner --------------------------------------------


_CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _drain(
    spark: SparkSession,
    writer: DataStreamWriter,
    checkpoint: str | None = None,
    state_partitions: int | None = None,
    process_all: bool = False,
) -> StreamingQuery:
    """Run one bounded streaming query to completion; every bounded
    drain in the package goes through here. For the query's lifetime:

    - shuffle partitions are ``state_partitions`` capped at
      ``defaultParallelism``: each state partition is a task per batch
      with a fixed state-store commit and Python-worker cost, so wider
      only adds task waves. A restart reuses the count recorded in the
      checkpoint, so the cap acts on first starts only.
    - a local checkpoint (the memory sink's temporary one, or a ``file:``
      or schemeless path under a ``file:///`` default FS) uses the
      FileSystem checkpoint manager unless the session sets one. Without
      Hadoop native IO, FileContext forks ``chmod``/``readlink`` per
      checkpoint file; on ``file://`` both do the same check-then-rename.

    It waits on AvailableNow, or with ``process_all`` on
    ``processAllAvailable()`` + ``stop()`` (Python data-source readers),
    and restores both confs when the query ends or fails. Returns the
    terminated query (its progress is kept)."""
    conf = spark.conf
    old_partitions = conf.get("spark.sql.shuffle.partitions")
    path = checkpoint or conf.get("spark.sql.streaming.checkpointLocation", None)
    scheme = urlparse(path or "/").scheme or urlparse(
        spark._jsparkSession.sessionState().newHadoopConf().get("fs.defaultFS")
    ).scheme
    set_manager = scheme == "file" and conf.get(_CHECKPOINT_MANAGER, None) is None
    try:
        if state_partitions is not None:
            cap = min(state_partitions, spark.sparkContext.defaultParallelism)
            conf.set("spark.sql.shuffle.partitions", str(cap))
        if set_manager:
            conf.set(_CHECKPOINT_MANAGER, _FS_CHECKPOINT_MANAGER)
        if checkpoint is not None:
            writer = writer.option("checkpointLocation", checkpoint)
        if not process_all:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        if process_all:
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        q.awaitTermination()
        return q
    finally:
        conf.set("spark.sql.shuffle.partitions", old_partitions)
        if set_manager:
            conf.unset(_CHECKPOINT_MANAGER)


def run_available_now(
    result: DataFrame,
    output_mode: str = "complete",
    name: str | None = None,
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion with the AvailableNow
    trigger into an in-memory sink and return the sink table. This is
    the test/driver harness: it replays the bounded file source as a
    real streaming query (state store, watermarks, micro-batches) and
    terminates. Production uses the same plan with a durable sink.

    ``state_partitions`` sizes the stream's state shuffle; see
    :func:`_drain` for the cap and checkpoint rules."""
    name = name or f"stream_sink_{os.getpid()}_{next(_sink_counter)}"
    writer = result.writeStream.format("memory").queryName(name).outputMode(output_mode)
    _drain(result.sparkSession, writer, None, state_partitions)
    return result.sparkSession.table(name)


def run_process_all(
    result: DataFrame,
    output_mode: str = "append",
    name: str | None = None,
    state_partitions: int | None = None,
) -> DataFrame:
    """Like :func:`run_available_now`, but drains via
    ``processAllAvailable()`` + ``stop()`` on a default micro-batch
    trigger. Needed for Python ``SimpleDataSourceStreamReader`` sources:
    the AvailableNow trigger snapshots only the reader's first
    prefetched slice as "available" and terminates after one
    micro-batch, while processAllAvailable keeps cycling micro-batches
    until the source's offset stops advancing — the correct
    drain-a-bounded-cursor semantics."""
    name = name or f"stream_sink_{os.getpid()}_{next(_sink_counter)}"
    writer = result.writeStream.format("memory").queryName(name).outputMode(output_mode)
    _drain(result.sparkSession, writer, None, state_partitions, process_all=True)
    return result.sparkSession.table(name)


# -- transformWithStateInPandas (Spark 4 stateful API) -----------------


def user_totals_tws(stream: DataFrame) -> DataFrame:
    """The modern stateful surface: ``transformWithStateInPandas`` with
    a typed ValueState — same per-user running (count, exact-cents
    total) semantics as :func:`user_running_totals`, on the API that
    supersedes applyInPandasWithState (named state variables, timers,
    TTL, initial-state bootstrap; RocksDB-backed in production). Kept
    alongside the legacy operator so both stateful lanes stay covered.
    State remains two longs per user; output is one row per user per
    micro-batch, Update mode.

    Environment notes: the transformWithState state-server protocol
    imports protobuf at query start (compat.export_protobuf_env /
    ensure_protobuf make a locally-available pure-python copy reachable
    when the interpreter lacks it), and named state variables require
    the RocksDB state store provider (they map to state-store column
    families, which the HDFS-backed default does not support) — the
    driver query stream_stateful_totals_tws sets both up. The legacy
    applyInPandasWithState lane (user_running_totals) has neither
    dependency."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _TotalsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n_events long, total_cents long"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents = 0, 0
            if self._state.exists():
                n, cents = self._state.get()
            for pdf in rows:
                n += len(pdf)
                # exact decimal cents, same arithmetic as _totals_fn
                for v in pdf["value"]:
                    cents += round(float(v) * 100)
            self._state.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_cents": [cents],
                }
            )

        def close(self) -> None:
            pass

    return stream.select("user_id", "value").groupBy("user_id").transformWithStateInPandas(
        _TotalsProcessor(),
        outputStructType="user_id long, n_events long, total_cents long",
        outputMode="Update",
        timeMode="None",
    )


def user_sessions_tws(stream: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """EVENT-TIME TIMERS on the Spark 4 stateful API: gap-based session
    CLOSE, emitted by ``handleExpiredTimer`` when the watermark proves
    the session over — the surface ``session_window`` cannot express
    custom per-session payloads through, and the part of
    ``transformWithStateInPandas`` (timers) that ``user_totals_tws``'s
    ValueState lane does not exercise.

    Semantics per user key:

    - events arriving in one batch are split on the gap locally;
      sessions PROVEN closed inside the batch (a later in-batch event
      more than ``gap_seconds`` after them) emit immediately;
    - the trailing open session is held in a ValueState and a timer is
      registered at ``last_event + gap``; when the EVENT-TIME watermark
      passes that point, ``handleExpiredTimer`` emits the session and
      clears state — no new event can extend it (that is the watermark
      contract, the same reason stream-stream outer joins gate their
      NULL rows);
    - a timer made stale by a session extension is ignored on expiry
      (the state's ``last + gap`` exceeds the fired expiry), so timer
      re-registration needs no delete bookkeeping.

    State per key is ONE (start, last, n) triple + pending timers —
    O(keys), not O(events). Requires RocksDB state store + a watermark
    on ``ts`` (event-time timeMode); Append output.
    """
    import pandas as pd  # noqa: F811 (worker-side import, like siblings)

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_ms = gap_seconds * 1000

    def _frame(key, start_ms, last_ms, n):
        return pd.DataFrame(
            {
                "user_id": [key],
                "session_start_ms": [start_ms],
                "session_end_ms": [last_ms + gap_ms],
                "n_events": [n],
            }
        )

    class _SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._open = handle.getValueState(
                "open_session", "start_ms long, last_ms long, n long"
            )

        def handleInputRows(self, key, rows, timerValues):
            times: list[int] = []
            for pdf in rows:
                times.extend(
                    int(t)
                    for t in pdf["ts"].values.astype("datetime64[ms]").astype("int64")
                )
            times.sort()
            if self._open.exists():
                start, last, n = self._open.get()
            else:
                start, last, n = None, None, 0
            for t in times:
                if start is None:
                    start, last, n = t, t, 1
                elif t - last <= gap_ms:
                    # a late-but-in-watermark arrival may precede the
                    # open session's start (cross-batch, watermark slack)
                    start, last, n = min(start, t), max(last, t), n + 1
                else:
                    # closed WITHIN the batch: a later event proves the gap
                    yield _frame(key[0], start, last, n)
                    start, last, n = t, t, 1
            if start is not None:
                self._open.update((start, last, n))
                self._handle.registerTimer(last + gap_ms)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if not self._open.exists():
                return
            start, last, n = self._open.get()
            if expiredTimerInfo.getExpiryTimeInMs() < last + gap_ms:
                return  # stale timer: the session was extended since
            yield _frame(key[0], start, last, n)
            self._open.clear()

        def close(self) -> None:
            pass

    return (
        stream.select("user_id", "ts")
        .withWatermark("ts", "1 second")
        .groupBy("user_id")
        .transformWithStateInPandas(
            _SessionProcessor(),
            outputStructType=(
                "user_id long, session_start_ms long, "
                "session_end_ms long, n_events long"
            ),
            outputMode="Append",
            timeMode="EventTime",
        )
    )


def cdc_apply_stream(
    changes_stream: DataFrame,
    state_path: str,
    checkpoint: str,
    key_cols: list[str],
    lsn_col: str,
    op_col: str,
    state_partitions: int | None = None,
    n_buckets: int | None = None,
):
    """Streaming CDC compaction: maintain a latest-state parquet table
    from a change-log STREAM via ``foreachBatch`` — the streaming twin
    of ``operators/incremental.cdc_apply``.

    Each micro-batch is collapsed with ``cdc_latest`` (one max_by
    aggregate) and merged against the standing state by running
    ``cdc_latest`` AGAIN over standing ∪ batch — so the higher LSN
    always wins regardless of arrival batch. The state table keeps
    delete TOMBSTONES (op retained): an out-of-order older update in a
    later batch loses to the tombstone's LSN instead of resurrecting
    the key; read the live view with ``cdc_state``. The merge is
    IDEMPOTENT (re-merging a replayed batch reproduces the same
    state), which upgrades foreachBatch's at-least-once replay to
    exactly-once observable state.

    With ``n_buckets`` (round 14, the partitioned layout the admission
    stream pioneered) the state lives hash-partitioned on
    ``key_bucket = pmod(xxhash64(keys), n_buckets)`` and each batch
    MERGES AND REWRITES ONLY ITS TOUCHED BUCKETS: collapse the batch,
    collect its ≤ ``n_buckets`` distinct buckets, partition-prune the
    standing read to those buckets, cdc_latest over that slice ∪
    batch, write to a dot-prefixed (reader-invisible) staging dir and
    swap each touched bucket directory atomically — per-batch cost is
    O(standing/n_buckets · touched + batch), and a narrow batch
    touches few buckets. CDC state is mutable (updates/tombstones), so
    unlike admission it cannot append — bounded rewrite is the floor,
    and every crash point stays replay-idempotent (a partial set of
    bucket swaps re-merges to identical content). ``n_buckets=None``
    keeps the legacy monolithic tmp → rename swap. Returns the
    DataStreamWriter (caller starts + awaits)."""
    import glob as _glob
    import shutil as _shutil
    import uuid as _uuid

    from ..operators.incremental import cdc_latest
    from ..plans.materialize import _atomic_swap

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        old = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            if state_partitions is not None:
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(state_partitions)
                )
            collapsed = cdc_latest(batch_df, key_cols, lsn_col, op_col)
            if n_buckets is None:
                if os.path.exists(state_path):
                    standing = spark.read.parquet(state_path)
                    merged = cdc_latest(
                        standing.unionByName(collapsed),
                        key_cols,
                        lsn_col,
                        op_col,
                    )
                else:
                    merged = collapsed
                tmp = f"{state_path}.tmp-{_uuid.uuid4().hex[:8]}"
                merged.write.mode("overwrite").parquet(tmp)
                _atomic_swap(state_path, tmp)
                return
            # persist the collapsed batch: the touched-bucket collect
            # and the merge write are separate ACTIONS — unpersisted,
            # the batch's max_by collapse (and its shuffle) ran twice
            # per micro-batch (round 15; the same per-batch posture
            # dedup_admission_stream got in round 14, guide §1.2).
            # Unpersisted in the finally below, scoped to this batch.
            collapsed = collapsed.withColumn(
                "key_bucket",
                F.pmod(
                    F.xxhash64(*[F.col(k) for k in key_cols]),
                    F.lit(n_buckets),
                ),
            ).persist()
            touched = [
                r[0]
                for r in collapsed.select("key_bucket").distinct().collect()
            ]
            if not touched:
                return
            has_state = bool(
                _glob.glob(os.path.join(state_path, "key_bucket=*"))
            )
            if has_state:
                standing = spark.read.parquet(state_path).filter(
                    F.col("key_bucket").isin(touched)
                )
                merged = cdc_latest(
                    standing.unionByName(collapsed), key_cols, lsn_col, op_col
                )
            else:
                merged = collapsed
            tag = _uuid.uuid4().hex[:8]
            stage = os.path.join(state_path, f".cdcmerge-{tag}")
            (
                merged.repartition("key_bucket")
                .write.mode("overwrite")
                .partitionBy("key_bucket")
                .parquet(stage)
            )
            os.makedirs(state_path, exist_ok=True)
            for b in touched:
                src = os.path.join(stage, f"key_bucket={b}")
                dst = os.path.join(state_path, f"key_bucket={b}")
                if not os.path.exists(src):
                    continue  # bucket merged to zero rows (cannot happen
                    # with tombstone retention, but stay defensive)
                backup = os.path.join(state_path, f".backup-{b}-{tag}")
                if os.path.exists(dst):
                    os.rename(dst, backup)
                try:
                    os.rename(src, dst)
                except OSError:
                    if os.path.exists(backup):
                        os.rename(backup, dst)
                    raise
                _shutil.rmtree(backup, ignore_errors=True)
            _shutil.rmtree(stage, ignore_errors=True)
        finally:
            try:
                collapsed.unpersist()  # scoped to this micro-batch;
                # a no-op for the legacy (never-persisted) path
            except NameError:
                pass
            spark.conf.set("spark.sql.shuffle.partitions", old)

    return (
        changes_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def cdc_state(
    spark: SparkSession, state_path: str, op_col: str, delete_op: str = "D"
) -> DataFrame:
    """Live view over a :func:`cdc_apply_stream` state table: tombstones
    filtered, op column consumed; the bucketed layout's physical
    partition key (``key_bucket``) is dropped when present so both
    layouts read back identically."""
    out = spark.read.parquet(state_path).filter(
        F.col(op_col) != delete_op
    ).drop(op_col)
    if "key_bucket" in out.columns:
        out = out.drop("key_bucket")
    return out


def dedup_admission_stream(
    docs_stream: DataFrame,
    state_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    state_partitions: int | None = None,
    n_buckets: int = 16,
    compact_files_per_bucket: int = 16,
):
    """Streaming corpus-dedup admission: grow a standing fingerprint
    table from a document STREAM via ``foreachBatch`` — the streaming
    twin of ``operators/dedup.incremental_dedup`` and the shape a
    continuously-crawled corpus actually ingests through (batches
    arrive forever; the corpus must never be re-fingerprinted).

    Each micro-batch is deduped internally (smallest id per normalized
    fingerprint) and anti-joined against the standing fingerprint
    table (FIRST SEEN WINS across batches — the admission contract).
    Admission state is APPEND-ONLY by construction (a standing
    fingerprint is never updated or deleted), so the fold is a
    partitioned APPEND, not a rewrite: the state lives as a parquet
    table hash-partitioned on ``fp_bucket = pmod(xxhash64(
    doc_fingerprint), n_buckets)`` and each batch appends one file per
    touched bucket — per-batch WRITE cost is O(batch), independent of
    standing size (the round-13 layout rewrote standing ∪ admitted
    every micro-batch, an O(standing) fold this layout retires). The
    anti-join prunes standing to the batch's touched buckets (a
    ≤ ``n_buckets``-row distinct collect) — a narrow batch reads only
    its own fingerprint ranges; a broad one scans the 16-byte
    fingerprint column of every bucket, which is the floor any
    first-seen-wins contract must pay. Buckets that accumulate more
    than ``compact_files_per_bucket`` files are compacted IN ISOLATION
    through the atomic tmp → rename swap — the bounded
    "rewrite only touched partitions" maintenance, amortized
    O(standing/n_buckets) per compaction.

    The merge stays IDEMPOTENT at every crash point: a replayed
    batch's rows are already standing, the anti-join admits nothing,
    and the append adds nothing; a crash mid-append exposes only
    committed task files, and the replay's anti-join admits exactly
    the missing remainder; compaction is content-preserving under the
    atomic swap — foreachBatch's at-least-once replay upgrades to
    exactly-once observable state.

    At scale the state is the 16-byte-fingerprint table (~1/1000th of
    corpus bytes); size ``n_buckets`` so one bucket's fingerprints fit
    a compaction task. Returns the DataStreamWriter (caller starts +
    awaits)."""
    import glob as _glob
    import shutil as _shutil
    import uuid as _uuid

    from ..functions.text import fingerprint

    def _admit(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        old = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            if state_partitions is not None:
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(state_partitions)
                )
            # batch-internal first-seen (smallest id per fingerprint),
            # FUSED into one pass (round 15; r14 verdict #5): the old
            # exact_dedup + re-fingerprint form normalized the text
            # TWICE (one md5 inside exact_dedup's window key, one in
            # the outer select) and shuffled the FULL row — text
            # included — through the window sort just to re-derive the
            # 16-byte fingerprint afterwards. One map pass now emits
            # the fingerprint, and a map-side-combinable MIN(id)
            # aggregate replaces the row_number window (guide §2.3
            # "aggregate before you shuffle": only (fp, id) crosses the
            # exchange, with partial mins combined map-side). Same
            # result by construction: min id per normalized
            # fingerprint.
            # persisted: the touched-bucket probe and the admitted
            # append are separate ACTIONS — unpersisted, the batch's
            # fingerprint pass ran twice per micro-batch
            batch_fp = (
                batch_df.select(
                    fingerprint(text_col).alias("doc_fingerprint"),
                    F.col(id_col),
                )
                .groupBy("doc_fingerprint")
                .agg(F.min(id_col).alias(id_col))
                .withColumn(
                    "fp_bucket",
                    F.pmod(F.xxhash64("doc_fingerprint"), F.lit(n_buckets)),
                )
                .persist()
            )
            # bounded collect: ≤ n_buckets rows — drives partition
            # pruning of the standing scan AND the compaction sweep
            touched = [
                r[0]
                for r in batch_fp.select("fp_bucket").distinct().collect()
            ]
            if not touched:
                return
            if os.path.exists(state_path):
                pruned = (
                    spark.read.parquet(state_path)
                    .filter(F.col("fp_bucket").isin(touched))
                    .select("doc_fingerprint")
                )
                admitted = batch_fp.join(
                    pruned.dropDuplicates(), "doc_fingerprint", "left_anti"
                )
            else:
                admitted = batch_fp
            (
                admitted.repartition("fp_bucket")
                .write.mode("append")
                .partitionBy("fp_bucket")
                .parquet(state_path)
            )
            for b in touched:
                bdir = os.path.join(state_path, f"fp_bucket={b}")
                files = _glob.glob(os.path.join(bdir, "part-*.parquet"))
                if len(files) <= compact_files_per_bucket:
                    continue
                # dot-prefixed tmp/backup dirs are invisible to Spark's
                # file listing, so a crash at ANY point leaves the
                # partitioned tree readable (an unprefixed leftover
                # would poison partition-column inference)
                tag = f"{b}-{_uuid.uuid4().hex[:8]}"
                tmp = os.path.join(state_path, f".compact-{tag}")
                spark.read.parquet(bdir).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(tmp)
                backup = os.path.join(state_path, f".backup-{tag}")
                os.rename(bdir, backup)
                try:
                    os.rename(tmp, bdir)
                except OSError:
                    os.rename(backup, bdir)
                    raise
                _shutil.rmtree(backup, ignore_errors=True)
        finally:
            try:
                batch_fp.unpersist()  # scoped to this micro-batch
            except NameError:
                pass
            spark.conf.set("spark.sql.shuffle.partitions", old)

    return (
        docs_stream.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
