"""The SCALING.json evidence lanes behind ``tools/scale_bench.py --lane``.

``LANES`` maps each nested lane name to the function that measures it.
A lane function takes ``(spark, sf_dirs, names, runs)`` and returns
``{query: row}``, which the CLI writes to ``queries[query][lane]``. It
builds its own fixture, frame factory and sweep; the CLI owns the
session, the warm-up, the scale dirs and the one ``write_scaling``
call. ``names`` is the ``--only`` list, which only the query lanes
(``QUERY_LANES``) read. The sweep values are the module constants that
produced the committed rows.

``query_rows`` is the per-query min-of-N loop at every scale factor,
shared by the flat catalog lane and ``forced_smj``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

from tools.measure import cleanup, time_noop

QUERY_LANES = ("forced_smj", "state")

# forced_smj: the >10x d2 byte-ratio adjudications of SCALE.md
FORCED_SMJ_QUERIES = [
    "dedup_incremental_minhash",
    "dedup_jaccard_prefix_filter",
    "dedup_minhash_oph",
    "dedup_subdoc_chunks",
]
# merge_budget_256
BPE_MERGES = 256
BPE_MIN_FREQ = 2
BPE_BATCHES = (16, 32)
# zipf
ZIPF_BASE_ROWS = 200_000
ZIPF_CAP = 20
ZIPF_FACTOR = 8
ZIPF_SCALES = (1, 10, 100)
# standing_growth
STANDING_SCALES = (1, 10, 100)
PLANT_MOD = 50  # every 50th batch key is planted into standing (2%)
ADMISSION_BUCKETS = 16
# k_scaling
OPH_KS = (64, 256)
# state: the streaming-family catalog queries (the full family: stateful
# ones prove boundedness, stateless ones prove ZERO state)
STREAM_QUERIES = [
    "stream_window_counts",
    "stream_session_stats",
    "stream_dedup",
    "stream_stateful_totals",
    "stream_stream_join",
    "stream_static_enrich",
    "stream_sliding_window",
    "stream_stateful_totals_tws",
    "stream_file_sink_exactly_once",
    "stream_file_ingest_native",
    "stream_stream_left_outer",
    "cdc_stream_apply",
]


def query_rows(spark, sf_dirs: dict[str, str], names, runs: int) -> dict[str, dict]:
    """One flat row per query: min-of-``runs`` seconds and run 0's
    shuffle/spill MB at each scale factor, with the decade ratios."""
    from olist_snowflake_dbt_spark.queries import QUERIES

    out: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        row: dict[str, float] = {}
        for sf, sf_dir in sf_dirs.items():
            try:
                t = time_noop(spark, functools.partial(fn, spark, sf_dir), runs)
                row[sf] = t["min"]
                row[f"{sf}_shuffle_mb"] = t["shuffle_mb"]
                for k in ("spill_disk_mb", "spill_mem_mb"):
                    if t[k]:  # spill is rare — record only hits
                        row[f"{sf}_{k}"] = t[k]
            except Exception as exc:
                row[f"{sf}_error"] = f"{type(exc).__name__}: {exc}"[:200]
                print(f"{name} @ {sf} FAILED: {row[f'{sf}_error']}", file=sys.stderr)
        if "sf0.1" in row and "sf1" in row:
            row["ratio"] = round(row["sf1"] / row["sf0.1"], 2)
            # bytes moved through exchanges, sf1 vs sf0.1: ~10 = linear
            # shuffle, <<10 = sub-linear (sketch/capped/broadcast), >10 =
            # super-linear data movement (adjudicate in SCALE.md)
            if row.get("sf0.1_shuffle_mb", 0) >= 0.5:
                row["bytes_ratio"] = round(
                    row["sf1_shuffle_mb"] / row["sf0.1_shuffle_mb"], 2
                )
        if "sf1" in row and "sf10" in row:
            # second decade: at sf1 the fixed session overhead is mostly
            # amortized, so ratio_d2 reads closer to the true exponent
            row["ratio_d2"] = round(row["sf10"] / row["sf1"], 2)
            if row.get("sf1_shuffle_mb", 0) >= 0.5:
                row["bytes_ratio_d2"] = round(
                    row["sf10_shuffle_mb"] / row["sf1_shuffle_mb"], 2
                )
        out[name] = row
        print(name, row, flush=True)
    return out


def forced_smj(spark, sf_dirs, names, runs):
    """The >10x d2 byte-ratio adjudications, re-measured with broadcast
    joins disabled so every decade runs sort-merge: the clean
    ``bytes_ratio_d2`` sits beside the default-plan numbers."""
    # both knobs: the static planner threshold AND the AQE runtime
    # re-plan threshold — either alone still lets a broadcast in
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    return query_rows(spark, sf_dirs, names or FORCED_SMJ_QUERIES, runs)


def k_scaling(spark, sf_dirs, names, runs):
    """OPH's headline claim: the signature stage's cost is flat in k for
    one-permutation hashing while classic k-mins MinHash grows with k.
    Times the signature stage alone (noop write; the banding and pair
    stages are shared) over the sf0.1 documents for each k in
    ``OPH_KS``. ``classic_k_ratio`` >> ``oph_k_ratio`` ~ 1 is the claim."""
    from olist_snowflake_dbt_spark.operators.dedup import (
        minhash_signatures,
        oph_minhash_signatures,
    )

    docs = spark.read.parquet(os.path.join(sf_dirs["sf0.1"], "documents.parquet"))
    docs = docs.select("doc_id", "text")
    out = {}
    for k in OPH_KS:
        for label, sign in (("classic", minhash_signatures),
                            ("oph", oph_minhash_signatures)):
            out[f"{label}_k{k}"] = time_noop(
                spark, lambda: sign(docs, "text", "doc_id", 3, k), runs
            )["min"]
    lo, hi = OPH_KS
    out["classic_k_ratio"] = round(out[f"classic_k{hi}"] / out[f"classic_k{lo}"], 2)
    out["oph_k_ratio"] = round(out[f"oph_k{hi}"] / out[f"oph_k{lo}"], 2)
    return {"dedup_minhash_oph": out}


def merge_budget_256(spark, sf_dirs, names, runs):
    """The batched BPE trainer's ``rounds ≈ merges / batch`` contract
    at a realistic merge budget. Coordination rounds are counted by
    wrapping ``pair_freqs`` (each round issues exactly one candidate
    TakeOrdered). Sequential rounds == merges learned; batched rounds ==
    ceil(budget / batch) whatever the corpus, with fewer merges learned
    when disjointness conflicts leave round slots unfilled."""
    import olist_snowflake_dbt_spark.operators.tokenizer as tok
    from olist_snowflake_dbt_spark.sources.readers import read_table

    calls = {"n": 0}
    real_pair_freqs = tok.pair_freqs

    def counting(vocab):
        calls["n"] += 1
        return real_pair_freqs(vocab)

    def run(fn, sf, **kw):
        calls["n"] = 0
        docs = read_table(spark, sf_dirs[sf], "documents")
        t0 = time.perf_counter()
        n_merges = fn(docs, "text", BPE_MERGES, BPE_MIN_FREQ, **kw).count()
        wall = round(time.perf_counter() - t0, 1)
        cleanup(spark)
        out = {"rounds": calls["n"], "merges": n_merges, "wall_sec": wall}
        print(sf, kw or "sequential", out, flush=True)
        return out

    tok.pair_freqs = counting
    try:
        out = {f"sf0.1_batch{b}": run(tok.bpe_train_batched, "sf0.1", batch=b)
               for b in BPE_BATCHES}
        out["sf1_batch32"] = run(tok.bpe_train_batched, "sf1", batch=32)
        out["sf0.1_sequential"] = run(tok.bpe_train, "sf0.1")
    finally:
        tok.pair_freqs = real_pair_freqs
    return {"tokenizer_bpe_train_batched": out}


def _planted(df, col):
    # deterministic 2% slice: a hash of the key itself picks the rows,
    # so the same keys are planted at every scale
    return df.filter(F.abs(F.hash(F.col(col))) % PLANT_MOD == 0)


def _filler(spark, n_rows, col, tag):
    # uniform md5 strings collide with nothing real (the key spaces are
    # md5/band-structured; a raw md5 hex string matches neither a band's
    # "i|h|h|h|h" shape nor any real text fingerprint except with ~2^-128
    # odds)
    return spark.range(n_rows).select(
        F.md5(F.concat(F.lit(tag), F.col("id").cast("string"))).alias(col)
    )


def _same_admitted(name, counts):
    if len(set(counts)) != 1:
        sys.exit(
            f"{name}: admitted count varied across standing scales "
            f"({counts}) — the planted slice must be the only rejection "
            "source at every scale"
        )


def standing_growth(spark, sf_dirs, names, runs):
    """The incremental dedup operators hold the batch fixed (the sf0.1
    ``documents``) while the standing index grows ``STANDING_SCALES``.

    The standing index is just a column of keys, so it is synthesized: a
    planted 2% slice of the batch's own keys (the rejected set, the same
    at every scale, so ``admitted`` must not change) plus md5 filler
    keys that collide with nothing. ``wall`` should track the
    standing-side scan, far under 10x per decade of standing growth.

    ``stream_dedup_admission`` is the streaming twin: the standing
    fingerprint state sits on disk in its fp_bucket layout at each scale
    and the batch drains through one foreachBatch micro-batch against a
    pristine copy of it. Its per-batch write is O(batch), so drain wall
    should stay near-flat while standing grows 100x."""
    from olist_snowflake_dbt_spark.functions.text import fingerprint

    batch = (
        spark.read.parquet(f"{sf_dirs['sf0.1']}/documents.parquet")
        .select("doc_id", "text")
        .localCheckpoint()
    )
    batch_fps = (
        batch.select(fingerprint("text").alias("doc_fingerprint"))
        .localCheckpoint()
    )
    results = _standing_batch(spark, batch, batch_fps, runs)
    results["stream_dedup_admission"] = _standing_stream(
        spark, batch, batch_fps, runs
    )
    return results


def _standing_batch(spark, batch, batch_fps, runs):
    from olist_snowflake_dbt_spark.operators.dedup import (
        incremental_dedup,
        incremental_minhash_dedup,
        minhash_banded,
    )

    # the batch's own key populations, used for the planted slice and to
    # size the filler so "scale 1" means "standing ~= one prior batch"
    batch_bands = (
        minhash_banded(batch, "text", "doc_id", 3, 64, 16)
        .select(F.col("__band").alias("band"))
        .localCheckpoint()
    )
    lanes = {
        "dedup_incremental_minhash": {
            "base_rows": batch_bands.count(),
            "planted": _planted(batch_bands, "band"),
            "col": "band",
            "run": lambda standing: incremental_minhash_dedup(
                batch, standing, "text", "doc_id", 3, 64, 16
            ),
        },
        "dedup_incremental_corpus": {
            "base_rows": batch_fps.count(),
            "planted": _planted(batch_fps, "doc_fingerprint"),
            "col": "doc_fingerprint",
            "run": lambda standing: incremental_dedup(
                batch, standing, "text", "doc_id"
            ),
        },
    }

    results: dict[str, dict] = {}
    for name, lane in lanes.items():
        out: dict[str, dict] = {"batch_rows": batch.count()}
        admitted_counts = []
        for scale in STANDING_SCALES:
            n_fill = lane["base_rows"] * scale
            standing = lane["planted"].unionByName(
                _filler(spark, n_fill, lane["col"], f"{name}-fill")
            ).localCheckpoint()
            standing_rows = standing.count()
            admitted = lane["run"](standing).count()
            admitted_counts.append(admitted)
            wall = time_noop(spark, lambda: lane["run"](standing), runs)["min"]
            out[f"x{scale}"] = {
                "standing_rows": standing_rows,
                "admitted": admitted,
                "wall": round(wall, 2),
            }
            print(name, f"x{scale}", out[f"x{scale}"], flush=True)
        _same_admitted(name, admitted_counts)
        results[name] = out
    return results


def _standing_stream(spark, batch, batch_fps, runs):
    from olist_snowflake_dbt_spark.streaming import dedup_admission_stream
    from olist_snowflake_dbt_spark.streaming.events import _drain

    root = tempfile.mkdtemp(prefix="spark_graft_adm_lane_")
    n_fps = batch_fps.count()

    # one staged batch file => one foreachBatch micro-batch per drain
    stage = os.path.join(root, "stage")
    tmp_w = os.path.join(root, "w0")
    batch.coalesce(1).write.parquet(tmp_w)
    os.makedirs(stage)
    [part] = glob.glob(os.path.join(tmp_w, "part-*.parquet"))
    shutil.move(part, os.path.join(stage, "000_batch.parquet"))

    out: dict[str, dict] = {"batch_rows": batch.count()}
    admitted_counts = []
    for scale in STANDING_SCALES:
        pristine = os.path.join(root, f"pristine_x{scale}")
        (
            _planted(batch_fps, "doc_fingerprint")
            .unionByName(_filler(spark, n_fps * scale, "doc_fingerprint", "adm-fill"))
            .withColumn("doc_id", F.lit(-1).cast("long"))
            .withColumn(
                "fp_bucket",
                F.pmod(F.xxhash64("doc_fingerprint"), F.lit(ADMISSION_BUCKETS)),
            )
            .repartition("fp_bucket")
            .write.partitionBy("fp_bucket")
            .parquet(pristine)
        )
        standing_rows = spark.read.parquet(pristine).count()

        best, admitted = None, None
        for r in range(runs):
            state_dir = os.path.join(root, f"state_x{scale}_r{r}")
            shutil.copytree(pristine, state_dir)
            ckpt = os.path.join(root, f"ckpt_x{scale}_r{r}")
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(stage)
            )
            t0 = time.perf_counter()
            _drain(spark, dedup_admission_stream(
                stream, state_dir, ckpt, n_buckets=ADMISSION_BUCKETS
            ), ckpt)
            e = time.perf_counter() - t0
            best = e if best is None else min(best, e)
            admitted = spark.read.parquet(state_dir).count() - standing_rows
            shutil.rmtree(state_dir)
        admitted_counts.append(admitted)
        out[f"x{scale}"] = {
            "standing_rows": standing_rows,
            "admitted": admitted,
            "wall": round(best, 2),
        }
        print("stream_dedup_admission", f"x{scale}", out[f"x{scale}"], flush=True)

    shutil.rmtree(root, ignore_errors=True)
    _same_admitted("stream_dedup_admission", admitted_counts)
    return out


def state(spark, sf_dirs, names, runs):
    """The streaming family's "watermarks bound all state" claim in
    numbers: the state-store metrics every micro-batch reports
    (StreamingQueryProgress.stateOperators) while each streaming query
    replays once at every scale (sf1 has 10x rows AND 10x distinct keys).

    State rows scale with the active key/window population inside the
    watermark horizon, never with input processed: a healthy stateful
    operator shows ``state_rows_ratio`` ≈ 10 with ``state_rows_max`` ≪
    ``input_rows``, and a stateless one zero state. ``state_rows_last``
    next to ``state_rows_max`` shows accumulation across batches.
    ``add_batch_ms``, ``wal_commit_ms`` and ``state_commit_ms`` sum each
    batch's ``durationMs.addBatch``, ``durationMs.walCommit`` and its
    state operators' ``commitTimeMs``: the micro-batch machinery's share
    of the drain, apart from the operator work."""
    from olist_snowflake_dbt_spark.queries import QUERIES
    from perfbench.measure import progress_listener

    captured: list[str] = []
    spark.streams.addListener(progress_listener(captured))

    out: dict[str, dict] = {}
    for name in names or STREAM_QUERIES:
        fn = QUERIES[name]
        row: dict = {
            "state_rows_max": {},
            "state_rows_last": {},
            "state_mb_max": {},
            "input_rows": {},
            "n_batches": {},
            "add_batch_ms": {},
            "wal_commit_ms": {},
            "state_commit_ms": {},
            "n_state_operators": 0,
        }
        for sf, sf_dir in sf_dirs.items():
            captured.clear()
            try:  # one noop run with the shared cleanup; state, not time
                time_noop(spark, functools.partial(fn, spark, sf_dir), 1)
            except Exception as exc:
                row[f"{sf}_error"] = f"{type(exc).__name__}: {exc}"[:200]
                print(f"{name} @ {sf} FAILED: {row[f'{sf}_error']}",
                      file=sys.stderr)
                continue
            # progress events reach the listener asynchronously
            spark._jsc.sc().listenerBus().waitUntilEmpty()
            rows_max = mem_max = input_rows = 0
            rows_last = 0
            n_ops = 0
            add_batch = wal_commit = state_commit = 0
            for pj in captured:
                p = json.loads(pj)
                input_rows += int(p.get("numInputRows", 0) or 0)
                durations = p.get("durationMs") or {}
                add_batch += int(durations.get("addBatch", 0) or 0)
                wal_commit += int(durations.get("walCommit", 0) or 0)
                ops = p.get("stateOperators") or []
                n_ops = max(n_ops, len(ops))
                state_commit += sum(int(o.get("commitTimeMs", 0) or 0) for o in ops)
                batch_rows = sum(
                    int(o.get("numRowsTotal", 0) or 0) for o in ops
                )
                batch_mem = sum(
                    int(o.get("memoryUsedBytes", 0) or 0) for o in ops
                )
                rows_max = max(rows_max, batch_rows)
                mem_max = max(mem_max, batch_mem)
                if ops:
                    rows_last = batch_rows
            row["state_rows_max"][sf] = rows_max
            row["state_rows_last"][sf] = rows_last
            row["state_mb_max"][sf] = round(mem_max / (1024.0 * 1024.0), 2)
            row["input_rows"][sf] = input_rows
            row["n_batches"][sf] = len(captured)
            row["add_batch_ms"][sf] = add_batch
            row["wal_commit_ms"][sf] = wal_commit
            row["state_commit_ms"][sf] = state_commit
            row["n_state_operators"] = max(row["n_state_operators"], n_ops)
        a, b = row["state_rows_max"].get("sf0.1"), row["state_rows_max"].get("sf1")
        if a and b:
            row["state_rows_ratio"] = round(b / a, 2)
        out[name] = row
        print(name, json.dumps(row), flush=True)
    return out


def zipf(spark, sf_dirs, names, runs):
    """The per-domain cap prefilter on a crawl where ONE host owns half
    the rows plus a uniform cold tail, at each of ``ZIPF_SCALES`` times
    ``ZIPF_BASE_ROWS`` rows.

    ``hot_rows`` is the window partition an unfiltered cap sorts in one
    task (a window partition is a unit; AQE cannot split it).
    ``hot_window_input`` is what survives the prefilter, bounded by
    ≈ factor·cap whatever the volume. Walls (min of ``runs``) for the
    plain, prefiltered, two-phase and auto-selected cap are recorded
    unflattered, including the small volumes where plain wins."""
    from olist_snowflake_dbt_spark.operators.web import (
        canonicalize_url,
        cap_per_host,
    )

    def fixture(n: int):
        """~n/2 rows on ONE hot host, n/2 spread over 1000 cold hosts."""
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") % 2 == 0,
                F.concat(
                    F.lit("http://hot.example.com/p/"),
                    F.col("id").cast("string"),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("http://cold"),
                    (F.col("id") % 1000).cast("string"),
                    F.lit(".example.org/p/"),
                    F.col("id").cast("string"),
                )
            )
            .alias("url"),
        )

    def wall(df, **kw) -> float:
        t = time_noop(
            spark, lambda: cap_per_host(df, "url", "doc_id", cap=ZIPF_CAP, **kw), runs
        )
        return round(t["min"], 2)

    out: dict[str, dict] = {"factor": ZIPF_FACTOR, "cap": ZIPF_CAP}
    for scale in ZIPF_SCALES:
        label, n = f"x{scale}", ZIPF_BASE_ROWS * scale
        df = fixture(n).localCheckpoint()
        hot_rows = df.filter(F.col("url").startswith("http://hot.")).count()
        # replicate the operator's own prefilter predicate (incl. the
        # per-host min-key escape row) to count the hot host's
        # rank-window INPUT (its survivors)
        u = canonicalize_url("url")
        wh = df.withColumn("host", u["host"]).withColumn(
            "__k",
            F.md5(
                F.concat(
                    F.lit("caphost"), u["canonical"],
                    F.col("doc_id").cast("string"),
                )
            ),
        )
        u32 = F.conv(F.substring("__k", 1, 8), 16, 10).cast("bigint")
        counts = wh.groupBy("host").agg(
            F.count(F.lit(1)).alias("__hn"), F.min(u32).alias("__mu")
        )
        budget = F.lit(ZIPF_FACTOR * ZIPF_CAP).cast("bigint")
        hot_window_input = (
            wh.join(F.broadcast(counts), "host")
            .filter(
                (F.col("__hn") <= budget)
                | (u32 * F.col("__hn") < budget * F.lit(1 << 32))
                | (u32 == F.col("__mu"))
            )
            .filter(F.col("host") == "hot.example.com")
            .count()
        )
        out[label] = {
            "rows": n,
            "hot_rows": hot_rows,
            "hot_window_input": hot_window_input,
            "wall_plain": wall(df),
            "wall_prefiltered": wall(df, prefilter_factor=ZIPF_FACTOR),
            "wall_two_phase": wall(df, salt_buckets=32),
            # key_skew_stats pre-flight picks plain under 2M hot rows,
            # two-phase above
            "wall_auto": wall(df, salt_buckets="auto"),
        }
        print(label, out[label], flush=True)
    return {"web_cap_prefilter": out}


LANES = {
    "forced_smj": forced_smj,
    "k_scaling": k_scaling,
    "merge_budget_256": merge_budget_256,
    "standing_growth": standing_growth,
    "state": state,
    "zipf": zipf,
}
