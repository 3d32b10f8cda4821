"""Streaming state-size evidence lane (VERDICT r10 #5): convert the
streaming family's 100-TB claim — "watermarks bound all state" — into
NUMBERS by recording the state-store metrics every micro-batch reports
(StreamingQueryProgress.stateOperators) while each streaming driver
query replays at TWO input volumes (sf0.1 and sf1 — 10x rows AND 10x
distinct keys, per tools/gen_scale.py's replication scheme).

What "bounded" means in these numbers: state rows scale with the
ACTIVE KEY/WINDOW population inside the watermark horizon, never with
total input processed. On the replicated fixture the key population
grows 10x with the data, so a healthy stateful operator shows
``state_rows_ratio`` ≈ 10 (state ∝ keys) with ``state_rows_max`` ≪
``input_rows`` (state is not the stream), and a stateless operator
shows zero state at both volumes. A state_rows_ratio tracking INPUT
batches (unbounded accumulation — the leak this lane exists to catch)
would keep growing batch over batch; ``state_rows_last ==
state_rows_max`` asymmetry is recorded for that purpose.

Results merge into SCALING.json under each query's entry:
    {"state_rows_max": {"sf0.1": n, "sf1": n}, "state_rows_ratio": r,
     "state_mb_max": {...}, "input_rows": {...}, "n_state_operators": k}

Usage: python tools/stream_state_bench.py [--only q1,q2,...]
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import local_env  # noqa: E402,F401

from perfbench.measure import progress_listener  # noqa: E402
from tools.measure import time_noop, write_scaling  # noqa: E402

# the streaming-family driver queries (the full family: stateful ones
# prove boundedness, stateless ones prove ZERO state)
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

SF_DIRS = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": os.path.join(REPO, "benchdata", "sf1"),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="")
    args = ap.parse_args()
    names = [n for n in args.only.split(",") if n] or STREAM_QUERIES

    if not os.path.isdir(SF_DIRS["sf1"]):
        sys.exit("sf1 missing — run: python tools/gen_scale.py")

    from olist_snowflake_dbt_spark.queries import QUERIES
    from olist_snowflake_dbt_spark.session import get_spark

    captured: list[str] = []
    spark = get_spark("stream_state_bench")
    spark.streams.addListener(progress_listener(captured))

    out: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        row: dict = {
            "state_rows_max": {},
            "state_rows_last": {},
            "state_mb_max": {},
            "input_rows": {},
            "n_batches": {},
            "n_state_operators": 0,
        }
        for sf, sf_dir in SF_DIRS.items():
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
            for pj in captured:
                p = json.loads(pj)
                input_rows += int(p.get("numInputRows", 0) or 0)
                ops = p.get("stateOperators") or []
                n_ops = max(n_ops, len(ops))
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
            row["n_state_operators"] = max(row["n_state_operators"], n_ops)
        a, b = row["state_rows_max"].get("sf0.1"), row["state_rows_max"].get("sf1")
        if a and b:
            row["state_rows_ratio"] = round(b / a, 2)
        out[name] = row
        print(name, json.dumps(row), flush=True)

    write_scaling(out, lane="state", top={"state_note": (
        "state = StreamingQueryProgress.stateOperators per micro-batch at "
        "two input volumes (10x rows AND 10x keys). state_rows_max scales "
        "with the watermark-horizon key/window population (ratio ~10 on "
        "the key-replicated fixture), NOT with input processed; "
        "state_rows_max << input_rows and zero state for the stateless "
        "rows. Adjudication: SCALE.md §streaming-state."
    )})
    print(json.dumps({k: v.get("state_rows_ratio") for k, v in out.items()}))


if __name__ == "__main__":
    main()
