"""Zipf-host evidence for the per-domain cap prefilter (VERDICT r11
#4): show IN NUMBERS that a hot host holding a large share of the
crawl no longer serializes its full row set through one rank-window
task once the hash-threshold prefilter is on.

Fixture: a synthetic crawl where ONE host owns ~half the rows (the
1%-of-crawl host, exaggerated to make the serialization visible) plus
a uniform cold tail, at two volumes (x1 / x10). For each volume it
records:

- ``hot_rows``: the hot host's row count (the window-partition size an
  UNFILTERED cap would sort in one task — a window partition is a
  unit, AQE cannot split it);
- ``hot_window_input``: the hot host's rows that SURVIVE the
  prefilter, i.e. what the rank task actually sorts — bounded by
  ≈ factor·cap whatever the volume;
- wall seconds for the capped query with and without the prefilter
  (min of 2).

Reading it: hot_rows grows with the data; hot_window_input stays
≈ factor·cap (the bound is per HOST, not per corpus). Round 13 rebuilt
the operator's verifier to ride inside the plan (one in-plan
assert_true on a count window sharing the rank window's exchange; the
per-host min-key row always survives so no host can vanish), cutting
the prefiltered path from counts-pass + main-pass + persisted verify
job to exactly counts-pass + main-pass — and extended this lane past
the crossover volume where the plain window's single-task sort of the
hot host (a window partition is a unit; AQE cannot split it) costs
more than the prefilter's second parallel scan. Walls at every volume
are recorded unflattered, including the small ones where plain wins.

Results merge into SCALING.json under
``queries.web_cap_prefilter.zipf``.

Usage: python tools/cap_zipf_scale.py [--base-rows 200000] [--cap 20]
       [--scales 1,10,100]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import local_env  # noqa: E402,F401

from tools.measure import SCALING_PATH, time_noop, warm, write_scaling  # noqa: E402

FACTOR = 8


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base-rows", type=int, default=200_000)
    ap.add_argument("--cap", type=int, default=20)
    ap.add_argument("--scales", default="1,10,100")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]

    from pyspark.sql import functions as F

    from olist_snowflake_dbt_spark.operators.web import (
        canonicalize_url,
        cap_per_host,
    )
    from olist_snowflake_dbt_spark.session import get_spark

    spark = get_spark("cap_zipf")
    warm(spark)

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
            spark, lambda: cap_per_host(df, "url", "doc_id", cap=args.cap, **kw), 2
        )
        return round(t["min"], 2)

    out: dict[str, dict] = {"factor": FACTOR, "cap": args.cap}
    for scale in scales:
        label, n = f"x{scale}", args.base_rows * scale
        df = fixture(n).localCheckpoint()
        hot_rows = df.filter(F.col("url").startswith("http://hot.")).count()
        # replicate the operator's own prefilter predicate (incl. the
        # round-13 per-host min-key escape row) to count the hot host's
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
        budget = F.lit(FACTOR * args.cap).cast("bigint")
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
            "wall_prefiltered": wall(df, prefilter_factor=FACTOR),
            "wall_two_phase": wall(df, salt_buckets=32),
            # round 14: measured auto-selection — key_skew_stats
            # pre-flight picks plain under 2M hot rows, two-phase above
            "wall_auto": wall(df, salt_buckets="auto"),
        }
        print(label, out[label], flush=True)

    with open(SCALING_PATH) as fh:
        entry = json.load(fh)["queries"].get("web_cap_prefilter", {})
    # merge per-scale so partial runs (e.g. --scales 100 alone) extend
    # the lane instead of clobbering the other volumes
    write_scaling({"web_cap_prefilter": {**entry.get("zipf", {}), **out}},
                  lane="zipf")
    print(json.dumps({"zipf": out}))


if __name__ == "__main__":
    main()
