"""Focused per-query optimization bench (round 14): time a subset of
registered queries at one scale dir with bench.py's exact methodology
(tools/measure.py: noop sink, min-of-N, cache/GC cleanup between runs),
report shuffle write + spill deltas for the first run, and optionally
dump `.explain("formatted")` plans of the DataFrame the first timed run
built.

Usage:
    python tools/qbench.py --sf /root/testdata/sf0.1 \
        --runs 2 [--plans plans/r14 --suffix before] q1 q2 ...

Prints one JSON line {name: {"min": s, "runs": [...], "shuffle_mb": m,
"spill_disk_mb": m, "spill_mem_mb": m}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import local_env  # noqa: E402,F401

from tools.measure import time_noop, warm  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plans", default=None,
                    help="directory to write <query>_<suffix>.txt plans")
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    from olist_snowflake_dbt_spark.session import get_spark
    from olist_snowflake_dbt_spark.queries import QUERIES

    spark = get_spark("qbench")
    warm(spark, args.sf)

    out: dict[str, dict] = {}
    for name in args.queries:
        fn = QUERIES[name]
        built: list = []

        def make():
            built.append(fn(spark, args.sf))
            return built[-1]

        spark.sparkContext.setJobDescription(f"qbench:{name}")
        out[name] = time_noop(spark, make, args.runs)
        print(f"# {name}: {out[name]}", file=sys.stderr)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = built[0]
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(plan)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
