"""OPH's headline claim, measured: the SIGNATURE stage's cost is flat
in k for one-permutation hashing while classic k-mins MinHash grows
with k (operators/dedup.oph_minhash_signatures docstring). Times the
signature stage alone (noop write — no banding/pair stages, which the
two variants share) for k in {64, 256} over the sf0.1 documents table,
min-of-N per point.

Results merge into SCALING.json under
``queries.dedup_minhash_oph.k_scaling``:

    {"classic_k64": s, "classic_k256": s, "oph_k64": s, "oph_k256": s,
     "classic_k_ratio": r, "oph_k_ratio": r}

``classic_k_ratio`` (k256/k64) >> ``oph_k_ratio`` ~ 1 is the claim.

Usage: python tools/oph_k_scale.py [--runs 2] [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import local_env  # noqa: E402,F401

from tools.measure import time_noop, write_scaling  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from olist_snowflake_dbt_spark.operators.dedup import (
        minhash_signatures,
        oph_minhash_signatures,
    )
    from olist_snowflake_dbt_spark.session import get_spark

    spark = get_spark("oph_k_scale")
    docs = spark.read.parquet(os.path.join(args.sf, "documents.parquet"))
    docs = docs.select("doc_id", "text")

    # warm the JVM/codegen path once so neither variant pays first-run
    # compile inside its measurement
    docs.count()

    out = {}
    for k in (64, 256):
        for label, sign in (("classic", minhash_signatures),
                            ("oph", oph_minhash_signatures)):
            out[f"{label}_k{k}"] = time_noop(
                spark, lambda: sign(docs, "text", "doc_id", 3, k), args.runs
            )["min"]
    out["classic_k_ratio"] = round(out["classic_k256"] / out["classic_k64"], 2)
    out["oph_k_ratio"] = round(out["oph_k256"] / out["oph_k64"], 2)
    print(json.dumps(out))

    write_scaling({"dedup_minhash_oph": out}, lane="k_scaling")


if __name__ == "__main__":
    main()
