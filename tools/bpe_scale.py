"""Batched-BPE coordination-cost evidence (VERDICT r11 #5): prove the
``driver rounds ≈ merges / batch`` contract IN NUMBERS at a realistic
merge budget, not just at the bench scale's 8 merges.

Trains on the sf0.1 (and sf1) documents corpus at ``--merges`` (default
256) with batch 16 and batch 32, plus the SEQUENTIAL trainer at the
same budget, counting actual driver coordination rounds by wrapping
``pair_freqs`` (every round issues exactly one candidate TakeOrdered,
so the call count IS the round count — the same counting device as
tests/test_tokenizer.py::test_driver_rounds_scale_as_merges_over_batch).

Reading the numbers: sequential rounds == merges learned (one argmax
round-trip per merge — the 32k-merge production bottleneck); batched
rounds == ceil(budget / batch) independent of corpus, with merges
learned possibly < budget when disjointness conflicts leave round slots
unfilled (the documented fixed-round contract). Wall ratios quantify
what the round collapse buys on a real corpus.

Results merge into SCALING.json under
``queries.tokenizer_bpe_train_batched.merge_budget_<N>``.

Usage: python tools/bpe_scale.py [--merges 256] [--skip-sequential]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import local_env  # noqa: E402,F401

from tools.measure import cleanup, warm, write_scaling  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--merges", type=int, default=256)
    ap.add_argument("--min-freq", type=int, default=2)
    ap.add_argument("--skip-sequential", action="store_true")
    args = ap.parse_args()

    from olist_snowflake_dbt_spark.session import get_spark
    import olist_snowflake_dbt_spark.operators.tokenizer as tok
    from olist_snowflake_dbt_spark.sources.readers import read_table

    spark = get_spark("bpe_scale")
    warm(spark)

    calls = {"n": 0}
    real_pair_freqs = tok.pair_freqs

    def counting(vocab):
        calls["n"] += 1
        return real_pair_freqs(vocab)

    tok.pair_freqs = counting

    def run(fn, sf_dir, **kw):
        calls["n"] = 0
        docs = read_table(spark, sf_dir, "documents")
        t0 = time.perf_counter()
        n_merges = fn(docs, "text", args.merges, args.min_freq, **kw).count()
        wall = round(time.perf_counter() - t0, 1)
        cleanup(spark)
        return {"rounds": calls["n"], "merges": n_merges, "wall_sec": wall}

    sf01 = "/root/testdata/sf0.1"
    sf1 = os.path.join(REPO, "benchdata", "sf1")
    out: dict[str, dict] = {}
    for label, kw in (
        (f"sf0.1_batch16", {"batch": 16}),
        (f"sf0.1_batch32", {"batch": 32}),
    ):
        out[label] = run(tok.bpe_train_batched, sf01, **kw)
        print(label, out[label], flush=True)
    if os.path.isdir(sf1):
        out["sf1_batch32"] = run(tok.bpe_train_batched, sf1, batch=32)
        print("sf1_batch32", out["sf1_batch32"], flush=True)
    if not args.skip_sequential:
        out["sf0.1_sequential"] = run(tok.bpe_train, sf01)
        print("sf0.1_sequential", out["sf0.1_sequential"], flush=True)

    write_scaling({"tokenizer_bpe_train_batched": out},
                  lane=f"merge_budget_{args.merges}")
    print(json.dumps({f"merge_budget_{args.merges}": out}))


if __name__ == "__main__":
    main()
