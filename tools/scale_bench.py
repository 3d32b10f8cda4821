"""Scale-proof lane (VERDICT r06 #1): measure the sf0.1 -> sf1 scaling
ratio of the most expensive operators and publish it, converting the
100-TB design claims from plan-shape arguments into a measured curve.

Runs each query min-of-N at BOTH scale factors inside one session
(warm-up, timer and cache/GC cleanup shared with bench.py through
tools/measure.py), then merges each query's row into SCALING.json,
keeping its nested lanes and every query it did not run:

    {"data_ratio": 10, "queries": {name: {"sf0.1": s, "sf1": s,
     "ratio": r, "sf0.1_shuffle_mb": m, "sf1_shuffle_mb": m,
     "bytes_ratio": r}}, ...}

Reading the ratios: the data grows 10x, so a perfectly linear operator
with zero fixed cost shows ratio 10; every query carries 0.3-2 s of
fixed session/plan/Python-worker setup that does NOT grow, so healthy
ratios land well under 10. A ratio >> 10 means super-linear work —
each one must carry a named cause or a fix (SCALE.md records the
adjudication).

Shuffle-bytes lane (VERDICT r08 #3): alongside wall seconds, each
query records the SHUFFLE WRITE bytes its first run moved (delta of
the executor-cumulative counters around the run — monotonic, immune
to stage-store eviction) plus disk/memory spill. "Bytes moved grows
linearly" is the 100-TB claim in its own units: ``bytes_ratio`` ≈ 10
is a linear exchange, << 10 means the exchange carries something
sub-linear (sketches, capped candidates, dimension tables), and > 10
is super-linear data movement — adjudicated in SCALE.md even when
fixed overhead hides it from the wall ratio.

By default the lane covers EVERY registered query (full-catalog
coverage, VERDICT r08 #5); SCALE_QUERIES below keeps the curated
scale-critical core with its per-family rationale, and --core limits
a run to it.

--lane <name> runs one nested evidence lane from tools/lanes.LANES
instead (forced_smj, k_scaling, merge_budget_256, standing_growth,
state, zipf) and writes it under queries[q][<name>]; each lane's
docstring says what it measures. forced_smj also needs sf10.

Usage: python tools/scale_bench.py [--runs 2] [--only q1,q2,...] [--core]
       [--sf10] [--lane <name>]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import local_env  # noqa: E402,F401

from tools.lanes import LANES, QUERY_LANES, query_rows  # noqa: E402
from tools.measure import warm, write_scaling  # noqa: E402

# the ~16 most expensive / scale-critical operators (bench top-list +
# the deliberate fact-fact shuffles): every dedup family member, ANN,
# stateful streaming, the cogroup Arrow lane, and the TPC-H heavies
SCALE_QUERIES = [
    "fct_orders",
    "tpch_q1_pricing_summary",
    "tpch_q9_product_profit",
    "tpch_q12_shipmode_priority",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_suppliers",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_semantic",
    "dedup_embedding_cosine",
    "dedup_connected_components",
    "similarity_ann_lsh",
    "stream_stateful_totals_tws",
    "cogroup_conversion_stats",
    # breadth: one representative per remaining family (streaming
    # windows, sessionization, text, corpus prep, sub-doc dedup, fuzzy
    # join, clustering, IVF ANN, distribution-heavy TPC-H, CTAS)
    "stream_window_counts",
    "sessionize_events",
    "text_decontaminate",
    "corpus_prep_pipeline",
    "dedup_subdoc_chunks",
    "fuzzy_join_levenshtein",
    "kmeans_clusters",
    "similarity_ivf",
    "tpch_q13_customer_distribution",
    "materialize_table_roundtrip",
    # round-7 additions: duplicated-span accounting is gram-explode
    # heavy (the round's most data-proportional op); the Gopher gate and
    # Z-order audit prove the map-only / single-shuffle claims scale
    "dedup_span_ngram",
    "text_gopher_rules",
    "zorder_layout_stats",
    # round-7 additions (second wave): the bloom build folds the corpus
    # into a fixed-size bitmap (ratio should be ~explode cost), the CMS
    # grid is the fixed-key-domain aggregate claim, CDC apply is the
    # map-side max_by vs full-log-window claim, the sketch rollup and
    # profiler are scan-proportional single aggregates, and the
    # streaming CDC sink carries fixed checkpoint cost + batch merges
    "dedup_bloom_prefilter",
    "cms_heavy_hitters",
    "cdc_apply_latest",
    "cdc_stream_apply",
    "sketch_rollup_merge",
    "table_stats_profile",
    # round-8 continuation: PQ's exhaustive-ADC scan is the most
    # data-proportional new op (encode + code-table scan both grow),
    # ER's block join and the erasure rewrite are the new shuffle/
    # broadcast claims, the compaction row prices its inherent full
    # repartition, and the holdout split must stay scan-bound
    "similarity_pq_adc",
    "er_golden_records",
    "governance_erasure_cascade",
    "layout_compaction_roundtrip",
    "sample_time_holdout",
    # round-8 second wave: the left-outer stream join prices join-state
    # eviction, URL canonicalization must stay map-only scan-bound,
    # listagg/qualify/median are the new one-exchange window/agg claims,
    # MMR's candidate stage is the data-proportional part (the greedy
    # kernel is bounded by the cap), and the partial-update merge adds
    # one extra key join over plain merge
    "stream_stream_left_outer",
    "web_host_url_stats",
    "listagg_within_group",
    "qualify_keep_latest",
    "median_mode_disc",
    "retrieval_mmr_rerank",
    "incremental_merge_update_columns",
    # round-8 closers: the composed web funnel (scan + window + dedup
    # aggregate chain), the gap-fill spine (output ∝ key-spans, not
    # input rows), the FLATTEN fan-out, the polymorphic-UDTF Python
    # lane, and the map-only surrogate-key projection
    "web_corpus_prep",
    "gapfill_locf_interp",
    "flatten_with_ordinality",
    "udtf_polymorphic_parse",
    "dbt_utils_surrogate_key",
]

SF_DIRS = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": os.path.join(REPO, "benchdata", "sf1"),
}

# second decade (VERDICT r10 #4): sf10 = 100x sf0.1 via gen_scale.py
# --replicas 100. A 10x lane can hide an n*sqrt(n) term that 100x
# exposes; --sf10 adds the third point and ratio_d2 = sf10/sf1.
SF10_DIR = os.path.join(REPO, "benchdata", "sf10")

# the heaviest lanes — the designated two-decade set (round 12 added
# the rewritten prefix filter and the incremental minhash admission;
# both carry adjudicated broadcast->shuffle transitions in SCALE.md)
DECADE2_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "similarity_ann_lsh",
    "dedup_connected_components",
    "match_recognize_funnel",
    "web_corpus_prep",
    "dedup_jaccard_prefix_filter",
    "dedup_incremental_minhash",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--only",
        default="",
        help="comma list of queries (the catalog, forced_smj and state lanes)",
    )
    ap.add_argument(
        "--core",
        action="store_true",
        help="limit to the curated SCALE_QUERIES core (default: full catalog)",
    )
    ap.add_argument(
        "--sf10",
        action="store_true",
        help="two-decade mode: also run at sf10 (DECADE2_QUERIES by "
        "default) and record ratio_d2 = sf10/sf1",
    )
    ap.add_argument(
        "--lane",
        choices=sorted(LANES),
        help="run this nested SCALING.json lane instead of the flat catalog",
    )
    args = ap.parse_args()
    only = [n for n in args.only.split(",") if n]
    if args.lane and (args.core or args.sf10):
        ap.error("--core and --sf10 pick catalog queries; a lane has its own")
    if only and args.lane and args.lane not in QUERY_LANES:
        ap.error(f"--only applies to the catalog and {', '.join(QUERY_LANES)}")

    sf_dirs = dict(SF_DIRS)
    if args.sf10 or args.lane == "forced_smj":
        if not os.path.isdir(SF10_DIR):
            sys.exit(
                "sf10 missing — run: python tools/gen_scale.py "
                "benchdata/sf10 --replicas 100"
            )
        sf_dirs["sf10"] = SF10_DIR

    if not os.path.isdir(SF_DIRS["sf1"]):
        sys.exit("sf1 missing — run: python tools/gen_scale.py")

    from olist_snowflake_dbt_spark.queries import QUERIES
    from olist_snowflake_dbt_spark.session import get_spark

    spark = get_spark("scale_bench")
    warm(spark, *sf_dirs.values())

    if args.lane:
        rows = LANES[args.lane](spark, sf_dirs, only, args.runs)
        write_scaling(rows, lane=args.lane)
        print(json.dumps({args.lane: rows}))
        return

    names = only or (
        DECADE2_QUERIES if args.sf10
        else SCALE_QUERIES if args.core
        # full catalog: curated core first (canonical ordering for
        # round-over-round diffs), then every remaining registered query
        else SCALE_QUERIES + [q for q in QUERIES if q not in SCALE_QUERIES]
    )
    out = query_rows(spark, sf_dirs, names, args.runs)
    write_scaling(out, top={
        "data_ratio": 10,
        "runs_per_point": args.runs,
        "note": (
            "min-of-N wall seconds per scale factor in one shared session; "
            "fixed per-query overhead (plan, Python worker, checkpoint "
            "setup) does not scale with data, so linear operators show "
            "ratio << 10. *_shuffle_mb = shuffle-write bytes moved by the "
            "first run (executor-counter delta); bytes_ratio ~10 = linear "
            "exchange, <<10 = sub-linear payload (sketch/cap/broadcast), "
            ">10 = super-linear movement. Adjudication of outliers: "
            "SCALE.md §measured."
        ),
    })
    print(json.dumps({k: v.get("ratio") for k, v in out.items()}))


if __name__ == "__main__":
    main()
