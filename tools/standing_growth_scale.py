"""Standing-state growth lane for the incremental dedup operators
(VERDICT r12 #4): the 100-TB story of ``incremental_dedup`` /
``incremental_minhash_dedup`` is a STANDING index that grows round
over round while each admitted batch stays epoch-sized — but the
two-decade lane scales the BATCH. This lane holds the batch fixed
(the sf0.1 ``documents`` table) and grows the standing side
1x/10x/100x, measuring admission wall per standing size.

Standing-side construction: the standing index is just a column of
keys (band strings / fingerprints) — its provenance doesn't affect
admission cost — so the lane synthesizes it directly instead of
re-minhashing a 100x corpus (which is exactly what the operators
exist to avoid): a PLANTED slice (2% of the batch's own keys — the
rejected set, identical at every scale so the admitted count is a
cross-scale invariant the lane asserts) plus uniform md5 filler keys
that collide with nothing.

Reading it: ``wall`` should track the standing-side scan — linear in
standing rows with full parallelism, so the wall RATIO per decade of
standing growth stays far under 10 while the batch-side signing cost
(constant) dominates at small standing sizes. ``admitted`` must be
byte-identical across scales.

Results merge into SCALING.json under
``queries.<name>.standing_growth``.

The ``--stream`` flag runs the STREAMING twin instead
(``streaming/events.dedup_admission_stream``): the standing
fingerprint state is materialized on disk in its fp_bucket-partitioned
layout at each scale, the same sf0.1 batch is drained through ONE
foreachBatch micro-batch against a pristine copy of the state, and the
lane records per-batch drain wall. The round-13 layout rewrote
standing ∪ admitted every micro-batch (O(standing) fold); the
append-only layout's per-batch write is O(batch), so drain wall should
stay near-flat while standing grows 100x — the axis a continuously
crawled corpus actually lives on. ``admitted`` (state rows after −
before) must be identical across scales.

Usage: python tools/standing_growth_scale.py [--scales 1,10,100] [--stream]
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

from tools.measure import time_noop, warm, write_scaling  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
PLANT_MOD = 50  # every 50th batch key is planted into standing (2%)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,10,100")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--stream", action="store_true")
    args = ap.parse_args()
    scales = [int(s) for s in args.scales.split(",")]
    if args.stream:
        return stream_lane(scales, args.runs)

    from pyspark.sql import functions as F

    from olist_snowflake_dbt_spark.operators.dedup import (
        incremental_dedup,
        incremental_minhash_dedup,
        minhash_banded,
    )
    from olist_snowflake_dbt_spark.functions.text import fingerprint
    from olist_snowflake_dbt_spark.session import get_spark

    spark = get_spark("standing_growth")
    warm(spark)

    batch = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .localCheckpoint()
    )

    # the batch's own key populations, used for the planted slice and to
    # size the filler so "scale 1" means "standing ~= one prior batch"
    batch_bands = (
        minhash_banded(batch, "text", "doc_id", 3, 64, 16)
        .select(F.col("__band").alias("band"))
        .localCheckpoint()
    )
    batch_fps = (
        batch.select(fingerprint("text").alias("doc_fingerprint"))
        .localCheckpoint()
    )
    n_bands = batch_bands.count()
    n_fps = batch_fps.count()

    def planted(df, col):
        # deterministic 2% slice: md5 of the key itself picks the rows,
        # so the same keys are planted at every scale
        return df.filter(
            F.abs(F.hash(F.col(col))) % PLANT_MOD == 0
        )

    def filler(n_rows, col, tag):
        # uniform md5 strings collide with nothing real (the key spaces
        # are md5/band-structured; a raw md5 hex string matches neither
        # a band's "i|h|h|h|h" shape nor any real text fingerprint
        # except with ~2^-128 odds)
        return spark.range(n_rows).select(
            F.md5(F.concat(F.lit(tag), F.col("id").cast("string"))).alias(col)
        )

    lanes = {
        "dedup_incremental_minhash": {
            "base_rows": n_bands,
            "planted": planted(batch_bands, "band"),
            "col": "band",
            "run": lambda standing: incremental_minhash_dedup(
                batch, standing, "text", "doc_id", 3, 64, 16
            ),
        },
        "dedup_incremental_corpus": {
            "base_rows": n_fps,
            "planted": planted(batch_fps, "doc_fingerprint"),
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
        for scale in scales:
            n_fill = lane["base_rows"] * scale
            standing = lane["planted"].unionByName(
                filler(n_fill, lane["col"], f"{name}-fill")
            ).localCheckpoint()
            standing_rows = standing.count()
            admitted = lane["run"](standing).count()
            admitted_counts.append(admitted)
            wall = time_noop(spark, lambda: lane["run"](standing), args.runs)["min"]
            out[f"x{scale}"] = {
                "standing_rows": standing_rows,
                "admitted": admitted,
                "wall": round(wall, 2),
            }
            print(name, f"x{scale}", out[f"x{scale}"], flush=True)
        if len(set(admitted_counts)) != 1:
            sys.exit(
                f"{name}: admitted count varied across standing scales "
                f"({admitted_counts}) — the planted slice must be the "
                "only rejection source at every scale"
            )
        results[name] = out

    write_scaling(results, lane="standing_growth")
    print(json.dumps({"standing_growth": results}))


def stream_lane(scales: list[int], runs: int) -> None:
    import glob
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from olist_snowflake_dbt_spark.functions.text import fingerprint
    from olist_snowflake_dbt_spark.session import get_spark
    from olist_snowflake_dbt_spark.streaming import dedup_admission_stream
    from olist_snowflake_dbt_spark.streaming.events import _drain

    n_buckets = 16
    spark = get_spark("standing_growth_stream")
    warm(spark)
    root = tempfile.mkdtemp(prefix="spark_graft_adm_lane_")

    batch = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .localCheckpoint()
    )
    batch_fps = (
        batch.select(fingerprint("text").alias("doc_fingerprint"))
        .localCheckpoint()
    )
    n_fps = batch_fps.count()

    # one staged batch file => one foreachBatch micro-batch per drain
    stage = os.path.join(root, "stage")
    tmp_w = os.path.join(root, "w0")
    batch.coalesce(1).write.parquet(tmp_w)
    os.makedirs(stage)
    [part] = glob.glob(os.path.join(tmp_w, "part-*.parquet"))
    shutil.move(part, os.path.join(stage, "000_batch.parquet"))

    def bucketed(df):
        return df.withColumn(
            "fp_bucket",
            F.pmod(F.xxhash64("doc_fingerprint"), F.lit(n_buckets)),
        )

    out: dict[str, dict] = {"batch_rows": batch.count()}
    admitted_counts = []
    for scale in scales:
        planted = batch_fps.filter(
            F.abs(F.hash(F.col("doc_fingerprint"))) % PLANT_MOD == 0
        )
        filler = spark.range(n_fps * scale).select(
            F.md5(F.concat(F.lit("adm-fill"), F.col("id").cast("string"))).alias(
                "doc_fingerprint"
            )
        )
        pristine = os.path.join(root, f"pristine_x{scale}")
        (
            bucketed(
                planted.unionByName(filler).withColumn(
                    "doc_id", F.lit(-1).cast("long")
                )
            )
            .repartition("fp_bucket")
            .write.partitionBy("fp_bucket")
            .parquet(pristine)
        )
        standing_rows = spark.read.parquet(pristine).count()

        best, admitted = None, None
        for r in range(runs):
            state = os.path.join(root, f"state_x{scale}_r{r}")
            shutil.copytree(pristine, state)
            ckpt = os.path.join(root, f"ckpt_x{scale}_r{r}")
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(stage)
            )
            t0 = time.perf_counter()
            _drain(spark, dedup_admission_stream(
                stream, state, ckpt, n_buckets=n_buckets
            ), ckpt)
            e = time.perf_counter() - t0
            best = e if best is None else min(best, e)
            admitted = spark.read.parquet(state).count() - standing_rows
            shutil.rmtree(state)
        admitted_counts.append(admitted)
        out[f"x{scale}"] = {
            "standing_rows": standing_rows,
            "admitted": admitted,
            "wall": round(best, 2),
        }
        print("stream_dedup_admission", f"x{scale}", out[f"x{scale}"], flush=True)

    shutil.rmtree(root, ignore_errors=True)
    if len(set(admitted_counts)) != 1:
        sys.exit(
            "stream_dedup_admission: admitted count varied across standing "
            f"scales ({admitted_counts}) — the planted slice must be the "
            "only rejection source at every scale"
        )
    write_scaling({"stream_dedup_admission": out}, lane="standing_growth")
    print(json.dumps({"standing_growth": {"stream_dedup_admission": out}}))


if __name__ == "__main__":
    main()
