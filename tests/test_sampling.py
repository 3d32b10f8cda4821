"""Deterministic sampling/splitting (operators/sampling.py) and the
applyInPandas vector aggregation (operators/similarity.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olist_snowflake_dbt_spark.operators import sampling as SMP
from olist_snowflake_dbt_spark.operators.similarity import group_vector_sums
from olist_snowflake_dbt_spark.sources.readers import read_table


def test_hash_split_partitions_everything(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    out = SMP.hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = docs.count()
    assert sum(counts.values()) == total  # no row unassigned
    assert counts["train"] > counts.get("val", 0)
    # 80% ±10pp at sf0.001 (~500 docs): loose but catches a broken boundary
    assert abs(counts["train"] / total - 0.8) < 0.1


def test_hash_split_stable_under_growth(spark, sf_dir):
    """A row's split must not change when the corpus grows — the
    property rand() splits lack."""
    docs = read_table(spark, sf_dir, "documents")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    full_assign = SMP.hash_split(docs, "doc_id", {"train": 0.8, "val": 0.2})
    half_assign = SMP.hash_split(half, "doc_id", {"train": 0.8, "val": 0.2})
    joined = half_assign.select("doc_id", F.col("split").alias("s1")).join(
        full_assign.select("doc_id", F.col("split").alias("s2")), "doc_id"
    )
    assert joined.filter(F.col("s1") != F.col("s2")).count() == 0


def test_hash_sample_is_subset_and_deterministic(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders")
    s1 = SMP.hash_sample(orders, "o_orderkey", 0.2)
    s2 = SMP.hash_sample(orders, "o_orderkey", 0.2)
    assert s1.count() == s2.count()
    bigger = SMP.hash_sample(orders, "o_orderkey", 0.5)
    # nested property: the 20% sample is a subset of the 50% sample
    assert s1.join(bigger, "o_orderkey", "left_anti").count() == 0


def test_hash_sample_fraction_bounds():
    assert SMP._boundary(0.0) == "00000000"
    assert SMP._boundary(1.0) == "gggggggg"  # sorts after every hex digit
    assert SMP._boundary(0.5) == "80000000"


def test_hash_split_rejects_over_one(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError):
        SMP.hash_split(docs, "doc_id", {"a": 0.8, "b": 0.4})


def test_stratified_topn_exact_counts(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    out = SMP.stratified_topn(docs, "lang", "doc_id", 5)
    per = out.groupBy("lang").count().collect()
    avail = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    for r in per:
        assert r["count"] == min(5, avail[r["lang"]])


def test_group_vector_sums_schema(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    out = group_vector_sums(emb, "embedding", "label", 64)
    assert [f.name for f in out.schema.fields] == [
        "label", "dim_idx", "dim_sum", "n_vecs",
    ]
    assert str(out.schema["dim_sum"].dataType) == "DecimalType(38,15)"


def test_mix_sources_rates_and_drops(spark):
    from olist_snowflake_dbt_spark.operators.sampling import mix_sources

    df = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("source"),
    )
    out = mix_sources(df, "source", "doc_id", {"s0": 1.0, "s1": 0.3})
    counts = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["s0"] == 2000  # weight 1.0 keeps everything
    assert 450 <= counts["s1"] <= 750  # ~30% of 2000, md5-uniform
    # absent source -> dropped entirely
    out2 = mix_sources(df, "source", "doc_id", {"s0": 0.5})
    assert out2.filter(F.col("source") == "s1").count() == 0
    # determinism: same rows survive on re-run
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in mix_sources(df, "source", "doc_id", {"s0": 1.0, "s1": 0.3}).collect()}
    assert a == b


def test_pack_sequences_offsets_and_budget(spark):
    from olist_snowflake_dbt_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(i, 1000) for i in range(10)], "doc_id long, n_toks long"
    )
    # single shard so the running offset is one stream: starts 0,1000,...
    out = {r.doc_id: r for r in
           pack_sequences(df, "doc_id", "n_toks", 2500, n_shards=1).collect()}
    assert [out[i].seq_start for i in range(10)] == [i * 1000 for i in range(10)]
    # pack boundaries at floor(start/2500): 0,0,0,1,1,2,2,2,3,3
    assert [out[i].pack_id for i in range(10)] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]
    # sharding bounds partitions: every shard's offsets restart at 0
    sharded = pack_sequences(df, "doc_id", "n_toks", 2500, n_shards=5)
    firsts = (
        sharded.groupBy("shard").agg(F.min("seq_start").alias("m")).collect()
    )
    assert all(r.m == 0 for r in firsts)
    import pytest

    with pytest.raises(ValueError):
        pack_sequences(df, "doc_id", "n_toks", 0)


def test_pack_sequences_partition_property(spark):
    from olist_snowflake_dbt_spark.operators.sampling import pack_sequences

    # every doc lands in exactly one pack; offsets are the prefix sums
    # of lengths in id order within each (shard); pack = offset div b
    import random

    random.seed(23)
    rows = [(i, random.randrange(1, 500)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_toks long")
    out = pack_sequences(df, "doc_id", "n_toks", 512, n_shards=7)
    got = sorted(
        (r.shard, r.doc_id, r.seq_start, r.pack_id) for r in out.collect()
    )
    assert len(got) == 300  # one row per doc, none lost or duplicated
    by_shard = {}
    for i, n in rows:
        by_shard.setdefault(i % 7, []).append((i, n))
    expect = []
    for sh, docs in by_shard.items():
        off = 0
        for i, n in sorted(docs):
            expect.append((sh, i, off, off // 512))
            off += n
    assert got == sorted(expect)


def test_cogrouped_conversion_stats_semantics_and_pruned_count(spark):
    """cogroup().applyInPandas: FULL OUTER per-key semantics (one row per
    key from either side), exact attribution counts — and the kernel
    must survive the count-only plan where Catalyst prunes payload
    columns out of the cogroup children."""
    import datetime as dt

    from olist_snowflake_dbt_spark.operators.similarity import (
        cogrouped_conversion_stats,
    )

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    clicks = spark.createDataFrame(
        [(1, ts(0)), (1, ts(5)), (1, ts(30)), (2, ts(0))],
        "user_id long, ts timestamp",
    )
    purchases = spark.createDataFrame(
        [(1, ts(10)), (1, ts(40)), (3, ts(1))], "user_id long, ts timestamp"
    )
    out = cogrouped_conversion_stats(clicks, purchases)
    rows = {r.user_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}  # full outer over keys
    assert (rows[1].n_clicks, rows[1].n_purchases) == (3, 2)
    assert rows[1].first_purchase_ts == ts(10)
    assert rows[1].clicks_before_first_purchase == 2  # ts(0), ts(5)
    assert rows[2].n_purchases == 0 and rows[2].first_purchase_ts is None
    assert rows[3].n_clicks == 0 and rows[3].clicks_before_first_purchase == 0
    # count-only plan: payload columns pruned from the kernel inputs —
    # still one row per key
    assert out.count() == 3
    assert out.limit(2).count() == 2


class TestTemporalHoldout:
    def _events(self, spark):
        import datetime as dt

        rows = [
            (1, "u1", dt.datetime(2024, 1, 1)),   # u1 pre-boundary only
            (2, "u1", dt.datetime(2024, 1, 2)),
            (3, "u2", dt.datetime(2024, 1, 3)),   # u2 spans the boundary
            (4, "u2", dt.datetime(2024, 2, 5)),
            (5, "u3", dt.datetime(2024, 2, 6)),   # u3 post-boundary only
        ]
        return spark.createDataFrame(rows, "eid int, user_id string, ts timestamp")

    def test_group_disjoint_quarantines_leaks(self, spark):
        from olist_snowflake_dbt_spark.operators.sampling import temporal_holdout

        out = temporal_holdout(
            self._events(spark), "ts", "2024-02-01 00:00:00", group_col="user_id"
        )
        got = {r.eid: r.split for r in out.collect()}
        assert got == {1: "train", 2: "train", 3: "leaked", 4: "test", 5: "test"}
        # conservation: quarantine, never drop
        assert out.count() == 5
        # no group appears in both train and test
        tr = {r.user_id for r in out.filter("split='train'").collect()}
        te = {r.user_id for r in out.filter("split='test'").collect()}
        assert not (tr & te)

    def test_plain_mode_keeps_groups_on_both_sides(self, spark):
        from olist_snowflake_dbt_spark.operators.sampling import temporal_holdout

        out = temporal_holdout(self._events(spark), "ts", "2024-02-01 00:00:00")
        got = {r.eid: r.split for r in out.collect()}
        assert got == {1: "train", 2: "train", 3: "train", 4: "test", 5: "test"}


class TestNegativeSamples:
    def _run(self, spark, n_pool=200, k=3, positives=None, buckets=8):
        from olist_snowflake_dbt_spark.operators.sampling import (
            negative_samples,
        )
        from pyspark.sql import functions as F

        pool = spark.range(n_pool).select(F.col("id").alias("doc_id"))
        anchors = spark.range(10).select(F.col("id").alias("anchor_id"))
        return negative_samples(
            anchors, pool, k=k, n_buckets=buckets, positives=positives
        )

    def test_k_slots_and_determinism(self, spark):
        a = {(r["anchor_id"], r["slot"]): r["neg_id"]
             for r in self._run(spark).collect()}
        b = {(r["anchor_id"], r["slot"]): r["neg_id"]
             for r in self._run(spark).collect()}
        assert a == b
        assert len(a) == 30  # 10 anchors x 3 slots, buckets populated

    def test_positives_never_selected(self, spark):
        from pyspark.sql import functions as F

        # mark EVERY even doc as a positive for every anchor
        pool = spark.range(200).select(F.col("id").alias("doc_id"))
        anchors = spark.range(10).select(F.col("id").alias("anchor_id"))
        positives = anchors.crossJoin(
            pool.filter(F.col("doc_id") % 2 == 0)
        )
        from olist_snowflake_dbt_spark.operators.sampling import (
            negative_samples,
        )

        out = negative_samples(
            anchors, pool, k=3, n_buckets=8, positives=positives
        ).collect()
        assert len(out) > 0
        assert all(r["neg_id"] % 2 == 1 for r in out)

    def test_no_cartesian_plan(self, spark):
        plan = (
            self._run(spark)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan

    def test_guards(self, spark):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="positive"):
            self._run(spark, k=0)


class TestWeightedPercentile:
    def _wp(self, spark, rows, num, den):
        from olist_snowflake_dbt_spark.operators.sampling import (
            weighted_percentile,
        )

        df = spark.createDataFrame(rows, "g string, v long, w long, id long")
        out = weighted_percentile(
            df, ["g"], "v", "w", num, den, tiebreak_col="id"
        ).collect()
        return {r["g"]: r["weighted_percentile"] for r in out}

    def test_weight_moves_the_median(self, spark):
        """Values 1..4 with all weight on 4: weighted median is 4,
        unweighted would be 2."""
        rows = [("a", 1, 1, 1), ("a", 2, 1, 2), ("a", 3, 1, 3),
                ("a", 4, 97, 4)]
        assert self._wp(spark, rows, 1, 2) == {"a": 4}

    def test_exact_boundary_inclusive(self, spark):
        """cum·den == num·tot picks THAT row (>=, not >): weights 1,1
        at values 10,20 — the 1/2 percentile is 10."""
        rows = [("a", 10, 1, 1), ("a", 20, 1, 2)]
        assert self._wp(spark, rows, 1, 2) == {"a": 10}

    def test_p100_is_max(self, spark):
        rows = [("a", 10, 3, 1), ("a", 99, 1, 2)]
        assert self._wp(spark, rows, 1, 1) == {"a": 99}

    def test_guards(self, spark):
        import pytest as _pytest

        from olist_snowflake_dbt_spark.operators.sampling import (
            weighted_percentile,
        )

        df = spark.createDataFrame([("a", 1, 1, 1)], "g string, v long, w long, id long")
        with _pytest.raises(ValueError, match="p_num"):
            weighted_percentile(df, ["g"], "v", "w", 0, 2)
        with _pytest.raises(ValueError, match="p_num"):
            weighted_percentile(df, ["g"], "v", "w", 3, 2)

    def test_multi_percentile_fused_single_window(self, spark):
        """weighted_percentiles computes N percentiles off ONE sorted
        frame: exactly one Window operator and one shuffle Exchange in
        the executed plan (same-spec frames fold; the downstream
        aggregate reuses the window's partitioning)."""
        from olist_snowflake_dbt_spark.operators.sampling import (
            weighted_percentile,
            weighted_percentiles,
        )

        rows = [("a", v, 1, v) for v in range(1, 11)] + [
            ("b", v, v, v) for v in range(1, 5)
        ]
        df = spark.createDataFrame(rows, "g string, v long, w long, id long")
        out = weighted_percentiles(
            df, ["g"], "v", "w",
            [("p25", 1, 4), ("p50", 1, 2), ("p90", 9, 10)],
            tiebreak_col="id",
        )
        got = {r["g"]: (r["p25"], r["p50"], r["p90"]) for r in out.collect()}
        # group a: uniform weights over 1..10 -> p25=3, p50=5, p90=9
        assert got["a"] == (3, 5, 9)
        # group b: weights 1,2,3,4 (tot 10) -> cum 1,3,6,10:
        # p25 -> first cum*4>=10 -> v=2; p50 -> cum*2>=10 -> v=3;
        # p90 -> cum*10>=90 -> v=4
        assert got["b"] == (2, 3, 4)
        plan = (
            out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]  # AQE prints the tree twice
        )
        assert plan.count("- Window") == 1
        assert plan.count("- Exchange") <= 1
        # parity with the single-percentile wrapper
        single = {
            r["g"]: r["weighted_percentile"]
            for r in weighted_percentile(
                df, ["g"], "v", "w", 1, 2, tiebreak_col="id"
            ).collect()
        }
        assert single == {g: v[1] for g, v in got.items()}

    def test_multi_percentile_guards(self, spark):
        import pytest as _pytest

        from olist_snowflake_dbt_spark.operators.sampling import (
            weighted_percentiles,
        )

        df = spark.createDataFrame(
            [("a", 1, 1, 1)], "g string, v long, w long, id long"
        )
        with _pytest.raises(ValueError, match="non-empty"):
            weighted_percentiles(df, ["g"], "v", "w", [])
        with _pytest.raises(ValueError, match="duplicate"):
            weighted_percentiles(
                df, ["g"], "v", "w", [("p", 1, 2), ("p", 1, 4)]
            )

    def test_bucketed_path_equals_window_path(self, spark):
        """range_buckets (the low-group-cardinality parallelism path)
        must reproduce the single-window path EXACTLY — including
        duplicate values straddling bucket boundaries, NULL values
        (NULLS FIRST in both), zero-span groups, and ties broken by
        the tiebreak column."""
        import random

        from olist_snowflake_dbt_spark.operators.sampling import (
            weighted_percentiles,
        )

        rng = random.Random(11)
        rows = []
        rid = 0
        for g in ("a", "b", "c"):
            for _ in range(200):
                v = rng.choice([None] + [float(x) for x in range(20)])
                rows.append((g, v, rng.randint(0, 5), rid))
                rid += 1
        # zero-span group: all values identical
        rows += [("z", 7.0, 3, rid + i) for i in range(5)]
        df = spark.createDataFrame(
            rows, "g string, v double, w long, id long"
        )
        pcts = [("p10", 1, 10), ("p50", 1, 2), ("p99", 99, 100)]
        plain = {
            r["g"]: (r["p10"], r["p50"], r["p99"])
            for r in weighted_percentiles(
                df, ["g"], "v", "w", pcts, tiebreak_col="id"
            ).collect()
        }
        for b in (1, 3, 64):
            bucketed = {
                r["g"]: (r["p10"], r["p50"], r["p99"])
                for r in weighted_percentiles(
                    df, ["g"], "v", "w", pcts,
                    tiebreak_col="id", range_buckets=b,
                ).collect()
            }
            assert bucketed == plain, b

    def test_bucketed_guard(self, spark):
        import pytest as _pytest

        from olist_snowflake_dbt_spark.operators.sampling import (
            weighted_percentiles,
        )

        df = spark.createDataFrame(
            [("a", 1.0, 1, 1)], "g string, v double, w long, id long"
        )
        with _pytest.raises(ValueError, match="range_buckets"):
            weighted_percentiles(
                df, ["g"], "v", "w", [("p", 1, 2)], range_buckets=0
            )


class TestEpochShuffle:
    """Round-13 deterministic epoch shuffle: a seed-keyed total global
    permutation that survives repartitioning, reshuffles under a new
    seed, and fills every shard densely."""

    def _docs(self, spark, n=400):
        return spark.range(n).select(F.col("id").alias("doc_id"))

    def test_total_permutation_and_dense_positions(self, spark):
        from olist_snowflake_dbt_spark.operators.sampling import epoch_shuffle

        out = epoch_shuffle(self._docs(spark), "doc_id", "s1", shards=4).collect()
        assert len(out) == 400
        assert {r.doc_id for r in out} == set(range(400))
        by_shard = {}
        for r in out:
            assert 0 <= r.shard < 4
            by_shard.setdefault(r.shard, []).append(r.position)
        # every shard's positions are dense 1..|shard|
        for pos in by_shard.values():
            assert sorted(pos) == list(range(1, len(pos) + 1))
        # uniform hash -> no shard is empty or hoards the corpus
        sizes = sorted(len(v) for v in by_shard.values())
        assert len(sizes) == 4 and sizes[0] > 0 and sizes[-1] < 400

    def test_deterministic_across_partitionings(self, spark):
        from olist_snowflake_dbt_spark.operators.sampling import epoch_shuffle

        base = {
            (r.doc_id, r.shard, r.position)
            for r in epoch_shuffle(
                self._docs(spark), "doc_id", "s1", shards=4
            ).collect()
        }
        again = {
            (r.doc_id, r.shard, r.position)
            for r in epoch_shuffle(
                self._docs(spark).repartition(7), "doc_id", "s1", shards=4
            ).collect()
        }
        assert base == again

    def test_seed_changes_the_permutation(self, spark):
        from olist_snowflake_dbt_spark.operators.sampling import epoch_shuffle

        a = {
            (r.doc_id, r.shard, r.position)
            for r in epoch_shuffle(
                self._docs(spark), "doc_id", "s1", shards=4
            ).collect()
        }
        b = {
            (r.doc_id, r.shard, r.position)
            for r in epoch_shuffle(
                self._docs(spark), "doc_id", "s2", shards=4
            ).collect()
        }
        assert a != b

    def test_guard(self, spark):
        import pytest as _pytest

        from olist_snowflake_dbt_spark.operators.sampling import epoch_shuffle

        with _pytest.raises(ValueError, match="shards"):
            epoch_shuffle(self._docs(spark), "doc_id", "s1", shards=0)


# ---------------------------------------------------------------------
# round 13: budget-constrained selection
# ---------------------------------------------------------------------


class TestTokenBudgetSelect:
    def _naive(self, rows, num=3, den=10):
        # STRICT prefix: stop at the first doc that doesn't fit (the
        # operator's documented 'while the running sum stays within
        # budget' — not first-fit skip-and-continue, which would fill
        # the tail of the budget with low-score stragglers)
        budget = (sum(t for _, _, t in rows) * num) // den
        kept, spent = set(), 0
        for i, s, t in sorted(rows, key=lambda r: (-r[1], r[0])):
            if spent + t > budget:
                break
            kept.add(i)
            spent += t
        return kept

    def test_matches_naive_prefix_with_negatives_and_ties(self, spark):
        from olist_snowflake_dbt_spark.operators.sampling import (
            token_budget_select,
        )

        # negative scores exercise the floor-bucket identity; repeated
        # scores exercise the id tie-break inside the boundary bucket
        rows = [
            (i, ((i * 37) % 23 - 11) * 50, (i * 13) % 40 + 5)
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "doc_id long, score long, tok long")
        out = {
            r.doc_id: r.keep
            for r in token_budget_select(df, "score", "tok", "doc_id").collect()
        }
        naive = self._naive(rows)
        assert {i for i, k in out.items() if k} == naive
        # the greedy prefix is NOT "any subset under budget": it must
        # stop exactly where the next ordered doc no longer fits
        assert 0 < len(naive) < len(rows)

    def test_budget_covers_everything(self, spark):
        from olist_snowflake_dbt_spark.operators.sampling import (
            token_budget_select,
        )

        df = spark.createDataFrame(
            [(1, 10, 7), (2, -5, 3)], "doc_id long, score long, tok long"
        )
        out = token_budget_select(
            df, "score", "tok", "doc_id", budget_num=1, budget_den=1
        ).collect()
        assert all(r.keep for r in out)


class TestExactGlobalRank:
    def test_equals_naive_global_window(self, spark):
        from pyspark.sql import Window as W

        from olist_snowflake_dbt_spark.operators.sampling import (
            exact_global_rank,
        )

        rows = [(i, ((i * 37) % 23 - 11) * 13) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, s long").repartition(7)
        got = {
            r.doc_id: (r.global_rank, r.phase)
            for r in exact_global_rank(df, "s", "doc_id", phases=4).collect()
        }
        ref = {
            r.doc_id: r.rn
            for r in df.withColumn(
                "rn",
                F.row_number().over(W.orderBy(F.col("s").asc(), F.col("doc_id").asc())),
            ).collect()
        }
        assert all(got[i][0] == ref[i] for i in ref)
        assert all(got[i][1] == (ref[i] - 1) * 4 // 300 + 1 for i in ref)

    def test_phase_sizes_are_balanced(self, spark):
        from collections import Counter

        from olist_snowflake_dbt_spark.operators.sampling import (
            exact_global_rank,
        )

        df = spark.createDataFrame(
            [(i, i % 11) for i in range(103)], "doc_id long, s long"
        )
        phases = Counter(
            r.phase
            for r in exact_global_rank(df, "s", "doc_id", phases=4).collect()
        )
        # exact NTILE balance: sizes differ by at most 1
        assert max(phases.values()) - min(phases.values()) <= 1
        assert sum(phases.values()) == 103

    def test_phase_is_a_carry_name_only_without_phases(self, spark):
        from olist_snowflake_dbt_spark.operators.sampling import (
            exact_global_rank,
        )

        df = spark.createDataFrame(
            [(i, i % 7, i * 10) for i in range(20)], "doc_id long, s long, phase long"
        )
        out = exact_global_rank(df, "s", "doc_id", carry_cols=["phase"]).collect()
        assert sorted(r.global_rank for r in out) == list(range(1, 21))
        assert all(r.phase == r.doc_id * 10 for r in out)
        with pytest.raises(ValueError, match="carry_cols"):
            exact_global_rank(df, "s", "doc_id", phases=2, carry_cols=["phase"])
