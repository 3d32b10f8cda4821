"""Round-7 additions: cdc_apply, Bloom pre-filter, HLL sketch rollup.

cdc_apply semantics pinned with hand-built change logs; Bloom with its
two load-bearing guarantees (zero false negatives ever; FP rate bounded
by sizing); the sketch rollup with accuracy tighter than the driver row's
5% band and the merge-vs-direct equivalence that makes partials safe to
store.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from olist_snowflake_dbt_spark.operators.dedup import bloom_build, bloom_probe
from olist_snowflake_dbt_spark.operators.incremental import cdc_apply


# ------------------------------------------------------------- cdc_apply
def _changes(spark, rows):
    return spark.createDataFrame(rows, "k bigint, lsn bigint, op string, v string")


def test_cdc_latest_upsert_wins(spark):
    out = cdc_apply(
        _changes(spark, [(1, 1, "U", "a"), (1, 3, "U", "c"), (1, 2, "U", "b")]),
        ["k"], "lsn", "op",
    ).collect()
    assert [(r.k, r.lsn, r.v) for r in out] == [(1, 3, "c")]


def test_cdc_final_delete_removes_key(spark):
    out = cdc_apply(
        _changes(spark, [(1, 1, "U", "a"), (1, 2, "D", None), (2, 1, "U", "x")]),
        ["k"], "lsn", "op",
    ).collect()
    assert [(r.k, r.v) for r in out] == [(2, "x")]


def test_cdc_delete_then_reinsert_survives(spark):
    out = cdc_apply(
        _changes(spark, [(1, 1, "U", "a"), (1, 2, "D", None), (1, 3, "U", "back")]),
        ["k"], "lsn", "op",
    ).collect()
    assert [(r.k, r.lsn, r.v) for r in out] == [(1, 3, "back")]


def test_cdc_composite_key_and_column_set(spark):
    df = spark.createDataFrame(
        [(1, "eu", 5, "U", "a"), (1, "us", 6, "D", None)],
        "k bigint, region string, lsn bigint, op string, v string",
    )
    out = cdc_apply(df, ["k", "region"], "lsn", "op")
    assert out.columns == ["k", "region", "lsn", "v"]  # op consumed
    rows = {(r.k, r.region): r.v for r in out.collect()}
    assert rows == {(1, "eu"): "a"}  # (1,'us') deleted independently


def test_cdc_empty_key_raises(spark):
    with pytest.raises(ValueError):
        cdc_apply(_changes(spark, [(1, 1, "U", "a")]), [], "lsn", "op")


def test_cdc_matches_window_formulation(spark, sf_dir):
    """The max_by aggregate must agree with the row_number window on
    real data (events at sf0.001, unique LSN per key by construction)."""
    from pyspark.sql import Window as W

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        "value",
    )
    got = cdc_apply(ev, ["user_id"], "lsn", "op")
    w = W.partitionBy("user_id").orderBy(F.col("lsn").desc())
    want = (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1 AND op <> 'D'")
        .select("user_id", "lsn", "value")
    )
    assert got.select("user_id", "lsn", "value").exceptAll(want).count() == 0
    assert want.exceptAll(got.select("user_id", "lsn", "value")).count() == 0


# ------------------------------------------------------------- bloom
@pytest.fixture(scope="module")
def bloom_docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")


def test_bloom_no_false_negatives(spark, bloom_docs):
    """THE Bloom guarantee: every member probes maybe=True — including
    under a deliberately undersized (high-FP) filter."""
    standing = bloom_docs.filter(F.col("doc_id") % 2 == 0)
    for m in (1 << 10, 1 << 16):  # tiny (FP-heavy) and sized
        bm = bloom_build(standing, "text", m, 5)
        verdicts = bloom_probe(standing, bm, "text", "doc_id", m, 5)
        assert verdicts.filter(~F.col("bloom_maybe")).count() == 0


def test_bloom_fp_rate_bounded(spark, bloom_docs):
    """FP rate tracks the textbook bound p=(1-e^{-kn/m})^k for the
    Kirsch-Mitzenmacher family: zero FPs when well-sized (m=2^16,
    p≈2e-9) and within 2x theory when deliberately undersized (m=2^10,
    n=125, k=5 → p≈0.174; measured 47/250≈0.188 — the uniformity of the
    md5-derived positions, not just 'some bits collide')."""
    import math

    standing = bloom_docs.filter(F.col("doc_id") % 2 == 0)
    novel = bloom_docs.filter(F.col("doc_id") % 2 == 1)
    n_standing, n_novel, k = standing.count(), novel.count(), 5
    bm = bloom_build(standing, "text", 1 << 16, k)
    fp = bloom_probe(novel, bm, "text", "doc_id", 1 << 16, k)
    assert fp.filter(F.col("bloom_maybe")).count() == 0
    m_small = 1 << 10
    p_theory = (1 - math.exp(-k * n_standing / m_small)) ** k
    bm_small = bloom_build(standing, "text", m_small, k)
    fp_small = bloom_probe(novel, bm_small, "text", "doc_id", m_small, k)
    assert fp_small.filter(F.col("bloom_maybe")).count() <= 2 * p_theory * n_novel


def test_bloom_bitmap_is_tiny_and_positive(spark, bloom_docs):
    """The bitmap table is ≤ ceil(m/63) rows of POSITIVE longs (bit 62
    max — engine-portable sign-free words), i.e. ~m/8 bytes total
    regardless of corpus size."""
    m = 1 << 12
    bm = bloom_build(bloom_docs, "text", m, 5).collect()
    assert len(bm) <= m // 63 + 1
    assert all(0 < r.bits for r in bm)
    assert all(0 <= r.word_idx <= (m - 1) // 63 for r in bm)


def test_bloom_probe_empty_bitmap_all_new(spark, bloom_docs):
    """A probe against an EMPTY standing corpus must return maybe=False
    for everything (the left-join coalesce path)."""
    empty = bloom_docs.filter(F.lit(False))
    bm = bloom_build(empty, "text", 1 << 12, 5)
    out = bloom_probe(bloom_docs.limit(20), bm, "text", "doc_id", 1 << 12, 5)
    assert out.filter(F.col("bloom_maybe")).count() == 0


def test_bloom_probe_plan_is_broadcast(spark, bloom_docs):
    """The probe join must broadcast the bitmap — no shuffle of the
    batch beyond the final per-doc aggregate."""
    bm = bloom_build(bloom_docs, "text", 1 << 12, 5)
    plan = bloom_probe(bloom_docs, bm, "text", "doc_id", 1 << 12, 5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ------------------------------------------------------------- sketches
def test_hll_rollup_merge_equals_direct(spark, sf_dir):
    """Merging per-day HLL partials must estimate the same distinct
    count as one direct sketch over the raw rows (lossless union at
    equal lgConfigK) — the property that makes STORING partials safe."""
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", F.to_date("ts").alias("day"), "user_id")
    )
    merged = (
        ev.groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged"))
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_direct")
    )
    for r in merged.join(direct, "event_type").collect():
        assert r.est_merged == r.est_direct


def test_hll_rollup_accuracy_tight(spark, sf_dir):
    """Tighter than the driver row's 5% band: at 150 distinct users the
    lgK=12 sketch is exact in sparse mode — assert within 2%."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = (
        ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"),
            F.count_distinct("user_id").alias("exact"),
        )
        .collect()
    )
    assert got
    for r in got:
        assert abs(r.est - r.exact) <= 0.02 * r.exact


# ----------------------------------------------------- cdc_apply_stream
def test_cdc_stream_tombstone_beats_late_old_update(spark, tmp_path):
    """A delete in an EARLY batch must not be resurrected by an
    out-of-order OLDER update arriving in a LATER batch — the tombstone
    (higher lsn) wins the cross-batch merge."""
    from olist_snowflake_dbt_spark.streaming.events import (
        cdc_apply_stream,
        cdc_state,
    )

    log = str(tmp_path / "log")
    schema = "k bigint, lsn bigint, op string, v string"
    # batch 1 (first file): k=1 updated then deleted; k=2 updated
    spark.createDataFrame(
        [(1, 10, "U", "a"), (1, 20, "D", None), (2, 5, "U", "x")], schema
    ).coalesce(1).write.mode("append").parquet(log)
    # batch 2 (second file, later mtime): STALE update for k=1 (lsn 15
    # < tombstone's 20) and a genuine newer update for k=2
    spark.createDataFrame(
        [(1, 15, "U", "stale"), (2, 30, "U", "y")], schema
    ).coalesce(1).write.mode("append").parquet(log)

    stream = (
        spark.readStream.schema(spark.read.parquet(log).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(log)
    )
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    q = cdc_apply_stream(stream, state, ckpt, ["k"], "lsn", "op").start()
    q.awaitTermination()

    live = {r.k: (r.lsn, r.v) for r in cdc_state(spark, state, "op").collect()}
    assert live == {2: (30, "y")}  # k=1 stays deleted
    # tombstone retained in the raw state table (not silently dropped)
    raw = {r.k: r.op for r in spark.read.parquet(state).collect()}
    assert raw[1] == "D"


def test_cdc_stream_restart_is_noop(spark, tmp_path):
    """Restarting against the same checkpoint re-processes nothing
    (offsets committed) and the state is unchanged — the
    exactly-once-observable contract."""
    from olist_snowflake_dbt_spark.streaming.events import cdc_apply_stream

    log = str(tmp_path / "log")
    schema = "k bigint, lsn bigint, op string, v string"
    spark.createDataFrame([(1, 1, "U", "a"), (2, 2, "U", "b")], schema)\
        .coalesce(1).write.mode("append").parquet(log)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    for _ in range(2):
        stream = (
            spark.readStream.schema(spark.read.parquet(log).schema)
            .parquet(log)
        )
        q = cdc_apply_stream(stream, state, ckpt, ["k"], "lsn", "op").start()
        q.awaitTermination()
    rows = spark.read.parquet(state).collect()
    assert len(rows) == 2  # one row per key, not doubled


# ----------------------------------------------------------------- cms
def test_cms_one_sided_error_and_bound(spark):
    """est ≥ exact always; est ≤ exact + N/width · safety on a corpus
    with a known skewed distribution."""
    from olist_snowflake_dbt_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    rows = [(f"tok{i % 50}",) for i in range(2000)] + [
        (f"rare{i}",) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "tok string")
    cms = cms_build(df, "tok", depth=4, width=1024)
    exact = df.groupBy("tok").count()
    est = cms_estimate(exact.select("tok"), cms, "tok", depth=4, width=1024)
    joined = {r.tok: (r["count"], r.cms_est)
              for r in exact.join(est, "tok").collect()}
    n = 2500
    for tok, (ex, es) in joined.items():
        assert es >= ex, f"{tok}: CMS underestimated"
        assert es <= ex + (2.72 * n) / 1024 * 4  # e/width per row, slack 4


def test_cms_partials_merge(spark):
    """CMS grids are mergeable: per-cell SUM of two shard sketches ==
    the sketch of the union — what makes per-day partials storable."""
    import pyspark.sql.functions as F
    from olist_snowflake_dbt_spark.operators.sketches import cms_build

    rows = [(f"t{i % 97}",) for i in range(1500)]
    df = spark.createDataFrame(rows, "tok string").withColumn(
        "half", F.monotonically_increasing_id() % 2
    )
    full = cms_build(df, "tok", 4, 512)
    merged = (
        cms_build(df.filter("half = 0"), "tok", 4, 512)
        .unionByName(cms_build(df.filter("half = 1"), "tok", 4, 512))
        .groupBy("j", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    assert full.exceptAll(merged).count() == 0
    assert merged.exceptAll(full).count() == 0


def test_cms_absent_value_estimates_zero_or_collision(spark):
    from olist_snowflake_dbt_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame([("a",), ("b",)], "tok string")
    cms = cms_build(df, "tok", 4, 4096)
    ghost = spark.createDataFrame([("never-seen",)], "tok string")
    [r] = cms_estimate(ghost, cms, "tok", 4, 4096).collect()
    assert 0 <= r.cms_est <= 2  # almost surely 0; collisions only add


# ------------------------------------------------------------ profiling
def test_profile_columns_exact(spark):
    from olist_snowflake_dbt_spark.operators.profiling import profile_columns

    df = spark.createDataFrame(
        [(1, "x", None), (2, "y", 5.0), (2, None, 7.5)],
        "id bigint, s string, v double",
    )
    got = {r.column_name: r for r in
           profile_columns(df, ["id", "s", "v"]).collect()}
    assert set(got) == {"id", "s", "v"}
    assert all(r.n_rows == 3 for r in got.values())
    assert (got["id"].n_nulls, got["id"].ndv) == (0, 2)
    assert (got["s"].n_nulls, got["s"].ndv) == (1, 2)
    assert (got["v"].n_nulls, got["v"].ndv) == (1, 2)
    assert (got["id"].min_val, got["id"].max_val) == ("1", "2")
    assert (got["v"].min_val, got["v"].max_val) == ("5.0", "7.5")


def test_profile_columns_approx_path(spark, sf_dir):
    """exact_ndv=False swaps COUNT(DISTINCT) for HLL — no Expand in the
    plan, ndv within 10%."""
    from olist_snowflake_dbt_spark.operators.profiling import profile_columns

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    prof = profile_columns(o, ["o_orderkey", "o_custkey"], exact_ndv=False)
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    exact = {
        "o_orderkey": o.select("o_orderkey").distinct().count(),
        "o_custkey": o.select("o_custkey").distinct().count(),
    }
    for r in prof.collect():
        assert abs(r.ndv - exact[r.column_name]) <= 0.1 * exact[r.column_name]


def test_profile_columns_empty_cols_raises(spark):
    from olist_snowflake_dbt_spark.operators.profiling import profile_columns

    with pytest.raises(ValueError):
        profile_columns(spark.range(1), [])


class TestBitmapNdv:
    def test_rollup_equals_count_distinct(self, spark, sf_dir):
        from olist_snowflake_dbt_spark.operators.sketches import (
            bitmap_ndv_partials,
            bitmap_ndv_rollup,
        )
        from pyspark.sql import functions as F

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_type", "user_id", F.to_date("ts").alias("day")
        )
        partials = bitmap_ndv_partials(ev, ["event_type", "day"], "user_id")
        rolled = {
            r["event_type"]: r["ndv"]
            for r in bitmap_ndv_rollup(partials, ["event_type"]).collect()
        }
        exact = {
            r["event_type"]: r["x"]
            for r in ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("x"))
            .collect()
        }
        assert rolled == exact

    def test_merge_collapses_duplicates_across_partials(self, spark):
        """The same id on two days sets the same bit — union, not sum."""
        from olist_snowflake_dbt_spark.operators.sketches import (
            bitmap_ndv_partials,
            bitmap_ndv_rollup,
        )

        df = spark.createDataFrame(
            [("a", 1, 7), ("a", 2, 7), ("a", 2, 8)], "g string, d int, id long"
        )
        partials = bitmap_ndv_partials(df, ["g", "d"], "id")
        assert partials.count() == 2  # one word per (g, day)
        out = bitmap_ndv_rollup(partials, ["g"]).collect()
        assert out[0]["ndv"] == 2  # ids {7, 8}, not 3 rows

    def test_word_boundaries_and_sign_bit(self, spark):
        """ids 0, 63 (sign bit), 64, 127 span two words; all counted."""
        from olist_snowflake_dbt_spark.operators.sketches import (
            bitmap_ndv_partials,
            bitmap_ndv_rollup,
        )

        df = spark.createDataFrame(
            [("g", i) for i in (0, 63, 64, 127, 63)], "g string, id long"
        )
        partials = bitmap_ndv_partials(df, ["g"], "id")
        assert partials.count() == 2
        assert bitmap_ndv_rollup(partials, ["g"]).collect()[0]["ndv"] == 4


class TestKmvSetOps:
    """KMV / theta-sketch set algebra: exact below k, unbiased-ish
    estimates above k, determinism."""

    def _sketch(self, spark, sets, k):
        from olist_snowflake_dbt_spark.operators.sketches import kmv_sketch

        rows = [(g, v) for g, vals in sets.items() for v in vals]
        df = spark.createDataFrame(rows, "g string, v long")
        return kmv_sketch(df, ["g"], "v", k=k)

    def test_exact_below_k(self, spark):
        from olist_snowflake_dbt_spark.operators.sketches import kmv_set_ops

        sets = {"a": range(100), "b": range(50, 150)}  # |∪|=150, |∩|=50
        sk = self._sketch(spark, sets, k=256)
        r = kmv_set_ops(sk, "g", k=256).collect()[0]
        assert (r.key_a, r.key_b) == ("a", "b")
        assert r.union_est == 150.0 and r.inter_est == 50.0

    def test_estimates_above_k_are_close(self, spark):
        from olist_snowflake_dbt_spark.operators.sketches import kmv_set_ops

        n = 20_000
        sets = {"a": range(n), "b": range(n // 2, n + n // 2)}
        # |∪| = 1.5n = 30000, |∩| = 0.5n = 10000
        sk = self._sketch(spark, sets, k=256)
        r = kmv_set_ops(sk, "g", k=256).collect()[0]
        assert abs(r.union_est - 30_000) / 30_000 < 0.15
        assert abs(r.inter_est - 10_000) / 10_000 < 0.35

    def test_deterministic_across_runs(self, spark):
        from olist_snowflake_dbt_spark.operators.sketches import kmv_set_ops

        sets = {"a": range(5000), "b": range(2500, 7500), "c": range(9000)}
        sk = self._sketch(spark, sets, k=128)
        one = sorted(map(tuple, kmv_set_ops(sk, "g", k=128).collect()))
        two = sorted(map(tuple, kmv_set_ops(sk, "g", k=128).collect()))
        assert one == two and len(one) == 3

    def test_sketch_is_bounded_and_sorted(self, spark):
        sk = self._sketch(spark, {"a": range(10_000)}, k=64).collect()[0]
        assert len(sk.kmv) == 64
        assert sk.kmv == sorted(sk.kmv)

    def test_k_guard(self, spark):
        import pytest as _pytest

        from olist_snowflake_dbt_spark.operators.sketches import kmv_sketch

        df = spark.createDataFrame([("a", 1)], "g string, v long")
        with _pytest.raises(ValueError, match="k must be"):
            kmv_sketch(df, ["g"], "v", k=1)

    def test_inter_est_scales_off_unrounded_union(self, spark):
        """Round-11 advisory: inter_est must use the UNROUNDED union
        estimate (rounding only the outputs). Replay the estimator in
        Python off the collected sketches and demand bit-equality —
        with the old rounded-intermediate code this match would be at
        the mercy of 0.001 boundaries on varied (non-identical) sets."""
        from olist_snowflake_dbt_spark.operators.sketches import (
            kmv_set_ops,
        )

        k = 64
        sets = {"a": range(3000), "b": range(1000, 4000)}
        sk = kmv_sketch_frame = self._sketch(spark, sets, k=k)
        raw = {r.g: list(r.kmv) for r in kmv_sketch_frame.collect()}
        ka, kb = raw["a"], raw["b"]
        mg = sorted(set(ka) | set(kb))[:k]
        both = [h for h in ka if h in set(kb)]
        assert len(mg) == k  # the estimator branch is the one under test
        ur = (k - 1) * float(1 << 60) / float(mg[k - 1])
        want_union = round(ur, 3)
        want_inter = round(len(set(mg) & set(both)) * ur / float(k), 3)
        r = kmv_set_ops(sk, "g", k=k).collect()[0]
        assert (r.union_est, r.inter_est) == (want_union, want_inter)


class TestKmvDiffJaccard:
    """Round-12 completion of the theta algebra: difference + Jaccard."""

    def _sketch(self, spark, sets, k):
        from olist_snowflake_dbt_spark.operators.sketches import kmv_sketch

        rows = [(g, v) for g, vals in sets.items() for v in vals]
        df = spark.createDataFrame(rows, "g string, v long")
        return kmv_sketch(df, ["g"], "v", k=k)

    def test_exact_below_k(self, spark):
        from olist_snowflake_dbt_spark.operators.sketches import (
            kmv_diff_jaccard,
        )

        sets = {"a": range(100), "b": range(50, 150)}
        # |A∖B| = |B∖A| = 50, J = 50/150
        r = kmv_diff_jaccard(self._sketch(spark, sets, k=256), "g", k=256)
        row = r.collect()[0]
        assert (row.key_a, row.key_b) == ("a", "b")
        assert row.diff_ab_est == 50.0 and row.diff_ba_est == 50.0
        assert row.jaccard_est == round(50 / 150, 6)

    def test_estimates_above_k_are_close_and_consistent(self, spark):
        from olist_snowflake_dbt_spark.operators.sketches import (
            kmv_diff_jaccard,
            kmv_set_ops,
        )

        n = 20_000
        sets = {"a": range(n), "b": range(n // 2, n + n // 2)}
        # |A∖B| = |B∖A| = 10000, J = 1/3
        sk = self._sketch(spark, sets, k=256)
        dj = kmv_diff_jaccard(sk, "g", k=256).collect()[0]
        so = kmv_set_ops(sk, "g", k=256).collect()[0]
        assert abs(dj.diff_ab_est - 10_000) / 10_000 < 0.35
        assert abs(dj.diff_ba_est - 10_000) / 10_000 < 0.35
        assert abs(dj.jaccard_est - 1 / 3) < 0.15
        # the merged sample partitions: inter + both diffs == union
        # (all four scale off the same unrounded union, so the identity
        # survives to within output rounding)
        total = so.inter_est + dj.diff_ab_est + dj.diff_ba_est
        assert abs(total - so.union_est) < 0.01

    def test_deterministic_across_runs(self, spark):
        from olist_snowflake_dbt_spark.operators.sketches import (
            kmv_diff_jaccard,
        )

        sets = {"a": range(5000), "b": range(2500, 7500), "c": range(9000)}
        sk = self._sketch(spark, sets, k=128)
        one = sorted(map(tuple, kmv_diff_jaccard(sk, "g", k=128).collect()))
        two = sorted(map(tuple, kmv_diff_jaccard(sk, "g", k=128).collect()))
        assert one == two and len(one) == 3
