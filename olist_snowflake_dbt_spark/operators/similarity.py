"""Similarity search over embedding columns (``array<float>``).

Two paths:

- :func:`brute_force_topk` — exact cosine top-k: queries × corpus join,
  windowed rank. The baseline and the oracle. Cost O(|Q|·|C|); right
  whenever |Q| is small (broadcast the queries) or |C| fits a batch.
- :func:`ann_lsh_topk` — approximate: random-hyperplane LSH (sign-bit
  signatures from deterministic seeded projections), candidates share a
  signature band, exact cosine re-rank within candidates. Sub-linear
  candidate sets at corpus scale; recall tunable via (planes, bands).
- :func:`ivf_topk` — IVF-style: k centroid "cells" picked as hashed
  sample rows, each vector assigned to its nearest cell (one broadcast
  join), queries probe ``nprobe`` nearest cells. The classic
  billion-vector layout (cells ≈ partitions on disk).

All pure DataFrame ops; the per-pair cosine is a Catalyst expression
(functions/vector.py). At 100 TB the corpus side stays partitioned and
is never collected; queries are broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity, dot
from ._cache import scoped_persist


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    exact: bool = True,
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, neighbor_id, cosine, rank).

    Excludes self-matches. Deterministic under score ties (rank breaks
    ties by neighbor id)."""
    from ..functions.vector import norm

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn("__qn", norm(F.col("__qv"), exact=exact))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).withColumn("__cn", norm(F.col("__cv"), exact=exact))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.when(
                (F.col("__qn") > 0) & (F.col("__cn") > 0),
                dot(F.col("__qv"), F.col("__cv"), exact=exact)
                / (F.col("__qn") * F.col("__cn")),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplane(dim: int, plane: int, seed: int = 42) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: components from a
    splitmix-style integer hash — stable across engines and runs."""
    comps = []
    for j in range(dim):
        x = (seed * 0x9E3779B97F4A7C15 + plane * 0xBF58476D1CE4E5B9 + j * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 30
        x = (x * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 27
        comps.append(((x & 0xFFFF) / 32768.0) - 1.0)  # [-1, 1)
    return comps


def lsh_signature(vec_col, dim: int, planes: int = 16, seed: int = 42):
    """Sign-bit signature as a long: bit p = sign of <v, hyperplane_p>.

    One fold over the vector computes ALL ``planes`` projections at once:
    the accumulator is an array of running sums and the weight matrix
    rides along as a per-position literal array, so the vector is
    traversed once (a flat 1024-term literal expression was tried and is
    4x SLOWER — Janino chokes compiling the giant method; and 16
    separate zip_with folds re-traverse the vector per plane)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    # W[j] = the `planes` weights applied to vector position j
    wmat = F.array(*[
        F.array(*[F.lit(_hyperplane(dim, p, seed)[j]) for p in range(planes)])
        for j in range(dim)
    ])
    sums = F.aggregate(
        F.zip_with(
            v, wmat,
            lambda x, wrow: F.transform(wrow, lambda w: x.cast("double") * w),
        ),
        F.array_repeat(F.lit(0.0), planes),
        lambda acc, pv: F.zip_with(acc, pv, lambda a, b: a + b),
    )
    out = F.lit(0).cast("long")
    for p in range(planes):
        out = out.bitwiseOR(
            F.when(
                F.element_at(sums, p + 1) >= 0,
                F.shiftleft(F.lit(1).cast("long"), p),
            ).otherwise(F.lit(0).cast("long"))
        )
    return out


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 signature band with the
    query; cosine re-rank on candidates only.

    Engine-portable end to end: the signature's per-plane projections
    are LEFT-FOLD double sums in vector order (both Spark's
    ``aggregate`` and DuckDB's ``list_reduce`` fold sequentially, so
    the sign bits — and the re-rank cosines — are bit-identical), and
    band keys are arithmetic bit-chunks of the signature (chunk |
    band<<width), not hashes.

    Scale knobs: ``planes``/``bands`` set bucket granularity (each band
    has ``2^(planes/bands)`` buckets — widen bands as the corpus grows,
    the LSH analogue of k ∝ n). ``max_bucket`` is the skew guard for
    duplicate-heavy corpora: a corpus band-bucket larger than the cap
    (a pile of near-identical vectors all sharing every band) is
    dropped BEFORE the join, bounding the per-query candidate work —
    the same documented recall-for-ceiling trade as
    ``minhash_lsh_pairs``; queries outside the hot pile keep their
    neighbors (asserted in tests/test_dedup_skew.py). Default ``None``
    = no cap, the oracle-exact plan."""
    width = planes // bands
    mask = (1 << width) - 1

    def band_keys(sig):
        return F.array(*[
            F.shiftrightunsigned(sig, b * width)
            .bitwiseAND(F.lit(mask))
            .bitwiseOR(F.lit(b << width))
            for b in range(bands)
        ])

    def with_bands(df: DataFrame, prefix: str) -> DataFrame:
        from ..functions.vector import norm

        # bind signature + norm as attributes BEFORE the generator: the
        # 16 hyperplane projections run once per row, and explode_outer
        # keeps InferFiltersFromGenerate from cloning them into an
        # inferred filter (see operators/dedup.py)
        base = df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).alias(f"__{prefix}v"),
        ).withColumn(
            "__sig", lsh_signature(F.col(f"__{prefix}v"), dim, planes, seed)
        ).withColumn(f"__{prefix}n", norm(F.col(f"__{prefix}v"), exact=False))
        return base.select(
            f"{prefix}_id",
            f"__{prefix}v",
            f"__{prefix}n",
            F.explode_outer(band_keys(F.col("__sig"))).alias("__band"),
        ).filter(F.col("__band").isNotNull())

    q = with_bands(queries, "query")
    c = with_bands(corpus, "neighbor")
    if max_bucket is not None:
        sizes = c.groupBy("__band").agg(F.count(F.lit(1)).alias("__bn"))
        c = c.join(
            sizes.filter(F.col("__bn") <= max_bucket).select("__band"), "__band"
        )
    # per-row norms ride the join so the re-rank pays one dot per pair,
    # never three (cosine_similarity would recompute both norms per pair)
    cands = (
        q.join(c, "__band")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn(
            "cosine",
            F.when(
                (F.col("__queryn") > 0) & (F.col("__neighborn") > 0),
                dot(F.col("__queryv"), F.col("__neighborv"), exact=False)
                / (F.col("__queryn") * F.col("__neighborn")),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Top-k by cosine over int8-QUANTIZED vectors (queries stay full
    precision): the memory-bound ANN pattern — the corpus shuffles and
    scans 4x fewer vector bytes, at ~1e-2 cosine error, and the
    scores are integer-exact up to one final double division, so the
    whole pipeline stays oracle-checkable. Production shape: quantize
    ONCE at ingest, store ``(scale, codes)`` columns, re-rank the top
    candidates against the float originals if exactness matters.

    Score algebra: cos(q, c') with c'[j] = codes[j]*scale factors as
    (Σ q[j]·codes[j]) · scale / (|q| · scale·sqrt(Σ codes²)) — the
    scales cancel, so the computation is an INTEGER dot and integer
    norm against the float query: fewer flops and no accumulation-order
    sensitivity in the corpus-side norm."""
    from ..functions.vector import quantize8

    scale, codes = quantize8(F.col(vec_col))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), scale.alias("__cs"), codes.alias("__cq")
    ).withColumn(
        "__cn2",
        F.aggregate(F.col("__cq"), F.lit(0).cast("long"),
                    lambda acc, x: acc + x.cast("long") * x.cast("long")),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    ).withColumn(
        "__qn",
        F.sqrt(F.aggregate(
            F.transform(F.col("__qv"), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x)),
    )
    # integer-weighted dot: Σ q[j] * codes[j] — double fold in vector order
    idot = F.aggregate(
        F.zip_with(F.col("__qv"), F.col("__cq"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_q8",
            F.when(
                (F.col("__qn") > 0) & (F.col("__cn2") > 0) & (F.col("__cs") > 0),
                idot / (F.col("__qn") * F.sqrt(F.col("__cn2").cast("double"))),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_q8").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_q8", "rank")
    )


def group_vector_sums(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    dim: int = 64,
) -> DataFrame:
    """Per-group elementwise vector sums via ``applyInPandas`` — the
    grouped-map Pandas-UDF surface as a first-class, oracle-checked
    operator. Output is long format ``(group, dim_idx, dim_sum, n_vecs)``
    with ``dim_sum`` an exact DECIMAL(38,15): each float32 enters the
    sum as its SHORTEST DECIMAL REPRESENTATION (≤9 significant digits,
    exact round-trip), which every engine's float→string renders
    identically — so the sum is order-independent and bit-identical to
    an oracle doing ``CAST(CAST(x AS VARCHAR) AS DECIMAL)``. (Casting
    the float through double to decimal instead diverges in the last
    digit: DuckDB's double→decimal cast is not correctly rounded.) The
    Arrow decimal128 lane carries Python ``Decimal`` out natively.

    Scale shape: one shuffle on the group key; each group's work is a
    single Arrow batch through one Python worker pass. (A pure-Spark
    posexplode+groupBy twin exists trivially; this operator exists to
    keep the pandas grouped-map path exercised and verified.)"""
    import decimal

    import numpy as np
    import pandas as pd

    q15 = decimal.Decimal("1e-15")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        group = pdf[group_col].iloc[0]
        n = len(pdf)
        sums = [decimal.Decimal(0)] * dim
        for vec in pdf[vec_col]:
            for j in range(dim):
                # numpy float32 repr == DuckDB float→VARCHAR: both emit
                # the shortest decimal that round-trips the float32
                sums[j] += decimal.Decimal(repr(np.float32(vec[j]))).quantize(
                    q15, rounding=decimal.ROUND_HALF_UP
                )
        return pd.DataFrame(
            {
                group_col: [group] * dim,
                "dim_idx": range(1, dim + 1),
                "dim_sum": sums,
                "n_vecs": [n] * dim,
            }
        )

    gf = df.select(group_col, vec_col).groupBy(group_col)
    schema = f"{group_col} int, dim_idx int, dim_sum decimal(38,15), n_vecs long"
    return gf.applyInPandas(kernel, schema=schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF: centroids = deterministic hash-sampled corpus rows; vectors
    assign to nearest centroid; queries probe the ``nprobe`` nearest
    cells. One broadcast join for assignment, one for probing — the
    corpus is never replicated."""
    # cell ids come from row CONTENT (row_number over the hash order),
    # never monotonically_increasing_id: this subplan is re-evaluated
    # independently by the assign and probe joins below, and mono-ids
    # depend on partition layout — the two evaluations could disagree
    # and silently mis-probe. The window is global but runs on ≤n_cells
    # rows (post-limit), so the single-partition sort is trivial.
    # The sampling hash is the md5 hex prefix (engine-portable — the
    # same trick as operators/sampling), so a SQL oracle recomputes the
    # identical centroid set.
    cents = (
        corpus.select(F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv"))
        .withColumn("__h", F.substring(F.md5(F.col("__cid").cast("string")), 1, 16))
        .orderBy("__h")
        .limit(n_cells)
        .withColumn(
            # partitionBy(lit) = same single-partition total order, but
            # declared: silences Spark's global-window warning for a
            # window that is k-row-bounded by the limit above
            "cell",
            F.row_number().over(
                Window.partitionBy(F.lit(0)).orderBy("__h", "__cid")
            )
            - 1,
        )
        .select("cell", "__cv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv"))
    assign_w = Window.partitionBy("neighbor_id").orderBy(
        F.col("__sim").desc(), F.col("cell").asc())
    assigned = (
        c.crossJoin(F.broadcast(cents))
        .withColumn("__sim", dot(F.col("__nv"), F.col("__cv"), exact=False))
        .withColumn("__rn", F.row_number().over(assign_w))
        .filter(F.col("__rn") == 1)
        .select("neighbor_id", "__nv", "cell")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    probe_w = Window.partitionBy("query_id").orderBy(F.col("__sim").desc(), F.col("cell").asc())
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__sim", dot(F.col("__qv"), F.col("__cv"), exact=False))
        .withColumn("__rn", F.row_number().over(probe_w))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "__qv", "cell")
    )
    scored = (
        probes.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_similarity(F.col("__qv"), F.col("__nv"), exact=False))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cogrouped_conversion_stats(
    clicks: DataFrame,
    purchases: DataFrame,
    key: str = "user_id",
    num_partitions: int | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Co-grouped Pandas kernel (``groupBy().cogroup().applyInPandas``) —
    the third Arrow lane next to grouped-map and mapInPandas: BOTH
    inputs are shuffled once on the key and arrive in the SAME Python
    kernel as two aligned pandas frames, so per-key logic that needs
    two tables (funnel reconciliation, as-of alignment, ledger diffs)
    runs without a join materializing the pair set. Keys present in
    only one input still fire the kernel (the other frame arrives
    empty) — FULL OUTER semantics.

    Per key: click/purchase counts, first purchase time, and how many
    clicks happened at-or-before that first purchase (the attribution
    window count). All integer/min-max math — engine-exact for the
    DuckDB twin.

    Scale: one co-partitioned shuffle per side, Arrow-batched transfer,
    per-key state only (no cross-key buffering). The lane's fixed cost
    is PER GROUP (one Arrow flush per key) — it amortizes when keys
    carry many rows, which is the 100 TB regime; with millions of tiny
    keys prefer plain joins/aggregates. ``num_partitions`` pre-hashes
    both sides on the key so the cogroup inherits that partitioning
    (ENSURE_REQUIREMENTS adds no extra exchange); size it to total
    cores — per-partition Python worker setup is the other fixed cost
    (measured 9.7s → 5.9s going 32 → 8 partitions on 1.5k keys).
    ``num_partitions=None`` auto-sizes from a one-pass
    ``approx_count_distinct`` key estimate against that cost model
    (~200 keys/partition floor, capped at defaultParallelism); the
    estimate scans ``clicks`` once at build time, so at very large
    scale pass an explicit value sized to your cluster instead."""
    import pandas as pd

    # the kernel's schema must mirror the ACTUAL key type — hardcoding
    # 'long' breaks string/decimal keys with an Arrow schema mismatch
    key_ddl = clicks.schema[key].dataType.simpleString()
    schema = (
        f"{key} {key_ddl}, n_clicks long, n_purchases long, "
        "first_purchase_ts timestamp, clicks_before_first_purchase long"
    )
    # validate the event-time column against the UN-pruned inputs here
    # on the driver: the kernel below tolerates a missing column (that's
    # Catalyst pruning, legitimate), so a typo'd ts_col would otherwise
    # silently produce empty first_purchase_ts/clicks_before outputs
    for side_name, side in (("clicks", clicks), ("purchases", purchases)):
        if ts_col not in side.columns:
            raise ValueError(
                f"cogrouped_conversion_stats: ts_col {ts_col!r} not in "
                f"{side_name} columns {side.columns}"
            )

    def kernel(cdf: "pd.DataFrame", pdf: "pd.DataFrame") -> "pd.DataFrame":
        uid = (cdf if len(cdf) else pdf)[key].iloc[0]
        n_clicks, n_purch = len(cdf), len(pdf)
        # When the consumer uses none of the kernel's output columns
        # (e.g. a bare count — the kernel emits exactly one row per key,
        # so the count is column-independent), Catalyst prunes payload
        # columns out of the cogroup children and only the grouping key
        # arrives. Tolerate the pruned shape instead of KeyError-ing;
        # any plan that READS the outputs gets the full inputs.
        have_ts = ts_col in cdf.columns and ts_col in pdf.columns
        first_p = pdf[ts_col].min() if (n_purch and have_ts) else pd.NaT
        clicks_before = (
            int((cdf[ts_col] <= first_p).sum())
            if n_purch and n_clicks and have_ts
            else 0
        )
        return pd.DataFrame(
            {
                key: [uid],
                "n_clicks": [n_clicks],
                "n_purchases": [n_purch],
                "first_purchase_ts": [first_p],
                "clicks_before_first_purchase": [clicks_before],
            }
        )

    if num_partitions is None:
        # auto-size per the documented cost model: each partition pays a
        # Python-worker setup, each key an Arrow flush — so amortize to
        # ≥~200 keys/partition (the measured sweet spot: 1.5k keys ran
        # 1.6x faster at 8 partitions than 32) without exceeding the
        # cluster's parallelism. One cheap map-side-only job (no
        # shuffle: approx_count_distinct partial-aggregates to 1 row).
        sc = clicks.sparkSession.sparkContext
        n_keys = clicks.agg(
            F.approx_count_distinct(key).alias("k")
        ).first()["k"]
        num_partitions = max(1, min(sc.defaultParallelism, -(-n_keys // 200)))
    clicks = clicks.repartition(num_partitions, key)
    purchases = purchases.repartition(num_partitions, key)
    return (
        clicks.groupBy(key)
        .cogroup(purchases.groupBy(key))
        .applyInPandas(kernel, schema=schema)
    )


def mrl_truncate_recall(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka-truncation quality evaluation: recall@k of exact
    cosine search over the FIRST ``dim`` dimensions against the
    full-dimension exact baseline — the measurement that justifies
    shipping truncated embeddings (Kusupati et al., "Matryoshka
    Representation Learning", NeurIPS 2022: MRL-trained models keep
    most retrieval quality in a prefix of the vector; serving at 1/4
    the dims cuts index bytes, shuffle bytes, and ANN candidate cost
    proportionally).

    Truncation is ``slice(vec, 1, dim)``; re-normalization is implicit
    because cosine divides by the truncated norms. Both rankings use the
    exact-decimal fold (bit-identical across engines), ties broken by
    neighbor id, so recall is deterministic. Returns one row per query:
    ``(query_id, dim, n_overlap, recall)`` with ``recall =
    n_overlap / k`` (exact single division).

    Scale shape: the evaluation runs on a SAMPLE of queries (it exists
    to pick ``dim``, not to serve traffic); each side is the documented
    brute-force exact baseline, and the production path at the chosen
    dim is the ANN family with 4-16x smaller vectors through the
    shuffle."""
    from pyspark.sql import functions as F

    full = brute_force_topk(emb, queries, vec_col, id_col, k=k)
    t_emb = emb.withColumn(vec_col, F.slice(vec_col, 1, dim))
    t_q = queries.withColumn(vec_col, F.slice(vec_col, 1, dim))
    trunc = brute_force_topk(t_emb, t_q, vec_col, id_col, k=k)
    overlap = (
        full.select("query_id", "neighbor_id")
        .join(trunc.select("query_id", "neighbor_id"),
              ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    base = full.select("query_id").dropDuplicates()
    return (
        base.join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.lit(dim).alias("dim"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)).cast("double") / F.lit(float(k))
             ).alias("recall"),
        )
    )


def _micro_slice(vec: Column, start: int, length: int) -> Column:
    """A subspace slice in exact integer micro-units: floor(x * 1e6) as
    bigint per component. All downstream PQ math is integer (squared L2
    distances), so encode/ADC are bit-exact across engines — the same
    determinism trick as the int8 path in ``quantized_topk``."""
    return F.transform(
        F.slice(vec, start, length),
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("bigint"),
    )


def _int_dist2(a: Column, b: Column) -> Column:
    """Exact squared L2 between two integer vectors (bigint fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_subspaces: int = 4,
    n_codes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) — Jégou, Douze & Schmid, "Product Quantization for Nearest
    Neighbor Search" (TPAMI 2011), the workhorse of billion-scale
    vector serving (FAISS IVF-PQ's PQ half).

    The vector space splits into ``n_subspaces`` contiguous subspaces;
    each gets its own ``n_codes``-entry codebook (here: deterministic
    md5-hash-sampled corpus rows sliced per subspace — the same
    portable seeding as ``ivf_topk``; Lloyd-refined codebooks would
    come from operators/clustering.kmeans). Every corpus vector is
    ENCODED as one small code per subspace; a query computes one
    distance TABLE per subspace against the codebook and scores a
    candidate by summing table lookups at the candidate's codes —
    never touching the candidate's floats (the "asymmetric" in ADC).

    100 TB shape: the serving scan reads ONLY the code table —
    ``n_subspaces`` small ints per vector vs ``dim`` floats (here 4
    codes vs 256 bytes, 64x less I/O); encode is one broadcast join
    against the (n_subspaces x n_codes)-row codebook with no corpus
    shuffle; ADC is a broadcast join of the per-query distance table
    against the code table followed by one partial-aggregated top-k.
    Everything after the micro-unit conversion is bigint math, so the
    ranking is bit-exact and oracle-checkable.
    """
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces} subspaces")
    d = dim // n_subspaces
    cents = (
        corpus.select(F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv"))
        .withColumn("__h", F.substring(F.md5(F.col("__cid").cast("string")), 1, 16))
        .orderBy("__h")
        .limit(n_codes)
        .withColumn(
            "code",
            F.row_number().over(Window.partitionBy(F.lit(0)).orderBy("__h", "__cid"))
            - 1,
        )
    )

    def sub_explode(df: DataFrame, out_id: str) -> DataFrame:
        parts = F.array(
            *[
                F.struct(
                    F.lit(m).alias("m"),
                    _micro_slice(F.col(vec_col), m * d + 1, d).alias("sub"),
                )
                for m in range(n_subspaces)
            ]
        )
        return df.select(
            F.col(id_col).alias(out_id), F.explode(parts).alias("__s")
        ).select(out_id, F.col("__s.m").alias("m"), F.col("__s.sub").alias("__sub"))

    codebook = cents.select(
        "code",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        _micro_slice(F.col("__cv"), m * d + 1, d).alias("sub"),
                    )
                    for m in range(n_subspaces)
                ]
            )
        ).alias("__s"),
    ).select("code", F.col("__s.m").alias("m"), F.col("__s.sub").alias("__csub"))

    enc_w = Window.partitionBy("neighbor_id", "m").orderBy(
        F.col("__d2").asc(), F.col("code").asc()
    )
    codes = (
        sub_explode(corpus, "neighbor_id")
        .join(F.broadcast(codebook), "m")
        .withColumn("__d2", _int_dist2(F.col("__sub"), F.col("__csub")))
        .withColumn("__rn", F.row_number().over(enc_w))
        .filter(F.col("__rn") == 1)
        .select("neighbor_id", "m", "code")
    )
    dtable = (
        sub_explode(queries, "query_id")
        .join(F.broadcast(codebook), "m")
        .withColumn("__qd2", _int_dist2(F.col("__sub"), F.col("__csub")))
        .select("query_id", "m", "code", "__qd2")
    )
    adc = (
        codes.join(F.broadcast(dtable), ["m", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("__qd2").cast("bigint").alias("adc_dist2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist2").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist2", "rank")
    )


def rp_signs(in_dims: int, out_dims: int, tag: str = "rp") -> list[list[int]]:
    """Deterministic ±1 Johnson-Lindenstrauss projection matrix:
    ``signs[j][i] = +1`` iff the first hex char of
    ``md5(f"{tag}|{i}|{j}")`` is in 0-7 (an unbiased bit of a public
    hash — Achlioptas 2001 showed ±1 entries satisfy the JL lemma).
    Reproducible in ANY engine with an md5() (the oracle twin rebuilds
    it in SQL); no RNG state to ship or version."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"{tag}|{i}|{j}".encode()).hexdigest()[0]
            in "01234567"
            else -1
            for i in range(in_dims)
        ]
        for j in range(out_dims)
    ]


def random_projection(
    df: DataFrame,
    vec_col: str,
    in_dims: int,
    out_dims: int,
    tag: str = "rp",
    out_prefix: str = "p",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection of an embedding column
    to ``out_dims`` dimensions — the dimensionality-reduction stage a
    100 TB ANN/clustering pipeline runs before indexing (JL: pairwise
    distances are preserved within (1±ε) for k = O(log n / ε²);
    Achlioptas-style ±1 entries, no dense Gaussian matrix needed).

    Each output component ``{out_prefix}{j}`` is the signed sum
    ``Σᵢ signs[j][i] · xᵢ`` accumulated in DECIMAL(28,15) (exact,
    order-independent — double summation would drift in the last ulp
    between engines) and emitted as DOUBLE. The accumulator is re-cast
    to DECIMAL(28,15) at every fold step: Spark's decimal-addition
    type widening would otherwise hit the precision-38 cap after ~10
    terms and CLAMP THE SCALE TO 6 — a silent 1e-6 error this operator
    exists to rule out. The sign matrix is the deterministic
    :func:`rp_signs`, baked into the plan as a literal array, so the
    whole operator is ONE map-only projection — zero exchanges, zero
    Python rows, fuses into the scan that feeds it.
    """
    if in_dims <= 0 or out_dims <= 0:
        raise ValueError(
            f"dims must be positive (in={in_dims}, out={out_dims})"
        )
    signs = rp_signs(in_dims, out_dims, tag)
    dec = "decimal(28,15)"
    cols = []
    for j in range(out_dims):
        signs_j = F.array(*[F.lit(s) for s in signs[j]])
        terms = F.zip_with(
            F.col(vec_col),
            signs_j,
            lambda x, s: (x.cast("double") * s).cast(dec),
        )
        proj = F.aggregate(
            terms,
            F.lit(0).cast(dec),
            lambda acc, t: (acc + t).cast(dec),
        )
        cols.append(proj.cast("double").alias(f"{out_prefix}{j}"))
    return df.select("*", *cols)


def margin_bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    exact: bool = False,
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk, "Margin-
    based Parallel Corpus Mining with Multilingual Sentence Embeddings",
    ACL 2019 — the LASER/CCMatrix bitext recipe): score every (src, tgt)
    pair by its cosine DIVIDED by the mean cosine of each side's k
    nearest neighbors in the OTHER corpus (the 'ratio' margin) — a hub
    vector that is close to everything gets its raw cosine discounted,
    which is what makes mined translation pairs precise at corpus scale.

    Exactness discipline: with the default ``exact=False`` the dot is a
    pure-double LEFT FOLD in vector order — bit-identical to a DuckDB
    ``list_reduce`` (the ANN-twin precedent; ~4x cheaper per pair than
    the decimal accumulator, which remains available as ``exact=True``
    with the _DOT_DEC oracle form). Either way the cosine is pinned to
    integer NANOS via ``floor(cos·1e9 + 0.5)`` (floor is bit-identical
    across engines where round's tie rule is not); neighbor sums are
    int64 sums of nanos (order-independent), and the margin itself is
    one truncating integer division at MICRO scale:
    ``margin_micro = (cos_nano · 2k · 1e6) div (sum_fwd + sum_bwd)``.
    All magnitudes bounded: |cos_nano| ≤ 1e9, ·2k·1e6 ≤ 8e15 < int64.
    Pairs whose denominator is ≤ 0 (anti-correlated neighborhoods) get
    NULL margin rather than a sign-flipped score.

    Shape at 100 TB: this brute form broadcasts the src side (the query
    batch) across the tgt corpus — the candidate stage of choice up to
    ~1e5 src rows per pass. Past that, generate candidates with the LSH
    band join (lsh_topk's bucket stage) and feed them here: the margin
    denominators then use each side's k-NN WITHIN the candidate set —
    the standard practical variant (global k-NN needs the full N×M
    score matrix no system materializes). Everything downstream of the
    candidate join is two window ranks over the pair frame, two slim
    (id, sum) aggregates, and two broadcast joins back.

    Returns one row per surviving candidate pair: ``(src_id, tgt_id,
    cos_nano, margin_micro, rank)`` with rank = margin order per src
    (ties broken by tgt id)."""
    from ..functions.vector import norm

    s = src.select(
        F.col(id_col).alias("src_id"), F.col(vec_col).alias("__sv")
    ).withColumn("__sn", norm(F.col("__sv"), exact=exact))
    # the scoring stage's parallelism is the TGT side's partitioning
    # (src broadcasts): a corpus arriving as one fat parquet file would
    # run the whole cosine fold on one task — adaptive repartition, same
    # posture as dedup's embedding probe (caught live: the sf1 lane ran
    # a single task at 3% machine utilization before this)
    if (
        tgt.rdd.getNumPartitions()
        < tgt.sparkSession.sparkContext.defaultParallelism
    ):
        tgt = tgt.repartition(tgt.sparkSession.sparkContext.defaultParallelism)
    t = tgt.select(
        F.col(id_col).alias("tgt_id"), F.col(vec_col).alias("__tv")
    ).withColumn("__tn", norm(F.col("__tv"), exact=exact))
    pairs = scoped_persist(
        F.broadcast(s)
        .crossJoin(t)
        .withColumn(
            "__cos",
            F.when(
                (F.col("__sn") > 0) & (F.col("__tn") > 0),
                dot(F.col("__sv"), F.col("__tv"), exact=exact)
                / (F.col("__sn") * F.col("__tn")),
            ),
        )
        .filter(F.col("__cos").isNotNull())
        .select(
            "src_id",
            "tgt_id",
            F.floor(F.col("__cos") * 1e9 + F.lit(0.5)).cast("long").alias("cos_nano"),
        )
        # persist the slim (src, tgt, nano) pair frame: the N×M cosine
        # fold is the expensive stage and THREE branches consume it
        # (fwd k-NN, bwd k-NN, final scoring) — unpersisted it ran 3x
        # (guide §1.2; same posture as incremental minhash's banded
        # frame). 24 B/pair caches cheap relative to the dot fold.
    )
    wf = Window.partitionBy("src_id").orderBy(
        F.col("cos_nano").desc(), F.col("tgt_id").asc()
    )
    wb = Window.partitionBy("tgt_id").orderBy(
        F.col("cos_nano").desc(), F.col("src_id").asc()
    )
    fwd = (
        pairs.withColumn("__r", F.row_number().over(wf))
        .filter(F.col("__r") <= k)
        .groupBy("src_id")
        .agg(F.sum("cos_nano").alias("__sum_fwd"))
    )
    bwd = (
        pairs.withColumn("__r", F.row_number().over(wb))
        .filter(F.col("__r") <= k)
        .groupBy("tgt_id")
        .agg(F.sum("cos_nano").alias("__sum_bwd"))
    )
    denom = F.col("__sum_fwd") + F.col("__sum_bwd")
    scored = (
        pairs.join(F.broadcast(fwd), "src_id")
        .join(F.broadcast(bwd), "tgt_id")
        .withColumn(
            "margin_micro",
            F.when(
                denom > 0,
                F.expr(f"(cos_nano * {2 * k} * 1000000) div (__sum_fwd + __sum_bwd)"),
            ),
        )
    )
    wm = Window.partitionBy("src_id").orderBy(
        F.col("margin_micro").desc_nulls_last(), F.col("tgt_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wm))
        .select("src_id", "tgt_id", "cos_nano", "margin_micro", "rank")
    )
