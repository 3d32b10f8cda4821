"""Deterministic sampling & dataset splitting for training-data curation.

Random sampling (``df.sample``/``rand()``) is the wrong tool for corpus
work: it changes between runs and partitionings, can't be reproduced by
another engine, and leaks rows across train/test when the corpus is
re-sharded. Everything here derives the decision from a **content hash
of the row's key** instead:

- :func:`hash_split`      — md5-bucketed train/val/test assignment; a
                            row's split is a pure function of its id, so
                            re-runs, engines, and re-shards all agree,
                            and a grown corpus keeps prior assignments.
- :func:`hash_sample`     — fraction-f subset by the same rule.
- :func:`stratified_topn` — exactly n rows per stratum, chosen by hash
                            rank — balanced class subsets with no
                            collect, one window shuffle per call.

The hex-prefix trick keeps every comparison portable: md5 is available
and identical on every engine, its lowercase-hex output compares
lexicographically == numerically, so a fraction f maps to the literal
boundary string ``hex(floor(f * 16^k))`` — no int conversion anywhere.
At 100 TB each operator is one narrow projection (md5 of the key) plus
either a filter (sample/split: no shuffle at all) or one hash-partition
by stratum (stratified: the one unavoidable shuffle).

No reference counterpart (the dbt project has no sampling surface);
built for the BASELINE.json north-star pipeline ops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._cache import scoped_persist

_HEX_K = 8  # compare on 8 hex chars = 32 bits of the hash: plenty of
# resolution for fractions, short enough to stay obviously collision-free
# from md5's uniformity


def _hash_prefix(id_col: str | Column) -> Column:
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(F.md5(c.cast("string").cast("binary")), 1, _HEX_K)


def _boundary(fraction: float) -> str:
    """Hex literal h such that P[md5_prefix < h] == fraction."""
    edge = min(max(int(fraction * (16**_HEX_K)), 0), 16**_HEX_K)
    return format(edge, f"0{_HEX_K}x")[:_HEX_K] if edge < 16**_HEX_K else "g" * _HEX_K
    # "gggggggg" > every hex string → fraction 1.0 keeps all rows


def hash_split(
    df: DataFrame, id_col: str, fractions: dict[str, float], split_col: str = "split"
) -> DataFrame:
    """Assign each row to a named split with the given fractions (must
    sum to ≤ 1; remainder rows get NULL). Assignment is stable under
    re-runs, engine changes, repartitioning, and corpus growth."""
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    h = _hash_prefix(id_col)
    expr: Column | None = None
    cum = 0.0
    for name, frac in fractions.items():
        cum += frac
        cond = h < F.lit(_boundary(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    assert expr is not None
    return df.withColumn(split_col, expr)


def hash_sample(df: DataFrame, id_col: str, fraction: float) -> DataFrame:
    """Deterministic ~fraction-f subset: keep rows whose hash prefix
    falls below the boundary. A pure filter — no shuffle, prunes at the
    scan when id is a stored column."""
    return df.filter(_hash_prefix(id_col) < F.lit(_boundary(fraction)))


def mix_sources(
    df: DataFrame, source_col: str, id_col: str, weights: dict[str, float]
) -> DataFrame:
    """Corpus mixing: deterministically downsample each source to its
    configured rate (the pre-training recipe step — e.g. keep 100% of
    curated sources, 30% of web crawl). A row of source ``s`` survives
    iff its md5 prefix falls below ``_boundary(weights[s])``; sources
    absent from ``weights`` are dropped entirely.

    Pure per-row filter — zero shuffle at any corpus size, stable under
    re-runs, engine changes, and corpus growth (adding documents never
    flips existing keep/drop decisions)."""
    for s, w in weights.items():
        if not 0.0 <= w <= 1.0:
            raise ValueError(f"weight for source {s!r} must be in [0,1], got {w}")
    h = _hash_prefix(id_col)
    keep: Column = F.lit(False)
    for s, w in weights.items():
        keep = keep | ((F.col(source_col) == s) & (h < F.lit(_boundary(w))))
    return df.filter(keep)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    length_col: str | Column,
    budget: int,
    group_col: str | None = None,
    n_shards: int = 32,
) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget training
    sequences by running offset — doc d belongs to the pack where its
    first token lands in the concatenated (group, shard) stream; the
    tokenizer stage later splits stragglers at pack boundaries.

    Adds ``shard`` (= id % n_shards), ``seq_start`` (running token
    offset within the shard), and ``pack_id`` (= seq_start div budget,
    unique within (group, shard)).

    Scale shape: packing is a running SUM window, which would serialize
    into ONE reducer per group — a giant source would bottleneck. The
    shard key bounds every window partition to ~1/n_shards of its
    group, the standard sharded-packing layout (each shard's packs are
    independent training sequences). One window shuffle total; all
    arithmetic integer-exact."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    ln = F.col(length_col) if isinstance(length_col, str) else length_col
    shard = F.pmod(F.col(id_col), F.lit(n_shards)).cast("int")
    parts = ([group_col] if group_col else []) + ["shard"]
    w = (
        Window.partitionBy(*parts)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        df.withColumn("shard", shard)
        .withColumn("seq_start", (F.sum(ln).over(w) - ln).cast("long"))
        .withColumn(
            "pack_id", F.expr(f"seq_start div {int(budget)}").cast("long")
        )
    )
    return out


def stratified_topn(
    df: DataFrame, stratum_col: str, id_col: str, n: int
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, selected by hash rank
    (deterministic ties broken by id). One window shuffle on the
    stratum key; skewed strata are bounded because only rank ≤ n rows
    survive the partial sort."""
    w = Window.partitionBy(stratum_col).orderBy(
        _hash_prefix(id_col).asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n)
        .drop("__rk")
    )


def weighted_sample(
    df: DataFrame, id_col: str, num_col: str | Column, denom: int
) -> DataFrame:
    """Deterministic importance-weighted sampling: keep each row with
    probability ``min(1, num/denom)`` — upsampling high-quality rows is
    THE corpus-mixing lever once a quality signal exists. The row's
    md5-prefix (a uniform 32-bit integer, same construction as
    :func:`hash_split`) is compared against the weight in EXACT integer
    arithmetic: keep iff ``u32 * denom < num * 2^32`` — no float
    division anywhere, so any engine with md5 replays the identical
    sample. Pure narrow filter: no shuffle, scales like a scan, and the
    kept set is stable under corpus growth (a row's fate depends only on
    its own key and weight)."""
    num = F.col(num_col) if isinstance(num_col, str) else num_col
    u32 = F.conv(_hash_prefix(id_col), 16, 10).cast("bigint")
    return df.filter(
        u32 * F.lit(denom).cast("bigint")
        < num.cast("bigint") * F.lit(16**_HEX_K).cast("bigint")
    )


def reservoir_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    n: int,
    salt: str = "",
) -> DataFrame:
    """Exactly ``min(n, |group|)`` rows per group, chosen uniformly by
    md5-hash rank — the deterministic twin of per-group reservoir
    sampling. Because the rank is a pure function of (salt, id), the
    sample is reproducible across runs, engines, and re-partitionings,
    and a NEW row enters the sample only by out-hashing an incumbent —
    the same stability property a streaming reservoir gives per batch.
    ``salt`` rotates the sample without touching the data.

    One hash-partition by group + per-group top-n window. A hot group
    serializes its members through one reducer; for mega-groups use the
    two-phase form (pre-filter with hash_sample at a generous fraction,
    then window) — the filter is shuffle-free, so the window sees only
    ~n log n candidates."""
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    rank_key = F.md5(
        F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(group_col).orderBy(rank_key.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n)
        .drop("__rk")
    )


def mixture_weights(
    df: DataFrame,
    group_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Temperature-flattened source mixture for multi-corpus training
    (the DoReMi / data-mixing recipe at τ = 2): a source with share
    ``p_g`` of the corpus is sampled at ``w_g ∝ sqrt(p_g)`` — rare
    sources up-weighted, dominant ones damped — and the per-source
    acceptance rate to REALIZE that mixture is ``rate_g ∝ w_g / p_g``.

    τ = 2 is deliberate: sqrt is IEEE-correctly-rounded (pow/log are
    not), and every downstream number here is derived by quantizing
    ``floor(sqrt(n_g) * scale)`` to an integer FIRST, then forming
    ratios of exact integer sums — so weights are bit-identical on any
    engine, and Σ w_g = 1 up to integer division remainder.

    Returns one row per source: ``(group, n_docs, sqrt_scaled,
    weight, rate_vs_max)`` where ``weight = sqrt_scaled /
    Σ sqrt_scaled`` (the target mixture share) and ``rate_vs_max``
    normalizes acceptance rates so the most down-sampled source keeps
    rate 1.0 relative cost accounting. Two tiny aggregates over group
    counts — the corpus itself is scanned once.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    q = counts.withColumn(
        "sqrt_scaled",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * F.lit(scale)).cast("long"),
    )
    tot = q.agg(
        F.sum("sqrt_scaled").alias("__tot"), F.sum("n_docs").alias("__n")
    )
    scored = q.join(F.broadcast(tot)).withColumn(
        "weight", F.col("sqrt_scaled").cast("double") / F.col("__tot")
    )
    # acceptance rate ∝ weight / share ∝ sqrt_scaled / n_docs (the __n
    # and __tot factors are source-independent and cancel); normalize by
    # the max over sources. All products stay in double space on values
    # < 2^53 (exact conversions, correctly-rounded multiply) so the
    # ratio is engine-portable without long overflow.
    r = F.col("sqrt_scaled").cast("double") / F.col("n_docs")
    mx = scored.select(
        F.max(F.struct(r.alias("r"),
                       F.col("sqrt_scaled").alias("s"),
                       F.col("n_docs").alias("d"))).alias("__m")
    ).select(F.col("__m.s").alias("__ms"), F.col("__m.d").alias("__md"))
    return (
        scored.join(F.broadcast(mx))
        .withColumn(
            "rate_vs_max",
            (F.col("sqrt_scaled").cast("double") * F.col("__md"))
            / (F.col("__ms").cast("double") * F.col("n_docs")),
        )
        .select(group_col, "n_docs", "sqrt_scaled", "weight", "rate_vs_max")
    )


def chunk_windows(
    df: DataFrame,
    id_col: str,
    words_col: Column,
    window: int,
    stride: int,
) -> DataFrame:
    """Sliding-window chunking of token sequences into training samples
    (the HF/BPE `return_overflowing_tokens` + stride layout): chunks
    start at offsets 0, stride, 2·stride, … while a FULL window fits
    (``offset + window <= n``); a document shorter than one window
    yields a single short chunk of all its tokens. Up to ``stride - 1``
    trailing tokens past the last full window are dropped — the standard
    truncation tokenizer chunkers document (set ``stride = 1`` for full
    coverage at maximal overlap).

    Executes entirely inside codegen: the word array is built once per
    row, offsets come from ``sequence()``, each chunk is ``slice()`` +
    ``array_join`` — explode is the only fan-out and it is map-side.
    Returns ``(id, chunk_idx, chunk_start, chunk_len, chunk_text)``.
    """
    if window <= 0 or stride <= 0:
        raise ValueError("window and stride must be positive")
    base = df.select(F.col(id_col), words_col.alias("__w"))
    nw = F.size("__w")
    starts = F.when(nw <= window, F.array(F.lit(0))).otherwise(
        F.sequence(F.lit(0), nw - window, F.lit(stride))
    )
    chunks = base.select(
        id_col,
        F.posexplode(starts).alias("chunk_idx", "chunk_start"),
        F.col("__w"),
    )
    piece = F.slice(F.col("__w"), F.col("chunk_start") + 1, window)
    return chunks.select(
        id_col,
        "chunk_idx",
        "chunk_start",
        F.size(piece).alias("chunk_len"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def temporal_holdout(
    df: DataFrame,
    ts_col: str,
    boundary: str,
    group_col: str | None = None,
) -> DataFrame:
    """Time-based train/test split with optional group-leakage guard —
    the evaluation-hygiene op of any training pipeline over logged data.

    Plain mode (``group_col=None``): ``train`` = rows strictly before
    ``boundary``, ``test`` = rows at/after it — the forecasting setting,
    where an entity may appear on both sides.

    Group-disjoint mode: per-entity generalization needs the TEST
    entities unseen in training, so any pre-boundary row belonging to a
    group that also appears post-boundary is quarantined as ``leaked``
    instead of entering train. Three labels out: ``train`` / ``test`` /
    ``leaked`` — quarantining (rather than silently dropping) keeps the
    split auditable and the row multiset conserved.

    Scale shape: the test-window group set is the distinct groups of a
    recent time slice — small next to the corpus — and is broadcast
    into a map-side membership probe; the corpus itself never shuffles.
    The boundary predicate is a pure scan filter (partition-prunable
    when the table is date-partitioned).
    """
    ts = F.col(ts_col)
    b = F.lit(boundary).cast("timestamp")
    if group_col is None:
        return df.withColumn(
            "split", F.when(ts < b, F.lit("train")).otherwise(F.lit("test"))
        )
    test_groups = df.filter(ts >= b).select(group_col).dropDuplicates()
    marked = df.join(
        F.broadcast(test_groups.withColumn("__in_test", F.lit(True))),
        group_col,
        "left",
    )
    return marked.withColumn(
        "split",
        F.when(ts >= b, F.lit("test"))
        .when(F.col("__in_test").isNotNull(), F.lit("leaked"))
        .otherwise(F.lit("train")),
    ).drop("__in_test")


def negative_samples(
    anchors: DataFrame,
    pool: DataFrame,
    k: int,
    anchor_id: str = "anchor_id",
    pool_id: str = "doc_id",
    n_buckets: int = 32,
    positives: DataFrame | None = None,
) -> DataFrame:
    """Deterministic negative sampling for contrastive / retrieval
    training pairs: for every anchor, up to ``k`` pseudo-random pool
    members that are NOT known positives — without ever forming
    anchors × pool.

    Plan (the bucket-rendezvous shape): pool docs land in
    ``n_buckets`` via the engine-portable 60-bit md5 hash; each anchor
    explodes to ``k`` slots whose target bucket is
    ``hash(anchor | slot) % n_buckets``; one ordinary equi-join on the
    bucket bounds candidates to pool/n_buckets per slot, and ONE
    ``min_by`` per (anchor, slot) — keyed on ``hash(anchor|slot|doc)``
    — picks the winner deterministically (stable under re-runs,
    engines, repartitioning). ``positives`` (anchor_id, pool_id) pairs
    are anti-joined out BEFORE the pick, so a known positive is never
    selected (rather than selected-then-dropped). A slot whose bucket
    is empty after exclusions yields no row — size ``n_buckets`` well
    below pool_size so buckets stay populated; stated, not hidden.

    Returns ``(anchor_id, slot, neg_id)``. Join + aggregate are both
    on bounded keys; cost is anchors·k candidates of pool/n_buckets
    each — linear in both inputs at any scale.
    """
    if k <= 0 or n_buckets <= 0:
        raise ValueError(f"k and n_buckets must be positive ({k}, {n_buckets})")
    from ..functions.hashing import portable_hash60

    pool_b = pool.select(
        F.col(pool_id).alias("neg_id"),
        (
            portable_hash60(F.col(pool_id).cast("string"))
            % F.lit(n_buckets)
        ).alias("__b"),
    )
    slots = anchors.select(
        F.col(anchor_id),
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("slot"),
    ).select(
        anchor_id,
        "slot",
        (
            portable_hash60(
                F.concat_ws("|", F.col(anchor_id).cast("string"), F.col("slot").cast("string"))
            )
            % F.lit(n_buckets)
        ).alias("__b"),
    )
    cand = slots.join(pool_b, "__b").drop("__b")
    if positives is not None:
        pos = positives.select(
            F.col(anchor_id), F.col(pool_id).alias("neg_id")
        )
        cand = cand.join(pos, [anchor_id, "neg_id"], "left_anti")
    pick_key = portable_hash60(
        F.concat_ws(
            "|",
            F.col(anchor_id).cast("string"),
            F.col("slot").cast("string"),
            F.col("neg_id").cast("string"),
        )
    )
    return (
        cand.withColumn("__pk", pick_key)
        .groupBy(anchor_id, "slot")
        .agg(F.min_by("neg_id", "__pk").alias("neg_id"))
    )


def weighted_percentiles(
    df: DataFrame,
    group_cols: list,
    value_col: str,
    weight_col: str,
    percentiles: list,
    tiebreak_col: str | None = None,
    range_buckets: int | None = None,
) -> DataFrame:
    """EXACT weighted percentiles per group, ALL from one sorted frame:
    for each ``(out_name, p_num, p_den)`` in ``percentiles``, the
    smallest value whose running weight reaches ``p_num/p_den`` of the
    group's total — the statistic importance-weighted corpora need (an
    unweighted median over upsampled documents answers the wrong
    question).

    Each percentile is a RATIONAL, so every boundary test is one
    integer cross-multiplication — ``cum_w · p_den >= p_num · total_w``
    — and no floating-point threshold can disagree between engines.
    Weights are non-negative integers (scale decimals upstream).

    Plan (the round-11 fuse of the one-window-per-percentile shape):
    running weight and group total are window functions over the SAME
    (partition, order) spec — Spark folds same-spec frames into ONE
    Window operator — and every percentile becomes a conditional MIN
    in the single downstream aggregate. One key exchange, one sort,
    one data pass for any number of percentiles; asserted by the plan
    pin in tests/test_sampling.py. ``tiebreak_col`` makes the sort
    total when values repeat; the inflection row is value-unique
    anyway (duplicate values share the qualifying side), but a total
    order keeps plans deterministic.

    ``range_buckets`` is the PARALLELISM switch for low-cardinality
    groups (the 100-TB path): a per-group window sorts each group in
    ONE task, so 3 return-flag groups cap the whole statistic at 3
    cores however large the table. With ``range_buckets=B`` the
    classic two-level exact decomposition runs instead: per group,
    values map into B range buckets (monotonic double bucketing —
    equal values always share a bucket, bucket order follows value
    order, so exactness is unaffected); per-(group, bucket) weight
    totals prefix-sum over a tiny group×B frame; the row-level running
    weight is then windowed PER (group, bucket) — group-count ×
    B-way parallel — and offset by the bucket prefix. Identical
    results (same rational boundary test on the same global running
    weight), two scans of the input instead of one, every exchange
    linear. NULL values sort first (bucket 0) in both paths, matching
    the default-path NULLS FIRST window order.
    """
    if not percentiles:
        raise ValueError("percentiles must be non-empty")
    names = [n for n, _, _ in percentiles]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate output names in {names}")
    for name, p_num, p_den in percentiles:
        if p_den <= 0 or not 0 < p_num <= p_den:
            raise ValueError(
                f"need 0 < p_num <= p_den (got {p_num}/{p_den} for {name!r})"
            )
    if range_buckets is not None:
        if range_buckets < 1:
            raise ValueError(
                f"range_buckets must be >= 1, got {range_buckets}"
            )
        return _weighted_percentiles_bucketed(
            df, group_cols, value_col, weight_col, percentiles,
            tiebreak_col, range_buckets,
        )
    order = [F.col(value_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(*group_cols).orderBy(*order)
    cum = F.sum(F.col(weight_col).cast("long")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # total via the SAME ordered spec with an unbounded frame — same
    # (partitionSpec, orderSpec) ⇒ Spark evaluates both in one Window
    # operator (a partition-only spec would add a second one)
    tot = F.sum(F.col(weight_col).cast("long")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    marked = df.select(
        *group_cols,
        F.col(value_col).alias("__v"),
        cum.alias("__cum"),
        tot.alias("__tot"),
    )
    return marked.groupBy(*group_cols).agg(
        *[
            F.min(
                F.when(
                    F.col("__cum") * F.lit(p_den)
                    >= F.lit(p_num) * F.col("__tot"),
                    F.col("__v"),
                )
            ).alias(name)
            for name, p_num, p_den in percentiles
        ]
    )


def _weighted_percentiles_bucketed(
    df: DataFrame,
    group_cols: list,
    value_col: str,
    weight_col: str,
    percentiles: list,
    tiebreak_col: str | None,
    range_buckets: int,
) -> DataFrame:
    """The two-level exact path of :func:`weighted_percentiles` (see
    its docstring for the contract): bucket prefix sums + per-(group,
    bucket) running weights reconstruct the global running weight with
    group×B-way parallelism."""
    v = F.col(value_col)
    w = F.col(weight_col).cast("long")
    vd = v.cast("double")
    mm = df.groupBy(*group_cols).agg(
        F.min(vd).alias("__lo"),
        F.max(vd).alias("__hi"),
        F.sum(w).alias("__tot"),
    )
    base = df.join(F.broadcast(mm), list(group_cols))
    span = F.col("__hi") - F.col("__lo")
    bucket = (
        F.when(v.isNull(), F.lit(0))  # NULLS FIRST, as the window path
        .when(span <= 0, F.lit(1))
        .otherwise(
            F.least(
                F.lit(range_buckets),
                (F.floor((vd - F.col("__lo")) / span * range_buckets) + 1)
                .cast("int"),
            )
        )
    )
    based = base.withColumn("__bkt", bucket)
    btot = based.groupBy(*group_cols, "__bkt").agg(F.sum(w).alias("__bw"))
    wb = Window.partitionBy(*group_cols).orderBy("__bkt")
    prefix = btot.withColumn(
        "__prefix",
        F.coalesce(
            F.sum("__bw").over(
                wb.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select(*group_cols, "__bkt", "__prefix")
    order = [v] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    win = Window.partitionBy(*group_cols, "__bkt").orderBy(*order)
    marked = (
        based.join(F.broadcast(prefix), [*group_cols, "__bkt"])
        .withColumn(
            "__cum",
            F.col("__prefix")
            + F.sum(w).over(
                win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return marked.groupBy(*group_cols).agg(
        *[
            F.min(
                F.when(
                    F.col("__cum") * F.lit(p_den)
                    >= F.lit(p_num) * F.col("__tot"),
                    v,
                )
            ).alias(name)
            for name, p_num, p_den in percentiles
        ]
    )


def weighted_percentile(
    df: DataFrame,
    group_cols: list,
    value_col: str,
    weight_col: str,
    p_num: int,
    p_den: int,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Single-percentile convenience wrapper over
    :func:`weighted_percentiles` (column ``weighted_percentile``)."""
    return weighted_percentiles(
        df,
        group_cols,
        value_col,
        weight_col,
        [("weighted_percentile", p_num, p_den)],
        tiebreak_col=tiebreak_col,
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    seed: str = "epoch0",
    shards: int = 8,
) -> DataFrame:
    """Deterministic global corpus shuffle for training-order epochs:
    every row gets a uniform 60-bit portable hash of ``seed‖id``, the
    hash RANGE is cut into ``shards`` contiguous bands, and rows are
    ranked within their shard — so ``(shard, position)`` is a total,
    seed-keyed global permutation of the corpus, and writing shard s
    as output file s yields globally shuffled epoch shards WITHOUT a
    single global sort. Changing ``seed`` reshuffles the whole corpus;
    the same seed replays the identical order on any partitioning of
    the input (no RNG, no zipWithIndex order dependence — the two
    standard ways epoch shuffles go non-reproducible).

    Plan shape at 100 TB: hashes are uniform, so the contiguous bands
    are balanced by construction (no skew possible regardless of how
    skewed the DATA keys are — the band key is the hash itself); one
    exchange on the shard band + one within-shard sort, each shard one
    task's sort — size shards so corpus/shards fits a task (the same
    discipline as any range-partitioned write). Returns the input
    columns + ``shard`` + ``position`` (1-based within shard).

    Engine-portable: hash = ``portable_hash60`` (md5-derived), band
    arithmetic is integer DIV — a SQL oracle replays the permutation
    bit-for-bit.
    """
    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")
    from ..functions.hashing import portable_hash60

    h = portable_hash60(
        F.concat(F.lit(seed), F.col(id_col).cast("string"))
    )
    width = (1 << 60) // shards
    out = df.withColumn("__h", h).withColumn(
        "shard",
        F.least(
            F.floor(F.col("__h") / F.lit(width)).cast("int"),
            F.lit(shards - 1),
        ),
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    return out.withColumn("position", F.row_number().over(w)).drop("__h")


def rank_fusion(
    df: DataFrame,
    id_col: str,
    score_cols: Sequence[str],
    bucket_width: int | dict = 100,
    sum_bucket_width: int = 100,
) -> DataFrame:
    """Multi-signal rank fusion for data curation — the ensemble form
    of quality filtering (DataComp/FineWeb-Edu-style recipes combine
    several imperfect signals; averaging RANKS instead of raw scores
    needs no cross-signal calibration, the same reason retrieval uses
    RRF): each score column is converted to its exact global rank
    (best = 1, ``score DESC, id ASC``), ranks are summed, and the sum
    is ranked again — ``fused_rank`` is the curation order, feeding
    :func:`token_budget_select` / :func:`exact_global_rank` phases
    downstream.

    Every ranking uses :func:`exact_global_rank`'s bucket
    decomposition, so NOTHING here pays a global sort: per signal one
    tiny bucket-frame window + bucket-parallel row_numbers, then the
    same over the (dense, [len(cols), len(cols)·N]) rank sum.
    ``bucket_width`` may be a dict keyed by score column — size each
    signal's buckets to its value range (the bucket frame is bounded
    by range/width). All ranks int64-exact; rows with a NULL in ANY
    signal are EXCLUDED (rank semantics — :func:`exact_global_rank`'s
    NULL posture, applied conjunctively).

    Returns the input scores + ``rank_<col>`` per signal +
    ``rank_sum`` + ``fused_rank``."""
    if not score_cols:
        raise ValueError("rank_fusion requires at least one score column")
    widths = (
        bucket_width
        if isinstance(bucket_width, dict)
        else {s: bucket_width for s in score_cols}
    )
    # round-14 shape: every ranking CHAINS over one flowing frame via
    # exact_global_rank's carry_cols (each ranking = one persisted slim
    # projection + a broadcast bucket-offset join + a bucket-parallel
    # window) — the previous form joined each rank frame back to the
    # scores by id, paying a full-width sort-merge join per signal plus
    # one for the fused rank (measured r14: 4 SMJs, 544 Exchange
    # nodes). NULL exclusion stays conjunctive and ORDER-DEPENDENT
    # exactly as before: signal k's ranks are computed over rows whose
    # signals 1..k are all non-NULL (exact_global_rank drops NULL order
    # values from the flowing frame at each step).
    fused = df.select(F.col(id_col), *[F.col(s) for s in score_cols])
    carry = [str(s) for s in score_cols]
    for s in score_cols:
        fused = (
            exact_global_rank(
                fused.withColumn("__neg", -F.col(s).cast("long")),
                "__neg",
                id_col,
                bucket_width=widths.get(s, 100),
                carry_cols=carry,
            )
            .withColumnRenamed("global_rank", f"rank_{s}")
            .drop("__neg")
        )
        carry.append(f"rank_{s}")
    total = F.col(f"rank_{score_cols[0]}")
    for s in score_cols[1:]:
        total = total + F.col(f"rank_{s}")
    fused = fused.withColumn("rank_sum", total.cast("long"))
    # "rank_sum" is the final call's ORDER column (returned by name), so
    # it must not also ride carry_cols — that would duplicate the name
    return (
        exact_global_rank(
            fused,
            "rank_sum",
            id_col,
            bucket_width=sum_bucket_width,
            carry_cols=carry,
        )
        .withColumnRenamed("global_rank", "fused_rank")
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry],
            F.col("rank_sum"),
            F.col("fused_rank"),
        )
    )


def unimax_allocation(
    df: DataFrame,
    group_col: str,
    tokens_col: str,
    budget_num: int = 1,
    budget_den: int = 2,
    max_epochs: int = 4,
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): split a total training-token budget across groups
    (languages / sources) as UNIFORMLY as possible subject to a
    per-group epoch cap — no group is repeated more than ``max_epochs``
    times, and budget a capped group can't absorb waterfills into the
    still-uncapped ones. The budget is ``total_tokens · num/den``
    (derived from the corpus itself, like :func:`token_budget_select`).

    The waterfill has a closed form over the caps sorted ascending:
    group k (1-based, ties by group name) is capped iff
    ``cap_k · (L−k+1) ≤ B − S_{k−1}`` (its cap fits the uniform share
    of what's left) — a PREFIX property (if group k fits, every
    smaller-cap group fits its own step), so one cumulative window
    over the GROUP frame decides every group, no iteration. Uncapped
    groups split the residual exactly: ``share = (B − S_K) div U``
    with the ``mod U`` remainder handed one token each to the
    smallest-cap uncapped groups — all int64 (caps ≤ 2^63/L for the
    fit test; fine through 10^12-token groups × 10^4 languages), so
    the allocation is bit-identical on any engine.

    Plan: one map-side-combined per-group token sum; every window runs
    over the GROUP frame (bounded by language cardinality, never
    corpus volume). Returns ``(group, n_tokens, cap_tokens, capped,
    alloc_tokens, epochs_micro)`` — ``epochs_micro`` is the realized
    epoch count ×10⁶, the number actually fed to a sampler.
    """
    if max_epochs < 1:
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")
    counts = df.groupBy(group_col).agg(
        F.sum(F.col(tokens_col).cast("long")).alias("n_tokens")
    )
    g = counts.withColumn(
        "cap_tokens", F.col("n_tokens") * F.lit(max_epochs)
    )
    wo = Window.orderBy(F.col("cap_tokens").asc(), F.col(group_col).asc())
    g = g.withColumn("__k", F.row_number().over(wo)).withColumn(
        "__s_before",
        F.coalesce(
            F.sum("cap_tokens").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("__L"),
        F.expr(
            f"(sum(n_tokens) * {budget_num}) div {budget_den}"
        ).alias("__B"),
    )
    g = g.crossJoin(F.broadcast(tot)).withColumn(
        "capped",
        F.col("cap_tokens") * (F.col("__L") - F.col("__k") + 1)
        <= F.col("__B") - F.col("__s_before"),
    )
    # whole-frame totals over the SAME order spec as the rank window —
    # shares the one group-frame sort, no extra exchange. (NB: column
    # names must not collide case-insensitively with __k — Spark
    # resolves withColumn names case-insensitively.)
    wall = wo.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    g = g.withColumn(
        "__ncap",
        F.sum(F.when(F.col("capped"), 1).otherwise(0)).over(wall).cast("long"),
    ).withColumn(
        "__sumcap",
        F.sum(F.when(F.col("capped"), F.col("cap_tokens")).otherwise(0)).over(
            wall
        ),
    )
    u = F.col("__L") - F.col("__ncap")
    share = F.expr("(__B - __sumcap) div (__L - __ncap)")
    rem = F.expr("pmod(__B - __sumcap, __L - __ncap)")
    alloc = F.when(F.col("capped"), F.col("cap_tokens")).otherwise(
        share
        + F.when(F.col("__k") - F.col("__ncap") <= rem, F.lit(1)).otherwise(
            F.lit(0)
        )
    )
    out = g.withColumn(
        "alloc_tokens",
        F.when(u == 0, F.col("cap_tokens")).otherwise(alloc).cast("long"),
    )
    return out.select(
        F.col(group_col),
        "n_tokens",
        "cap_tokens",
        "capped",
        "alloc_tokens",
        F.when(
            F.col("n_tokens") > 0,
            F.expr("(alloc_tokens * 1000000) div n_tokens"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("epochs_micro"),
    )


def token_budget_select(
    df: DataFrame,
    score_col: str,
    tokens_col: str,
    id_col: str,
    budget_num: int = 3,
    budget_den: int = 10,
    bucket_width: int = 100,
    max_bucket_frac: float = 0.5,
    guard_min_rows: int = 1_000_000,
) -> DataFrame:
    """Budget-constrained selection — "keep the best-scoring documents
    until the token budget is spent", the final gate of a pretraining
    data pipeline (a quality-ranked corpus rarely fits the compute
    budget; FineWeb/DCLM-style recipes cut at a token count, not a doc
    count). Documents are taken in (score DESC, id ASC) order while the
    running token sum stays within ``budget = total_tokens·num/den``;
    the budget is derived from the corpus itself so the operator is
    self-contained and rerun-stable.

    The naive form is a GLOBAL sort + running-sum window — one
    partition over the whole corpus, the canonical scale killer.
    Instead: scores are floor-bucketed at ``bucket_width`` (exact
    engine-portable floor division via the positive-mod identity —
    ``div`` truncates toward zero and would split negative scores
    asymmetrically); per-bucket token sums aggregate map-side into a
    frame bounded by the SCORE RANGE, not the corpus; one tiny window
    over that frame finds the cumulative spend and the single BOUNDARY
    bucket; buckets above it keep wholly, below drop wholly, and only
    the boundary bucket's own rows pay a (score, id)-ordered running
    sum — a window over one bucket's rows, bounded by corpus density
    at one score stratum. ``bucket_width`` trades the bucket-frame
    size against the boundary window's width.

    All arithmetic is int64 (token counts, truncating budget division)
    and the bucket index is computed with INTEGER ``div`` over an exact
    multiple of ``bucket_width`` (never a float divide — a double round
    trip would misbucket magnitudes above 2^53), so keep decisions are
    bit-identical on any engine at the full int64 range. Rows whose
    score or token count is NULL carry no rank/budget information:
    they are returned with ``keep = false`` (never silently dropped —
    a NULL bucket key would vanish in the inner equi-join) and they do
    not consume budget. Ties inside the boundary bucket break by id; a
    budget larger than the corpus keeps everything.

    Degenerate-bucket guard (same in-plan posture as the cap_per_host
    verifier): if the corpus has at least ``guard_min_rows`` non-NULL
    rows and a single bucket holds more than ``max_bucket_frac`` of
    them, the decomposition has silently re-created the
    single-partition sort it exists to avoid — an ``assert_true``
    riding the tiny bucket frame hard-fails with the offending bucket
    instead of quietly serializing (a near-constant score column
    cannot be parallelized by ANY width; a merely-coarse one wants a
    narrower ``bucket_width``). Returns ``(id, score, n_tokens,
    keep)``.
    """
    w = bucket_width
    # persist the slim (id, score, tokens) projection: its subtree is
    # the CALLER's arbitrary upstream pipeline (e.g. the hashed-linear
    # text scorer), and three branches consume it (NULL passthrough,
    # bucket stats, keep-tagging join) — unpersisted, Spark recomputes
    # the upstream per branch (guide §1.2/§5: don't compute things
    # twice; measured r14: the sample_token_budget_select plan carried
    # 8 parquet scans of documents for one logical pass)
    raw = scoped_persist(df.select(
        F.col(id_col),
        F.col(score_col).cast("long").alias("__score"),
        F.col(tokens_col).cast("long").alias("__tok"),
    ))
    null_rows = raw.filter(
        F.col("__score").isNull() | F.col("__tok").isNull()
    ).select(
        F.col(id_col),
        F.col("__score").alias("score"),
        F.col("__tok").alias("n_tokens"),
        F.lit(False).alias("keep"),
    )
    base = raw.filter(
        F.col("__score").isNotNull() & F.col("__tok").isNotNull()
    ).withColumn(
        "__bkt", F.expr(f"(__score - pmod(__score, {w})) div {w}")
    )
    pb = base.groupBy("__bkt").agg(
        F.sum("__tok").alias("__btok"), F.count(F.lit(1)).alias("__bn")
    )
    wb = (
        Window.orderBy(F.col("__bkt").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cb = pb.withColumn("__cum_before", F.coalesce(F.sum("__btok").over(wb), F.lit(0)))
    # the corpus total is the bucket-sum total — derived from the tiny
    # pb frame so the corpus is scanned once for stats, once to tag
    tot = pb.agg(
        F.expr(f"(sum(__btok) * {budget_num}) div {budget_den}").alias("__budget"),
        F.sum("__bn").alias("__nrows"),
    )
    guard_ok = (F.col("__nrows") < F.lit(guard_min_rows)) | (
        F.col("__bn").cast("double")
        <= F.lit(max_bucket_frac) * F.col("__nrows").cast("double")
    )
    guard_msg = F.concat(
        F.lit("token_budget_select: bucket "),
        F.col("__bkt").cast("string"),
        F.lit(" holds "),
        F.col("__bn").cast("string"),
        F.lit(" of "),
        F.col("__nrows").cast("string"),
        F.lit(
            f" rows (> {max_bucket_frac:g}) — the boundary window would"
            f" serialize; use a narrower bucket_width than {w} (a"
            " near-constant score column cannot be bucket-parallelized)"
        ),
    )
    flags = (
        cb.crossJoin(F.broadcast(tot))
        .filter(
            F.coalesce(
                F.assert_true(guard_ok, guard_msg).cast("boolean"),
                F.lit(True),
            )
        )
        .select(
            "__bkt",
            "__cum_before",
            "__budget",
            (F.col("__cum_before") + F.col("__btok") <= F.col("__budget")).alias(
                "__full_keep"
            ),
            (
                (F.col("__cum_before") < F.col("__budget"))
                & (F.col("__cum_before") + F.col("__btok") > F.col("__budget"))
            ).alias("__boundary"),
        )
    )
    wr = Window.partitionBy("__bkt").orderBy(
        F.col("__score").desc(), F.col(id_col).asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    kept = (
        base.join(F.broadcast(flags), "__bkt")
        .withColumn("__run", F.sum("__tok").over(wr))
        .select(
            F.col(id_col),
            F.col("__score").alias("score"),
            F.col("__tok").alias("n_tokens"),
            (
                F.col("__full_keep")
                | (
                    F.col("__boundary")
                    & (F.col("__cum_before") + F.col("__run") <= F.col("__budget"))
                )
            ).alias("keep"),
        )
    )
    return kept.unionByName(null_rows)


def exact_global_rank(
    df: DataFrame,
    order_col: str,
    id_col: str,
    bucket_width: int = 100,
    phases: int = 0,
    max_bucket_frac: float = 0.5,
    guard_min_rows: int = 1_000_000,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """EXACT global rank under the total order ``(order_col ASC, id
    ASC)`` — the scalable form of ``ROW_NUMBER() OVER (ORDER BY …)``,
    which Spark executes as a single-partition window (the canonical
    scale killer this module keeps designing around). Same decomposition
    as :func:`token_budget_select`: floor-bucket the order column (the
    positive-mod identity keeps negative values exact), count per
    bucket map-side, ONE tiny cumulative window over the bucket frame
    (bounded by the VALUE RANGE, not the corpus) yields each bucket's
    global offset, and a per-bucket ``row_number`` — a window
    PARTITIONED by bucket, parallel across buckets — lands every row at
    ``offset + within-bucket position``. Bit-exact equal to the naive
    global window at any partitioning.

    With ``phases > 0`` also emits the curriculum phase — EXACTLY SQL
    ``NTILE(phases)`` over the same order, via the standard boundary
    closed form (``q = N div phases``, ``r = N mod phases``; the first
    ``r`` tiles take ``q+1`` rows, the rest ``q``) — without the
    global sort; the curriculum-training primitive (order training
    easy→hard by a difficulty score, then shuffle WITHIN each phase
    with :func:`epoch_shuffle`, whose seed-keyed hash needs no rank at
    all).

    The bucket index is INTEGER ``div`` over an exact multiple of
    ``bucket_width`` (a float divide would misbucket above 2^53). Rows
    whose order value is NULL are EXCLUDED — NULL carries no position
    in the total order (and a NULL bucket key would both vanish from
    the equi-join and sort first in the bucket frame, shifting every
    offset); ranks over the non-NULL rows stay dense from 1. The same
    degenerate-bucket guard as :func:`token_budget_select` hard-fails
    in-plan when one bucket exceeds ``max_bucket_frac`` of at least
    ``guard_min_rows`` rows, instead of silently re-creating the
    single-partition sort.

    ``carry_cols`` names input columns to thread through unchanged —
    the chaining hook :func:`rank_fusion` uses so consecutive rankings
    flow over ONE frame (broadcast bucket-offset joins only) instead of
    each ranking being joined back to the scores by id (round 14: the
    join-back form paid one full-width sort-merge join per signal).
    Deliberate trade (round-14 verdict #3): every carried column rides
    the persisted projection AND the per-bucket window's exchange, so
    the shuffled width grows LINEARLY in ``len(carry_cols)`` — with k
    chained signals that is k+N extra long columns per row. At ~5
    signals this still beats one full-width sort-merge join per signal;
    re-derive that break-even before carrying wide payloads. Carry
    names must not collide with the operator's own inputs/outputs
    (checked below — a silent duplicate would make downstream column
    references ambiguous).

    Returns ``(id, order_col, global_rank[, phase][, *carry_cols])``."""
    carry_cols = [str(c) for c in carry_cols]
    reserved = {id_col, order_col, "global_rank", "__ord", "__bkt"}
    if phases > 0:
        reserved.add("phase")
    bad = reserved.intersection(carry_cols)
    if bad or len(set(carry_cols)) != len(carry_cols):
        raise ValueError(
            "exact_global_rank: carry_cols must be unique and disjoint "
            f"from {sorted(reserved)}; got {list(carry_cols)}"
        )
    w = bucket_width
    # persist the slim (id, ord, bkt) projection — same rationale as
    # token_budget_select: the bucket-count branch, the total, and the
    # rank-tagging join would otherwise each recompute the caller's
    # upstream subtree (rank_fusion feeds whole text pipelines here)
    base = scoped_persist(df.select(
        F.col(id_col), F.col(order_col).cast("long").alias("__ord"),
        *[F.col(c) for c in carry_cols],
    ).filter(F.col("__ord").isNotNull()).withColumn(
        "__bkt", F.expr(f"(__ord - pmod(__ord, {w})) div {w}")
    ))
    pb = base.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__bn"))
    wb = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    tot = pb.agg(F.sum("__bn").alias("__n"))
    guard_ok = (F.col("__n") < F.lit(guard_min_rows)) | (
        F.col("__bn").cast("double")
        <= F.lit(max_bucket_frac) * F.col("__n").cast("double")
    )
    guard_msg = F.concat(
        F.lit("exact_global_rank: bucket "),
        F.col("__bkt").cast("string"),
        F.lit(" holds "),
        F.col("__bn").cast("string"),
        F.lit(" of "),
        F.col("__n").cast("string"),
        F.lit(
            f" rows (> {max_bucket_frac:g}) — the per-bucket window"
            f" would serialize; use a narrower bucket_width than {w} (a"
            " near-constant order column cannot be bucket-parallelized)"
        ),
    )
    cb = (
        pb.crossJoin(F.broadcast(tot))
        .filter(
            F.coalesce(
                F.assert_true(guard_ok, guard_msg).cast("boolean"),
                F.lit(True),
            )
        )
        .select(
            "__bkt",
            F.coalesce(F.sum("__bn").over(wb), F.lit(0)).alias("__offset"),
        )
    )
    wr = Window.partitionBy("__bkt").orderBy(
        F.col("__ord").asc(), F.col(id_col).asc()
    )
    ranked = (
        base.join(F.broadcast(cb), "__bkt")
        .withColumn("global_rank", F.col("__offset") + F.row_number().over(wr))
    )
    cols = [F.col(id_col), F.col("__ord").alias(order_col), F.col("global_rank")]
    cols.extend(F.col(c) for c in carry_cols)
    if phases > 0:
        # SQL NTILE boundary form; greatest(q,1) keeps the unreached
        # q=0 branch from dividing by zero under ANSI mode
        ranked = (
            ranked.crossJoin(F.broadcast(tot))
            .withColumn("__q", F.expr(f"__n div {phases}"))
            .withColumn("__r", F.expr(f"pmod(__n, {phases})"))
            .withColumn(
                "phase",
                F.when(
                    F.col("global_rank") <= F.col("__r") * (F.col("__q") + 1),
                    F.expr("(global_rank - 1) div (__q + 1)") + F.lit(1),
                ).otherwise(
                    F.col("__r")
                    + F.lit(1)
                    + F.expr(
                        "(global_rank - __r * (__q + 1) - 1)"
                        " div greatest(__q, 1L)"
                    )
                ),
            )
        )
        cols.append(F.col("phase"))
    return ranked.select(*cols)
