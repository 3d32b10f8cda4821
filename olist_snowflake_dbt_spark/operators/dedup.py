"""Deduplication operators for large-scale training-data pipelines.

Six strategies, all shuffle-frugal and UDF-free:

- :func:`exact_dedup`            — hash-groupBy on a normalized fingerprint;
                                   one shuffle on the 128-bit hash.
- :func:`ngram_jaccard_pairs`    — exact n-gram Jaccard via shingle
                                   inverted index (explode → self-join on
                                   shingle → count ∩ / ∪).
- :func:`minhash_lsh_pairs`      — MinHash signatures + LSH banding;
                                   candidates only where a band collides,
                                   then signature-level verify. The scale
                                   path: cost ∝ documents + collisions,
                                   never O(n²).
- :func:`simhash_pairs`          — 60-bit SimHash + banded Hamming join.
- :func:`winnow_pairs`           — winnowed rolling-hash fingerprints
                                   (MOSS); the sparse fingerprint path.
- :func:`embedding_cosine_pairs` — near-dup by embedding cosine ≥ τ
                                   (LSH-bucketed variant in similarity.py).

Each pair-producer emits (id_a, id_b, score) with id_a < id_b; the
``*_dedup`` wrappers reduce pairs to a keep/drop decision (keep the
smallest id of each connected component's star — single-linkage via the
smaller-id representative, one extra groupBy).

At 100 TB: exact dedup is one shuffle of (hash, id); MinHash-LSH shuffles
(band_key, id) — band keys are uniform md5-derived values so no skew; the
pair-verify join only touches colliding buckets. A hot bucket (e.g.
boilerplate-heavy shingle sets) is capped with ``max_bucket`` to bound
worst-case blow-up, trading recall for a hard cost ceiling — the standard
web-dedup compromise, and it is logged, not silent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    _M61 as HASH_MOD,
    hamming64,
    lsh_band_keys_portable,
    md5_part60,
    minhash_components,
    pack_sign_bits,
    portable_hash60,
    signature_jaccard,
    simhash_band_keys,
    simhash_bit_sums,
)
from ..functions.text import (
    fingerprint,
    shingle_hashes_from_words,
    shingle_strings_from_words,
    words,
)
from ._cache import scoped_persist


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(__id, __shingles): distinct n-word shingle hashes per document.
    Two projection steps on purpose — the word array must be a bound
    attribute before the shingle lambda references it (see
    functions.text.shingle_hashes_from_words)."""
    return df.select(
        F.col(id_col).alias("__id"), words(text_col).alias("__ws")
    ).select(
        "__id", shingle_hashes_from_words(F.col("__ws"), n).alias("__shingles")
    )


# -- exact ------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per normalized-text fingerprint (the smallest id —
    deterministic). Returns the surviving rows of ``df``."""
    fp = df.withColumn("__fp", fingerprint(text_col))
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (
        fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


# -- exact n-gram Jaccard --------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold.

    Inverted-index self-join: explode distinct shingles, join on shingle,
    count shared shingles per pair, Jaccard = ∩ / (|A|+|B|-∩). Exact but
    O(sum of bucket²) in the worst case — the oracle/verify path; use
    minhash_lsh_pairs at corpus scale.

    ``max_doc_freq`` is the skew guard for zipfian corpora: a shingle
    present in more than that many documents (boilerplate headers, license
    blurbs) is dropped from the index BEFORE the self-join, bounding every
    index bucket — and therefore the largest join task — at
    ``max_doc_freq`` rows. Per-document sizes are recomputed over the
    surviving shingle universe, so the score stays an exact Jaccard over
    non-ubiquitous shingles (the quantity web-dedup actually wants:
    ubiquitous shingles carry no similarity signal, only quadratic cost).
    The hot set is tiny by construction (few shingles exceed the cap), so
    it broadcasts. Default ``None`` = fully exact — the oracle path.

    The join key is xxhash64(shingle), not the shingle string: the
    shuffle moves 8-byte longs instead of ~20-byte strings and the join
    compares longs — at 100 TB that halves shuffle volume on the one
    O(corpus) exchange this operator has. (64-bit collisions are
    vanishingly rare and could only nudge one pair's intersection count
    by 1.)"""
    sh = _shingled(df, text_col, id_col, n).withColumn("__n", F.size("__shingles"))
    exploded = sh.select("__id", "__n", F.explode_outer("__shingles").alias("__s")).filter(
        F.col("__s").isNotNull()
    )
    if max_doc_freq is not None:
        hot = (
            exploded.groupBy("__s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_doc_freq)
            .select("__s")
        )
        exploded = exploded.join(F.broadcast(hot), "__s", "left_anti")
        sizes = exploded.groupBy("__id").agg(F.count(F.lit(1)).alias("__n2"))
        exploded = (
            exploded.drop("__n")
            .join(sizes, "__id")
            .withColumnRenamed("__n2", "__n")
            .select("__id", "__n", "__s")
        )
    # the inverted index feeds BOTH sides of the self-join; materialize it
    # once instead of re-shingling the corpus per side (MEMORY_AND_DISK,
    # so at cluster scale an oversized index spills instead of OOMing)
    exploded = scoped_persist(exploded)
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.__s") == F.col("b.__s")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"),
                 F.col("a.__n").alias("n_a"), F.col("b.__n").alias("n_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT all-pairs Jaccard ≥ threshold via PREFIX FILTERING — the
    lossless accelerator for the exact path (Chaudhuri, Ganti &
    Kaushik, ICDE 2006 "A Primitive Operator for Similarity Joins";
    the prefix principle behind PPJoin, Xiao et al. WWW 2008 — public
    knowledge, implemented natively).

    The principle: order every document's shingles by a single global
    canonical total order (ascending document frequency, ties by
    token — rarest first). If ``J(A,B) ≥ t`` then A and B MUST share
    at least one token among each one's first ``|d| − ⌈t·|d|⌉ + 1``
    tokens (else even perfect overlap of the remainders is too small).
    So indexing ONLY those prefixes loses no qualifying pair, and the
    self-join runs over a fraction of the index — with the rarest
    tokens deliberately in the prefixes, bucket sizes collapse.
    Ubiquitous boilerplate shingles (max df) sort to the SUFFIX and
    never enter the index at all: the lossless version of what
    ``ngram_jaccard_pairs(max_doc_freq=...)`` does by fiat, and the
    direct answer to the exact path's measured quadratic candidate
    exchange (SCALE.md round-11 adjudication).

    Candidates verify with the full shingle sets (array_intersect in
    codegen) and the output — pairs AND scores — is identical to
    :func:`ngram_jaccard_pairs` at the same threshold (tested).

    Plan: shingle scan → FLAT inverted index (__id, __n, __s) persisted
    once (the only cache). The previous shape — ``filter(size(
    __shingles) > 0)`` over the array frame — cost 11 s of an 11.3 s
    sf0.1 wall: predicate pushdown inlines the ENTIRE interpreted-HOF
    shingle expression into the filter predicate, where every lambda
    reference re-evaluates the words regex (5 inlined copies per row,
    measured; the optimized plan shows regexp_extract_all nested five
    times inside the Filter). Filtering ``__s IS NOT NULL`` after the
    explode keeps the expensive expression evaluated once, behind the
    Generate. Then: df aggregate → rank join (both linear, on
    the 8-byte hash) → per-doc prefix window (one id exchange) →
    PREFIX-sized self-join with the lossless LENGTH filter
    (min(|A|,|B|) ≥ t·max, Xiao et al. WWW 2008 §3 — round 12) folded
    into the join condition → 16-byte pair dedup → exact verify as a
    flat count join (candidates × index on (id, shingle) — no
    array_intersect, no array shuffle). Every exchange linear; the one
    quadratic-prone leg (the self-join) sees only rare-token buckets,
    and size-skewed matches die inside the join before the dedup and
    verify stages pay for them.

    HONEST CONSTANT (measured, SCALING.json): the df aggregate + rank
    join + prefix window are two extra LINEAR passes over the full
    index that :func:`ngram_jaccard_pairs` does not pay, so on
    short-document corpora (tens of shingles/doc) with moderate
    duplication the plain inverted-index join is faster in wall time
    — the prefix filter wins where its candidate reduction dominates:
    long documents, near-dup thresholds (t ≥ 0.8 ⇒ prefix ≈
    (1−t)·|d|), and boilerplate-heavy corpora whose hot buckets it
    collapses losslessly (tests/test_dedup_skew.py pins that collapse).
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh = _shingled(df, text_col, id_col, n).withColumn(
        "__n", F.size("__shingles")
    )
    ex = scoped_persist(
        sh.select("__id", "__n", F.explode_outer("__shingles").alias("__s"))
        .filter(F.col("__s").isNotNull())
    )
    dfreq = ex.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy("__df", "__s")
    plen = F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    prefix = (
        ex.join(dfreq, "__s")
        .withColumn("__pos", F.row_number().over(w))
        .filter(F.col("__pos") <= plen)
        .select("__id", "__n", "__s")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # LENGTH FILTER (Xiao et al. WWW 2008 §3, lossless companion of the
    # prefix filter): J(A,B) >= t forces min(|A|,|B|)/max(|A|,|B|) >= t
    # (even a full containment can't reach t otherwise), so size-skewed
    # pairs are pruned INSIDE the self-join, before the pair dedup and
    # the full-set verify joins ever see them. The float compare is
    # lossless: t*max rounds to a representable <= min whenever the
    # true product is (min is an exact integer double).
    cand = (
        a.join(
            b,
            (F.col("a.__s") == F.col("b.__s"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (
                F.least(F.col("a.__n"), F.col("b.__n")).cast("double")
                >= F.lit(threshold)
                * F.greatest(F.col("a.__n"), F.col("b.__n")).cast("double")
            ),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__n").alias("n_a"),
            F.col("b.__n").alias("n_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact verify over the FLAT index: per candidate pair, count the
    # shared shingles by joining the pair list back to the index on
    # each side — primitives-only exchanges, no array columns shuffle
    ea = ex.select(F.col("__id").alias("id_a"), "__s")
    eb = ex.select(F.col("__id").alias("id_b"), "__s")
    return (
        cand.join(ea, "id_a")
        .join(eb, ["id_b", "__s"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("__common"))
        .withColumn(
            "jaccard",
            F.col("__common")
            / (F.col("n_a") + F.col("n_b") - F.col("__common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """All pairs with shingle containment |A∩B| / min(|A|,|B|) ≥
    threshold — the asymmetric cousin of Jaccard that catches a short
    document embedded in a longer one (quotes, boilerplate wrappers,
    near-supersets), which symmetric Jaccard under-scores: a 50-shingle
    doc fully contained in a 500-shingle doc has Jaccard 0.1 but
    containment 1.0. Same inverted-index plan shape (and cost) as
    :func:`ngram_jaccard_pairs`."""
    sh = _shingled(df, text_col, id_col, n).withColumn("__n", F.size("__shingles"))
    exploded = sh.select(
        "__id", "__n", F.explode_outer("__shingles").alias("__s")
    ).filter(F.col("__s").isNotNull())
    exploded = scoped_persist(exploded)
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.__s") == F.col("b.__s")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"),
                 F.col("a.__n").alias("n_a"), F.col("b.__n").alias("n_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.withColumn(
            "containment", F.col("n_common") / F.least("n_a", "n_b")
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def containment_pairs_kmv_prescreen(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    k: int = 64,
    margin: float = 0.2,
) -> DataFrame:
    """:func:`containment_pairs` with a KMV bottom-k pre-screen (the
    round-12 theta-sketch algebra wired into candidate pruning —
    Bar-Yossef et al. 2002 k-minimum-values, public knowledge): instead
    of carrying EVERY shared shingle of every colliding pair through
    the pair exchange (|A∩B| rows per pair — unbounded), each document
    probes the inverted index with only its k SMALLEST shingle hashes.

    Why that estimates containment: the bottom-k set of a uniform hash
    is a uniform sample of the document's shingles, so for the pair's
    MIN side the fraction of its sample found in the other document is
    an unbiased estimate of |A∩B| / min(|A|,|B|) — containment itself,
    with hypergeometric error ~sqrt(c(1-c)/k) (≈0.05 at k=64).
    Candidates keep every pair whose min-side estimate clears
    ``threshold - margin`` (margin defaults to ~4 sigma), then the
    EXACT containment is recomputed for the survivors only, via two
    id-keyed joins against the per-document shingle arrays — so the
    output is exact for every emitted pair, and the estimate only
    gates which pairs pay for verification. Recall is probabilistic
    (a true pair whose estimate fell below the margin is lost —
    Chernoff-rare at k=64/margin=0.2; the planted-recall test pins it
    on fixtures), which is the standard sketch-prescreen tradeoff.

    Scale shape vs the exact operator: collision rows per pair are
    bounded by k per direction instead of |A∩B|; the sample frame is
    ≤ k rows per document whatever the document length; the exact
    verification joins move one shingle-hash array per CANDIDATE
    (candidate count ≈ true-pair count at sane margins), not per
    collision. Every exchange is equi-keyed — no cartesian anywhere.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if k < 8:
        raise ValueError(f"k must be >= 8, got {k}")
    sh = scoped_persist(
        _shingled(df, text_col, id_col, n)
        .withColumn("__n", F.size("__shingles"))
    )
    ex = sh.select(
        "__id", "__n", F.explode_outer("__shingles").alias("__s")
    ).filter(F.col("__s").isNotNull())
    # bottom-k sample per document: k smallest hashes (__shingles is
    # already distinct, so row_number over the hash order is total)
    wk = Window.partitionBy("__id").orderBy(F.col("__s").asc())
    sample = (
        ex.withColumn("__r", F.row_number().over(wk))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )
    # hint("merge") on every big join: static size ESTIMATES for the
    # cached/derived frames here are unreliable (measured: the planner
    # broadcast a multi-million-row side at sf1 — 20-30 s walls with
    # 3x run-to-run variance; forced sort-merge ran a stable 6.4 s).
    # The hint pins the static choice; AQE may still convert to
    # broadcast from REAL runtime sizes, which is the safe direction.
    p, q = sample.alias("p"), ex.hint("merge").alias("q")
    coll = (
        p.join(
            q,
            (F.col("p.__s") == F.col("q.__s"))
            & (F.col("p.__id") != F.col("q.__id")),
        )
        .groupBy(
            F.col("p.__id").alias("__pid"),
            F.col("q.__id").alias("__qid"),
            F.col("p.__n").alias("__pn"),
            F.col("q.__n").alias("__qn"),
        )
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    # keep exactly the MIN-side orientation — the direction in which
    # the sample fraction estimates containment's denominator
    cands = (
        coll.filter(
            (F.col("__pn") < F.col("__qn"))
            | (
                (F.col("__pn") == F.col("__qn"))
                & (F.col("__pid") < F.col("__qid"))
            )
        )
        .withColumn(
            "__est",
            F.col("__cnt")
            / F.least(F.lit(k).cast("bigint"), F.col("__pn")),
        )
        .filter(F.col("__est") >= threshold - margin)
        .select(
            F.least("__pid", "__qid").alias("id_a"),
            F.greatest("__pid", "__qid").alias("id_b"),
        )
    )
    # exact verification for the survivors only: two id-keyed joins
    # against the cached shingle arrays, intersection in one codegen'd
    # array_intersect — no second index pass
    a = sh.select(
        F.col("__id").alias("id_a"),
        F.col("__shingles").alias("__sa"),
        F.col("__n").alias("n_a"),
    )
    b = sh.select(
        F.col("__id").alias("id_b"),
        F.col("__shingles").alias("__sb"),
        F.col("__n").alias("n_b"),
    )
    return (
        cands.join(a.hint("merge"), "id_a")
        .join(b.hint("merge"), "id_b")
        .withColumn(
            "containment",
            F.size(F.array_intersect("__sa", "__sb"))
            / F.least("n_a", "n_b"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


# -- MinHash + LSH ----------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """The signature stage of MinHash LSH: ``(__id, __sig)`` — one row
    per document, ``__sig`` an array of ``num_hashes`` longs. Factored
    out (round 11) so the pair stage can route signatures through the
    exchanges ONCE, keyed by id, instead of once per band."""
    sh = df.select(
        F.col(id_col).alias("__id"), words(text_col).alias("__ws")
    ).select("__id", shingle_strings_from_words(F.col("__ws"), n).alias("__shingles"))
    ex = sh.select(
        "__id", F.explode_outer("__shingles").alias("__s")
    ).filter(F.col("__s").isNotNull()).withColumn(
        "__md", F.md5(F.col("__s").cast("binary"))
    ).select(
        "__id",
        F.pmod(md5_part60(F.col("__md"), 0), F.lit(HASH_MOD)).alias("__a"),
        F.pmod(md5_part60(F.col("__md"), 1), F.lit(HASH_MOD)).alias("__b"),
    )
    comps = minhash_components(F.col("__a"), F.col("__b"), num_hashes)
    return (
        ex.groupBy("__id")
        .agg(*[F.min(c).alias(f"__h{i}") for i, c in enumerate(comps, start=1)])
        .select(
            "__id",
            F.array(*[f"__h{i}" for i in range(1, num_hashes + 1)]).alias("__sig"),
        )
    )


def minhash_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """The banding stage of :func:`minhash_lsh_pairs`, exposed so tests
    can assert bucket-size bounds on the OPERATOR'S OWN buckets (the
    skew-stress suite) rather than a parallel re-derivation. Returns
    one row per (document, band): ``__id, __sig, __band``."""
    rows = bands and num_hashes // bands
    return minhash_signatures(df, text_col, id_col, n, num_hashes).select(
        "__id",
        "__sig",
        F.explode_outer(
            lsh_band_keys_portable(F.col("__sig"), bands, rows)
        ).alias("__band"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate pairs whose banded MinHash collides, verified by the
    signature-level Jaccard estimate ≥ threshold.

    Plan shape (restructured round 11 after the two-decade lane caught
    the original carrying 512-byte signatures through EVERY band
    exchange — bytes_ratio 81 at 100x data): scan → explode shingles →
    hash-aggregate per doc taking the k mins (codegen'd, map-side
    partial — ONE 64-long row per document, persisted) → explode band
    keys into a SLIM ``(band, id)`` frame (~50 B/row — signatures never
    ride the band exchanges) → drop hot buckets by broadcast LEFT ANTI
    against the ``> max_bucket`` bucket list (bounded by the SKEW
    count, never corpus-sized — the old inner join against the COLD
    list flipped from broadcast to sort-merge between decades and
    re-shuffled the signature-bearing frame) → slim self-join within
    buckets → dedup (id, id) pairs while they are 16 B rows → attach
    both signatures by id joins against the persisted signature table
    (signatures cross an exchange exactly twice, keyed by id, linear at
    any scale) → estimate+filter. ``max_bucket`` drops pathologically
    hot buckets (boilerplate; documented recall tradeoff, not silent).

    Hashing is ENGINE-PORTABLE: each shingle string is md5'd once and
    the digest's two 60-bit halves (mod p) seed the Kirsch-Mitzenmacher
    family — a DuckDB oracle recomputes the exact same signatures,
    bands, and pairs (see queries_ext dedup_minhash_lsh). Costs one md5
    per shingle in the scan stage instead of two xxhash64."""
    rows = bands and num_hashes // bands
    # sigs feed band keys AND both verify joins: persist so the
    # signature fold runs once per document
    sigs = scoped_persist(minhash_signatures(df, text_col, id_col, n, num_hashes))
    return _verified_pairs_from_sigs(sigs, bands, rows, threshold, max_bucket)


def _verified_pairs_from_sigs(
    sigs: DataFrame,
    bands: int,
    rows: int,
    threshold: float,
    max_bucket: int,
) -> DataFrame:
    """The band→candidate→verify stage shared by every signature family
    (classic k-mins MinHash and OPH): expects a PERSISTED ``(__id,
    __sig)`` frame, bands it slim, caps hot buckets, self-joins within
    buckets, and re-attaches signatures by id for the agreement-fraction
    verify (see minhash_lsh_pairs' docstring for the full plan-shape
    rationale — signatures cross an exchange exactly twice)."""
    slim = sigs.select(
        "__id",
        F.explode_outer(
            lsh_band_keys_portable(F.col("__sig"), bands, rows)
        ).alias("__band"),
    )
    hot = (
        slim.groupBy("__band")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") > max_bucket)
        .select("__band")
    )
    cold = slim.join(F.broadcast(hot), "__band", "left_anti")
    a, b = cold.alias("a"), cold.alias("b")
    cand_ids = (
        a.join(b, (F.col("a.__band") == F.col("b.__band")) & (F.col("a.__id") < F.col("b.__id")))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    cands = cand_ids.join(
        sigs.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__sig_a")),
        "id_a",
    ).join(
        sigs.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__sig_b")),
        "id_b",
    )
    return (
        cands.withColumn("est_jaccard", signature_jaccard(F.col("__sig_a"), F.col("__sig_b")))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def oph_minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_bins: int = 64,
) -> DataFrame:
    """One-permutation-hashing MinHash signatures (Li, Owen & Zhang,
    "One Permutation Hashing", NeurIPS 2012) with rotation densification
    (Shrivastava & Li, "Improved Densification of One Permutation
    Hashing", UAI 2014): ONE hash evaluation per shingle total — the
    digest's first 60-bit half (mod ``num_bins``) picks the bin, the
    second half (mod p) is the running value, and the signature is the
    per-bin minimum. Classic k-mins MinHash (minhash_signatures)
    evaluates k Kirsch-Mitzenmacher components per shingle and folds k
    unconditional min-aggregates: its signature-stage arithmetic grows
    linearly in k, while OPH's is flat — MEASURED on the sf0.1 corpus
    on 4 cores (SCALING.json dedup_minhash_oph.k_scaling, written by
    ``tools/scale_bench.py --lane k_scaling``): classic 2.81 s at k=64 →
    8.36 s at k=256 (ratio 2.98); OPH 3.16 → 3.17 s (ratio 1.00),
    behind classic at k=64 and ahead at k=256.

    Empty bins are densified by borrowing from the nearest occupied bin
    to the RIGHT (circular), offset-tagged so a borrowed value never
    spuriously equals a directly-occupied one: ``dens[j] = v(j+t) +
    t·C`` with t the borrow distance and C = 2^31 > max value (the
    C = 1-per-distance variant of the UAI-2014 scheme; all values <
    2^37, comfortably int64). Docs whose bins all collide still get a
    full-length signature, so banding works unchanged downstream.

    Plan shape: explode shingles → ONE md5 per shingle → two-stage
    aggregate: (id, bin) min with map-side combine (≤ num_bins slim
    24-byte rows per doc reach the exchange), then per-id fold of the
    occupied-bin list into the densified array. Two exchanges instead
    of classic's one, but the per-shingle scan work is O(1) in k and
    the second exchange is bounded by num_bins rows/doc — the trade
    that wins when k is large or shingle volume dominates. Token-less
    docs produce no shingles → no signature row (zero-shingle = never
    a candidate, same as the classic path).

    Engine-portable end to end (md5-derived bins/values, deterministic
    densification) — a DuckDB oracle replays signatures exactly
    (queries_ext dedup_minhash_oph)."""
    dens_c = 1 << 31  # > max value (p-1); tags borrow distance
    sh = df.select(
        F.col(id_col).alias("__id"), words(text_col).alias("__ws")
    ).select(
        "__id", shingle_strings_from_words(F.col("__ws"), n).alias("__shingles")
    )
    ex = (
        sh.select("__id", F.explode("__shingles").alias("__s"))
        .withColumn("__md", F.md5(F.col("__s").cast("binary")))
        .select(
            "__id",
            F.pmod(md5_part60(F.col("__md"), 0), F.lit(num_bins)).alias("__bin"),
            F.pmod(md5_part60(F.col("__md"), 1), F.lit(HASH_MOD)).alias("__val"),
        )
    )
    bins = ex.groupBy("__id", "__bin").agg(F.min("__val").alias("__v"))
    occ = bins.groupBy("__id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("__bin").alias("t"), F.col("__v").alias("v")))
        ).alias("__occ")
    )

    # O(num_bins) span densification (higher-order functions are
    # INTERPRETED in Spark, so the naive per-slot nearest-occupied scan
    # is O(k·|occ|) ≈ k² interpreted steps per doc — measured 2x slower
    # than this form at k=64 and 6x at k=256): each occupied bin
    # (t_i, v_i) serves exactly the slots (t_{i-1}, t_i] — for the
    # first entry the wrap-around span from the LAST occupied bin — so
    # the k slots are emitted once each as contiguous spans, flattened,
    # and sorted by slot. Span lengths sum to exactly k (circular
    # coverage), so the sorted pair list IS the signature.
    kL = F.lit(num_bins).cast("long")
    c = F.lit(dens_c).cast("long")
    n_occ = F.size("__occ")
    last_t = F.element_at(F.col("__occ"), n_occ)["t"]

    def _span(s: Column, i: Column) -> Column:
        prev_t = F.when(i == 0, last_t - kL).otherwise(
            F.element_at(F.col("__occ"), i)["t"]  # element_at is 1-based
        )
        return F.transform(
            F.sequence(prev_t + 1, s["t"]),
            lambda j: F.struct(
                F.pmod(j, kL).alias("b"), (s["v"] + (s["t"] - j) * c).alias("v")
            ),
        )

    return occ.select(
        "__id",
        F.transform(
            F.sort_array(F.flatten(F.transform(F.col("__occ"), _span))),
            lambda p: p["v"],
        ).alias("__sig"),
    )


def oph_minhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_bins: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """:func:`minhash_lsh_pairs` with OPH signatures: identical banding,
    hot-bucket cap, slim candidate join, and agreement-fraction verify
    (the shared :func:`_verified_pairs_from_sigs` stage) — only the
    signature pass differs (one hash per shingle, densified bins)."""
    rows = bands and num_bins // bands
    sigs = scoped_persist(oph_minhash_signatures(df, text_col, id_col, n, num_bins))
    return _verified_pairs_from_sigs(sigs, bands, rows, threshold, max_bucket)


# -- SimHash ----------------------------------------------------------


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs within Hamming distance ≤ max_hamming of the 60-bit
    SimHash. Banded: pairs within distance < bands must share a band
    (pigeonhole), so only band-colliding pairs are compared.

    The whole signature lives in ONE packed long end-to-end: the token
    explode feeds 60 codegen'd ±1 sum-aggregates (map-side partial, one
    60-long row per doc through the shuffle — same shape as the MinHash
    path), the sign bits pack into a single int64, band keys are
    shift/mask chunks of it, and per-pair Hamming is native
    ``bit_count(a ^ b)``. The Hamming filter runs BEFORE the pair
    distinct, so the dedup shuffle only carries surviving near-dups, not
    every band collision (hot corpora collide orders of magnitude more
    often than they match). Null/absent tokens hash as the empty string,
    so token-less documents share one signature instead of vanishing.

    Token hashes are ENGINE-PORTABLE (md5-derived 60-bit —
    functions/hashing.portable_hash60; hence 60 bits, 4 bands × 15-bit
    chunks): a DuckDB oracle recomputes identical signatures and pairs.
    One md5 per token in the scan stage replaces one xxhash64; shuffle
    shape and volume are unchanged."""
    ex = df.select(
        F.col(id_col).alias("__id"), F.explode_outer(words(text_col)).alias("__t")
    ).select("__id", portable_hash60(F.coalesce("__t", F.lit(""))).alias("__h"))
    nbits = 60
    sums = ex.groupBy("__id").agg(
        *[c.alias(f"__b{j}") for j, c in enumerate(simhash_bit_sums(F.col("__h"), nbits))]
    )
    sig = sums.select(
        "__id",
        pack_sign_bits([F.col(f"__b{j}") for j in range(nbits)], nbits).alias("__sh"),
    )
    banded = sig.select(
        "__id",
        "__sh",
        F.explode_outer(simhash_band_keys(F.col("__sh"), bands, nbits)).alias("__band"),
    )
    # both self-join sides read banded: hash each document once
    banded = scoped_persist(banded)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.__band") == F.col("b.__band")) & (F.col("a.__id") < F.col("b.__id")))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            hamming64(F.col("a.__sh"), F.col("b.__sh")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# -- winnowing (rolling-hash fingerprints) ----------------------------


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, window: int = 4
) -> DataFrame:
    """Winnowed document fingerprints (Schleimer et al. 2003, the MOSS
    algorithm): hash the POSITIONAL n-word shingle sequence, then keep
    only each ``window``-length window's minimum hash — a ~2/(window+1)
    density subset with the guarantee that any shared run of ≥ window
    consecutive shingles contributes at least one shared fingerprint.
    Returns distinct ``(__id, __fp)`` rows.

    Plan shape: scan → posexplode shingles → ONE window shuffle on the
    doc id (min over a bounded ROWS frame) → distinct. The downstream
    inverted index is ~(window+1)/2 times smaller than full-shingle
    indexing — winnowing is how fingerprint dedup stays tractable when
    the corpus is too hot for :func:`ngram_jaccard_pairs`.

    Hashes are md5-derived 60-bit (engine-portable): the DuckDB twin
    replays shingling, windows, and minima exactly."""
    sh = df.select(F.col(id_col).alias("__id"), words(text_col).alias("__ws"))
    k = F.size(F.col("__ws"))
    idx = F.sequence(F.lit(0), F.greatest(k - n, F.lit(0)))
    arr = F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: F.array_join(F.slice(F.col("__ws"), i + 1, n), " "))
    )
    ex = (
        sh.select("__id", F.posexplode_outer(arr).alias("__pos", "__s"))
        .filter(F.col("__s").isNotNull())
        .withColumn("__h", md5_part60(F.md5(F.col("__s").cast("binary"))))
    )
    win = (
        Window.partitionBy("__id")
        .orderBy("__pos")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    return (
        ex.withColumn("__m", F.min("__h").over(win))
        .filter(F.col("__h") == F.col("__m"))
        .select("__id", F.col("__h").alias("__fp"))
        .dropDuplicates()
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    window: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Candidate near-dup pairs sharing ≥ ``min_shared`` winnowed
    fingerprints — the inverted-index join of
    :func:`winnow_fingerprints` output (same plan shape as
    :func:`ngram_jaccard_pairs` but over the winnowed subset, so the
    self-join buckets are ~(window+1)/2 times smaller)."""
    fp = scoped_persist(winnow_fingerprints(df, text_col, id_col, n, window))
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, (F.col("a.__fp") == F.col("b.__fp")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# -- embedding cosine -------------------------------------------------


def embedding_cosine_pairs(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.95,
    block_col: str | None = None,
    block_shuffle: bool | None = None,
) -> DataFrame:
    """Exact all-pairs cosine near-dup (verify/oracle path — O(n²) within
    a block; the bucketed scale path is similarity.ann_lsh_topk with a
    high τ). Norms are precomputed per ROW — recomputing them per pair
    would multiply the dominant cost by 3n.

    Two-pass scoring: every candidate pair is first screened with a
    cheap pure-double cosine (64 fused multiply-adds in codegen); only
    pairs within 1e-6 of the threshold margin pay for the exact
    order-independent DECIMAL dot that makes scores bit-identical across
    engines. Double vs exact disagree by < 1e-12 relative, so the screen
    never drops a true positive — it just moves ~all of the O(pairs)
    work from BigDecimal to native doubles.

    ``block_shuffle``: whether to repartition the probe side on the
    block key before the join (only meaningful with ``block_col``).
    Default ``None`` = ADAPTIVE (round 12): shuffle only when the
    probe side's planned partition count is below the session's
    default parallelism — the parallelism-collapse case the exchange
    exists to fix. An input that already arrives wide (an upstream
    repartition, a many-split scan) skips the exchange and its cost
    (at sf0.1 the unconditional exchange doubled ``dedup_semantic``'s
    wall for zero benefit — the probe side was already 32-way).
    ``True``/``False`` force it for callers that know better."""
    from ..functions.vector import dot as vdot, norm

    def side(suffix: str) -> DataFrame:
        cols = [F.col(id_col).alias(f"id_{suffix}"),
                F.col(vec_col).alias(f"__v{suffix}")]
        if block_col:
            cols.append(F.col(block_col).alias(f"__blk{suffix}"))
        return df.select(*cols).withColumn(
            f"__n{suffix}", norm(F.col(f"__v{suffix}")))

    a, b = side("a"), side("b")
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        # Pin the probe side's parallelism to the BLOCK key before the
        # join (round-11 fix from the two-decade lane): when the build
        # side fits the broadcast threshold, the quadratic within-block
        # screen otherwise runs at the STREAM side's input-split count —
        # a mid-size parquet of 1-2 splits put millions of pair screens
        # on two cores (sf1 measured 3x SLOWER than sf10, which had
        # flipped to a 32-way sort-merge join). One linear exchange of
        # the row side buys block-parallel screening — paid only when
        # the probe side actually arrives narrow (adaptive default;
        # getNumPartitions compiles the plan, runs no job).
        if block_shuffle is None:
            block_shuffle = (
                df.rdd.getNumPartitions()
                < df.sparkSession.sparkContext.defaultParallelism
            )
        probe = a.repartition(F.col("__blka")) if block_shuffle else a
        joined = probe.join(
            b, (F.col("__blka") == F.col("__blkb")) & cond
        )
    else:
        joined = a.crossJoin(b).filter(cond)
    norms_ok = (F.col("__na") > 0) & (F.col("__nb") > 0)
    screen = F.when(
        norms_ok,
        vdot(F.col("__va"), F.col("__vb"), exact=False)
        / (F.col("__na") * F.col("__nb")),
    )
    return (
        joined.filter(screen >= threshold - 1e-6)
        .withColumn(
            "cosine",
            F.when(
                norms_ok,
                vdot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# -- connected components ---------------------------------------------


def connected_components(
    pairs: DataFrame, max_iter: int = 20, strict: bool = True
) -> DataFrame:
    """Exact connected components over near-dup pair edges: (node,
    component) where component = the smallest id reachable through any
    chain of pairs. Iterative min-label propagation — each round every
    node takes the min of its own label and its neighbors' labels;
    converges in O(diameter) rounds (dedup clusters are shallow, so
    ``max_iter`` is a safety rail, not a truncation in practice).
    If the rail IS hit, labels are not yet fixed-point and any consumer
    (``dedup_by_components``) would silently under-dedup — so
    ``strict=True`` (default) raises; pass ``strict=False`` to accept
    the partial labeling explicitly.

    Scale shape: edges are hash-partitioned on ``dst`` ONCE (repartition
    + persist), so every round's edge⋈label join finds the big side
    already clustered on its key and re-shuffles only the LABEL frame
    (|nodes| rows) — the round-11 fix after the two-decade lane caught
    the per-round join flipping from broadcast(labels) to sort-merge
    past the broadcast threshold and re-shuffling the EDGE frame every
    round (bytes_ratio ~20 at 100x data). ``localCheckpoint`` truncates
    the growing lineage each round so plans stay constant-size. This is
    the standard large-graph small-diameter pattern (cf. GraphFrames'
    connected components) without any library dependency."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .dropDuplicates()
        .repartition("dst")
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .dropDuplicates()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("component").alias("__nbr_min"))
        )
        # the convergence flag rides the checkpointed frame, so checking
        # it is a scan of materialized rows, not another join per round
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("__nbr_min", F.col("component"))
                ).alias("component"),
                (
                    F.coalesce("__nbr_min", F.col("component")) < F.col("component")
                ).alias("__changed"),
            )
            .localCheckpoint()  # truncate lineage: constant-size plan per round
        )
        changed = new_labels.filter(F.col("__changed")).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    else:
        edges.unpersist()
        if strict:
            raise RuntimeError(
                f"connected_components: not converged after {max_iter} rounds "
                f"({changed} labels still changing); raise max_iter or pass "
                "strict=False to accept the partial labeling"
            )
        import warnings

        warnings.warn(
            f"connected_components: not converged after {max_iter} rounds; "
            "labels are a partial fixed point (strict=False)",
            stacklevel=2,
        )
        return labels
    edges.unpersist()
    return labels


def dedup_by_components(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """Exact transitive dedup: keep only each connected component's
    smallest id (the member equal to its component label); rows in no
    pair survive untouched. Unlike :func:`drop_from_pairs` this is
    correct for chains (A~B, B~C ⇒ only min(A,B,C) survives)."""
    comp = connected_components(pairs)
    drops = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("__drop")
    )
    return df.join(drops, df[id_col] == F.col("__drop"), "left_anti")


def fuzzy_pairs(
    corpus: DataFrame,
    probes: DataFrame,
    text_col: str,
    id_col: str,
    probe_id_col: str = "probe_id",
    max_dist: int = 2,
) -> DataFrame:
    """Blocked edit-distance join (record linkage / fuzzy matching):
    each probe string matches corpus strings within ``max_dist``
    Levenshtein edits. Returns
    ``(probe_id, probe_text, id, text, edit_distance)``.

    Levenshtein is O(len_a · len_b) per comparison, so an unblocked
    fuzzy join is a cartesian product of quadratic-cost comparisons —
    never viable. This operator blocks on (first word, ±max_dist length
    band): only same-block candidates meet in an equi-join on the block
    key, the cheap length filter prunes before the DP runs, and the DP
    itself is Spark's threshold form ``levenshtein(a, b, max_dist)`` —
    a banded O(len · max_dist) early-exit, not the full matrix. All
    JVM codegen, no UDF.

    The block key is (first word, length bucket). First-word blocking
    is the recall/cost dial: it misses a typo *inside* the first word
    (standard blocking tradeoff — run a second pass keyed on last word
    to close it) and its selectivity governs cost. The LENGTH BUCKET
    (``len div (max_dist+1)``; probes explode the 3 adjacent buckets
    that can contain a ±max_dist match) is FREE refinement, not a dial:
    the ±max_dist length filter already discards cross-bucket pairs, so
    results are identical — it just moves the filter from post-join to
    the join key, splitting each first-word block by ~the number of
    distinct length buckets. Measured on TPC-H part names (92-word
    fixed vocabulary → first-word blocks that do NOT scale in count):
    this cut the sf1 block-join cost ~4x. At 100 TB the corpus side
    shuffles once on the block key; a skewed block (one dominant first
    word) is AQE-splittable because the meet is a plain equi-join."""
    B = max_dist + 1
    blk = lambda c: F.split(c, " ").getItem(0)  # noqa: E731
    c = corpus.select(
        F.col(id_col),
        F.col(text_col),
        blk(F.col(text_col)).alias("__blk"),
        F.length(text_col).alias("__len_c"),
    ).withColumn("__lb", (F.col("__len_c") / B).cast("long"))
    p = probes.select(
        F.col(probe_id_col),
        F.col(text_col).alias("probe_text"),
        blk(F.col(text_col)).alias("__blk"),
        F.length(text_col).alias("__len_p"),
    ).withColumn(
        # a corpus string within ±max_dist of len_p lands in bucket
        # (len_p±max_dist) div B ∈ {lb-1, lb, lb+1} since B > max_dist
        "__lb",
        F.explode(
            F.array(*[(F.col("__len_p") / B).cast("long") + d for d in (-1, 0, 1)])
        ),
    )
    return (
        p.join(c, ["__blk", "__lb"])
        .filter(F.abs(F.col("__len_p") - F.col("__len_c")) <= max_dist)
        .withColumn(
            "edit_distance",
            F.levenshtein(F.col("probe_text"), F.col(text_col), max_dist),
        )
        .filter(F.col("edit_distance") >= 0)
        .select(probe_id_col, "probe_text", id_col, text_col, "edit_distance")
    )


# -- pairs → keep/drop ------------------------------------------------


def drop_from_pairs(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """Survivors of ``df`` after dropping every id that appears on the
    right side of a pair — the one-pass star-linkage approximation
    (cheap: a single anti-join, no iteration). For chains where the
    connecting pair is absent (A~C, B~C but no A~B) it keeps BOTH A and
    B; use :func:`dedup_by_components` when exact transitive semantics
    are required."""
    drops = pairs.select(F.col("id_b").alias("__drop")).dropDuplicates()
    return df.join(drops, df[id_col] == F.col("__drop"), "left_anti")


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    cluster_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    within each (externally computed) cluster, drop every row that has a
    smaller-id near-duplicate at cosine ≥ ``threshold``; rows survive iff
    they are their local duplicate-set's minimum. Clustering first is
    what makes semantic dedup tractable at 100 TB: the quadratic cosine
    comparison runs only WITHIN clusters (size ≈ n/k, pick k ∝ n to
    bound it), never across the corpus — the exact shape the paper uses
    to dedup LAION-scale corpora. Compose with
    :func:`~..operators.clustering.kmeans_lloyd` for the assignment;
    swap in :func:`dedup_by_components` on the pair set when transitive
    (chain) semantics are wanted instead of direct-pair keep-min."""
    pairs = embedding_cosine_pairs(
        df, vec_col, id_col, threshold, block_col=cluster_col
    )
    drops = pairs.select(F.col("id_b").alias("__drop")).dropDuplicates()
    return df.join(drops, df[id_col] == F.col("__drop"), "left_anti")


def incremental_dedup(
    batch: DataFrame,
    standing_fingerprints: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Incremental corpus dedup: admit only batch rows whose normalized
    fingerprint is (a) new relative to the standing corpus and (b) the
    smallest-id representative within the batch itself. This is how a
    100 TB corpus grows without ever reprocessing itself: the standing
    side is a FINGERPRINT TABLE (16-byte md5 + nothing else — ~1/1000th
    of the corpus bytes), the batch is deduped internally (one shuffle
    on the fingerprint) and anti-joined against the standing
    fingerprints (AQE broadcasts whichever side is small; at steady
    state that is the batch). Admitting the survivors and appending
    their fingerprints to the standing table keeps the invariant.

    ``standing_fingerprints`` needs a single column ``doc_fingerprint``
    (build it with ``functions.text.fingerprint``)."""
    deduped = exact_dedup(batch, text_col, id_col)
    fp = deduped.withColumn("__fp", fingerprint(text_col))
    return (
        fp.join(
            standing_fingerprints.select(
                F.col("doc_fingerprint").alias("__fp")
            ).dropDuplicates(),
            "__fp",
            "left_anti",
        )
        .drop("__fp")
    )


def incremental_minhash_dedup(
    batch: DataFrame,
    standing_bands: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Incremental NEAR-dup admission — the fuzzy sibling of
    :func:`incremental_dedup`: admit only batch rows that (a) share NO
    LSH band with the standing corpus' band index and (b) share no band
    with a smaller-id batch row (the deterministic one-pass
    batch-internal guard — the same star-linkage semantics as
    :func:`drop_from_pairs`: a row colliding only with an
    already-dropped row is still dropped, the conservative direction).

    ``standing_bands`` needs a single column ``band`` — the standing
    corpus' band-key index (build/extend it with
    ``minhash_banded(...).select(F.col('__band').alias('band'))``).
    This is how a 100 TB corpus grows WITHOUT re-minhashing itself:
    the standing state is ~``bands`` short strings per document
    (~1/100th of the text bytes — the near-dup analogue of the 16-byte
    exact-fingerprint table), the batch is signed once, and admission
    is two joins. Appending the admitted rows' bands keeps the
    invariant. Band keys inherit whatever ``max_bucket`` discipline
    built the standing index; the batch side applies none (a batch is
    epoch-sized, not corpus-sized).

    Plan: batch → signatures (one shingle explode + 64 codegen'd
    min-aggregates) → slim (id, band) frame → collision ids via an
    inner join on ``band`` against the standing index (band keys are
    uniform md5-derived strings — no skew) → LEFT ANTI at the ID level
    → per-band MIN(id) over the survivors → a row admits iff none of
    its bands carries a smaller surviving id. Signatures never leave
    the batch stage; every exchange carries ~50 B rows. Returns the
    admitted rows of ``batch`` (original columns).
    """
    # persist the slim (id, band) frame: its subtree is the batch's
    # full signature computation (shingle explode + 64 min-aggregates)
    # and THREE branches consume it (standing-collision probe,
    # per-band min, internal-drop join) — unpersisted, the signatures
    # would be recomputed per branch. Flat short strings cache cheap.
    banded = scoped_persist(
        minhash_banded(batch, text_col, id_col, n, num_hashes, bands)
        .select("__id", "__band")
    )
    # persist the standing-collision id set: its subtree contains the
    # STANDING side's full band index (the caller usually hands a
    # just-built minhash_banded pipeline, not a materialized table) and
    # three branches reach it (the survivors anti-join feeds band_min
    # AND the internal-drop probe, plus the dropped union) — measured
    # r14: unpersisted, the standing signature fold ran 3x (sf0.1 query
    # wall 6.9 s -> 5.8 s from this persist alone; guide §1.2)
    hit_standing = scoped_persist(
        banded.join(
            standing_bands.select(F.col("band").alias("__band")),
            "__band",
            "left_semi",
        )
        .select("__id")
        .dropDuplicates()
    )
    survivors = banded.join(hit_standing, "__id", "left_anti")
    band_min = survivors.groupBy("__band").agg(F.min("__id").alias("__min_id"))
    dropped_internal = (
        survivors.join(band_min, "__band")
        .filter(F.col("__min_id") < F.col("__id"))
        .select("__id")
    )
    # drive the verdict from the BATCH, not the band frame: a document
    # with zero shingles has no bands, hence no collision evidence —
    # it is ADMITTED (matching incremental_dedup, where empty docs
    # still carry a fingerprint), not silently lost
    dropped = hit_standing.unionByName(dropped_internal).dropDuplicates()
    return batch.join(
        dropped.withColumnRenamed("__id", id_col), id_col, "left_anti"
    )


def duplicated_span_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_freq: int = 2,
) -> DataFrame:
    """Exact duplicated-span accounting (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr
    family, word-granular): for every document, how many of its word
    positions are covered by an n-gram that occurs ≥ ``min_freq`` times
    across the corpus. Emits ``n_words``, ``n_dup_words`` (size of the
    UNION of all duplicated n-gram intervals) and ``dup_ratio`` — the
    signal RefinedWeb/Dolma threshold on to drop or trim
    boilerplate-ridden documents.

    Suffix arrays don't distribute; this is the distributed equivalent
    for fixed n:

    1. one map-only pass explodes (doc, pos, gram) — grams are hashed to
       8-byte ``xxhash64`` keys so the corpus-frequency shuffle moves
       ints, not strings (collision odds ~ m²/2⁶⁴ — negligible and
       non-adversarial here);
    2. one groupBy(gram_hash) with map-side combine counts corpus
       frequency; rows with freq < min_freq are dropped BEFORE the
       join-back, so the equi-join only carries actually-duplicated
       grams;
    3. the join-back is gram_hash-keyed (AQE handles the skewed
       boilerplate gram); covered positions per doc are the union of
       [pos, pos+n-1] intervals, computed per-row with array
       expressions (``array_distinct ∘ flatten ∘ transform`` over the
       collected duplicate positions) — per-doc bounded, no second
       explode through the shuffle.

    Total cost: 2 shuffles (freq count + join-back/regroup) regardless
    of corpus size; no state is quadratic. Documents shorter than n
    words have no n-grams and report 0 duplicated positions (no
    short-doc fallback shingle — span semantics, unlike
    :func:`word_shingles`)."""
    # persist the tokenized frame (consumed by the gram explode AND the
    # n_words branch — the regex word split would otherwise run twice)
    # and the slim (id, pos, gram-hash) frame (consumed by the census
    # aggregate AND the tag-back join — the explode would run twice);
    # guide §1.2: fewer passes before anything else
    base = scoped_persist(df.select(F.col(id_col), words(text_col).alias("__w")))
    nw = F.size(F.col("__w"))
    lens = base.select(id_col, nw.cast("long").alias("n_words"))
    grams = scoped_persist(
        base.select(
            F.col(id_col),
            F.posexplode(
                F.when(
                    nw >= n,
                    F.transform(
                        F.sequence(F.lit(1), nw - n + 1),
                        lambda i: F.xxhash64(
                            F.array_join(F.slice(F.col("__w"), i, n), " ")
                        ),
                    ),
                ).otherwise(F.array().cast("array<bigint>"))
            ).alias("__p0", "__gh"),
        )
        .select(id_col, (F.col("__p0") + 1).alias("pos"), "__gh")
    )
    freq = (
        grams.groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__freq"))
        .filter(F.col("__freq") >= min_freq)
        .select("__gh")
    )
    dup_pos = grams.join(freq, "__gh").select(id_col, "pos")
    covered = dup_pos.groupBy(id_col).agg(
        F.size(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.collect_list("pos"),
                        lambda p: F.sequence(p, p + n - 1),
                    )
                )
            )
        ).cast("long").alias("n_dup_words")
    )
    out = lens.join(covered, id_col, "left").withColumn(
        "n_dup_words", F.coalesce(F.col("n_dup_words"), F.lit(0).cast("long"))
    )
    return out.withColumn(
        "dup_ratio",
        F.when(F.col("n_words") > 0, F.col("n_dup_words") / F.col("n_words"))
        .otherwise(F.lit(0.0)),
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_freq: int = 2,
) -> DataFrame:
    """The cleaning companion of :func:`duplicated_span_stats`: REMOVE
    every word position covered by a corpus-duplicated n-gram and emit
    the surviving text — Lee et al.'s ExactSubstr-cut output at word
    granularity (the transform RefinedWeb applies after the accounting).
    Returns (id, n_words, n_kept, clean_text) where ``clean_text`` joins
    the kept NORMALIZED words (positions are defined over the normalized
    word sequence, same convention as the stats op).

    Same 2-shuffle shape as the stats op, plus the final regroup: the
    covered-interval union is built per doc as an array, then the word
    array is filtered by position with a single ``F.filter`` index
    lambda — no per-position explode of the document through a shuffle.
    A doc whose every position is covered yields ``clean_text = ''``
    (kept for auditability; drop with ``n_kept > 0`` downstream)."""
    # same persist posture as duplicated_span_stats: the word split is
    # consumed by the gram explode AND the final position filter; the
    # gram frame by the census AND the tag-back join
    base = scoped_persist(df.select(F.col(id_col), words(text_col).alias("__w")))
    nw = F.size(F.col("__w"))
    grams = scoped_persist(
        base.select(
            F.col(id_col),
            F.posexplode(
                F.when(
                    nw >= n,
                    F.transform(
                        F.sequence(F.lit(1), nw - n + 1),
                        lambda i: F.xxhash64(
                            F.array_join(F.slice(F.col("__w"), i, n), " ")
                        ),
                    ),
                ).otherwise(F.array().cast("array<bigint>"))
            ).alias("__p0", "__gh"),
        )
        .select(id_col, (F.col("__p0") + 1).cast("long").alias("pos"), "__gh")
    )
    freq = (
        grams.groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__freq"))
        .filter(F.col("__freq") >= min_freq)
        .select("__gh")
    )
    covered = (
        grams.join(freq, "__gh")
        .groupBy(id_col)
        .agg(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.collect_list("pos"),
                        lambda p: F.sequence(p, p + n - 1),
                    )
                )
            ).alias("__cov")
        )
    )
    out = (
        base.join(covered, id_col, "left")
        .withColumn("__cov", F.coalesce(F.col("__cov"), F.array().cast("array<long>")))
        .withColumn(
            "__kept",
            F.filter(
                F.col("__w"),
                lambda x, i: ~F.array_contains(F.col("__cov"), (i + 1).cast("long")),
            ),
        )
    )
    return out.select(
        id_col,
        F.size(F.col("__w")).cast("long").alias("n_words"),
        F.size(F.col("__kept")).cast("long").alias("n_kept"),
        F.array_join(F.col("__kept"), " ").alias("clean_text"),
    )


def longest_dup_span_ladder(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n0: int = 5,
    levels: int = 3,
    min_freq: int = 2,
) -> DataFrame:
    """Variable-length ExactSubstr accounting via a LENGTH-DOUBLING
    gram ladder — per document, the largest ladder length ``n0·2^k``
    (k < levels) for which the document contains a word n-gram that
    occurs ≥ ``min_freq`` times across the corpus. This closes the gap
    between the fixed-n :func:`duplicated_span_stats` (which cannot
    say HOW LONG a duplicated span is) and the suffix-array
    ExactSubstr of Lee et al. 2021 (which does not distribute),
    without building a distributed suffix array: ``span_ge`` is a
    certified lower bound on the document's longest duplicated span,
    tight to within 2x at the top rung.

    Ladder exactness: every occurrence of a corpus-duplicated 2n-gram
    has BOTH of its n-gram halves corpus-duplicated (each half occurs
    wherever the whole does), so level k+1 only has to hash grams at
    positions p where (p) and (p + n_k) both survived level k — and
    counting gram frequency WITHIN those candidates is exact for every
    gram at or above ``min_freq`` (all of a duplicated gram's
    occurrences are candidates; only sub-threshold grams are
    undercounted, and those are dropped either way).

    Plan shape per level: candidate self-join on (doc, pos + n_k) —
    pos-shifted equi-join, no window — then a join back to the word
    arrays, one map-side-combined frequency count over 8-byte
    xxhash64 gram keys, one semi-join. Level-0 cost equals
    :func:`duplicated_span_stats`; each rung above explodes ONLY
    surviving candidate positions, which boilerplate-driven corpora
    shrink geometrically — the suffix-array work-bound flavor, in
    ``levels`` rounds of 2 shuffles. The word-array scan is re-read
    per rung (persist ``df`` upstream if scans dominate).

    Returns ``(id, n_words, span_ge)`` — ``span_ge`` is 0 for
    documents with no duplicated ``n0``-gram.

    Reference parity: $REF has no ExactSubstr surface (dedup happens
    outside its 4 SQL models); this extends the Lee-et-al family the
    LLM-pipeline lane already covers."""
    if n0 < 1 or levels < 1:
        raise ValueError(f"n0 and levels must be >= 1 (got {n0}, {levels})")
    # persist the tokenized frame: every rung re-reads the word arrays
    # (level-0 explode, then one candidate join per level) and the
    # lens branch reads them again — unpersisted, the regex word split
    # re-ran per consumer (measured r14: 330 parquet scans / 168
    # Exchanges in one plan; guide §1.2 — fewer passes first)
    base = scoped_persist(df.select(F.col(id_col), words(text_col).alias("__w")))
    nw = F.size(F.col("__w"))
    lens = base.select(id_col, nw.cast("long").alias("n_words"))

    def dup_positions(cand: DataFrame | None, n: int) -> DataFrame:
        """(doc, pos) whose length-n gram clears min_freq; cand=None
        means 'every position' (level 0)."""
        if cand is None:
            grams = base.select(
                F.col(id_col),
                F.posexplode(
                    F.when(
                        nw >= n,
                        F.transform(
                            F.sequence(F.lit(1), nw - n + 1),
                            lambda i: F.xxhash64(
                                F.array_join(F.slice(F.col("__w"), i, n), " ")
                            ),
                        ),
                    ).otherwise(F.array().cast("array<bigint>"))
                ).alias("__p0", "__gh"),
            ).select(
                id_col, (F.col("__p0") + 1).cast("long").alias("pos"), "__gh"
            )
        else:
            grams = cand.join(base, id_col).select(
                F.col(id_col),
                "pos",
                F.xxhash64(
                    F.array_join(
                        F.slice(F.col("__w"), F.col("pos").cast("int"), n),
                        " ",
                    )
                ).alias("__gh"),
            )
        # persist the (id, pos, gram-hash) frame: the census aggregate
        # and the tag-back join both consume it — unpersisted, the
        # level's gram explode/hash ran twice (guide §1.2)
        grams = scoped_persist(grams)
        freq = (
            grams.groupBy("__gh")
            .agg(F.count(F.lit(1)).alias("__freq"))
            .filter(F.col("__freq") >= min_freq)
            .select("__gh")
        )
        return grams.join(freq, "__gh").select(id_col, "pos")

    per_doc = []
    # each level's survivor frame is consumed three times (the per-doc
    # rung evidence + both sides of the pos-shifted self-join) and its
    # subtree is the whole ladder so far — persist the slim (id, pos)
    # pairs per level so a rung is computed exactly once
    s = scoped_persist(dup_positions(None, n0))
    n_k = n0
    for k in range(levels):
        per_doc.append(
            s.groupBy(id_col).agg(
                F.lit(n_k).cast("long").alias("span_ge")
            )
        )
        if k == levels - 1:
            break
        a, b = s.alias("a"), s.alias("b")
        cand = a.join(
            b,
            (F.col(f"a.{id_col}") == F.col(f"b.{id_col}"))
            & (F.col("b.pos") == F.col("a.pos") + n_k),
        ).select(F.col(f"a.{id_col}").alias(id_col), F.col("a.pos").alias("pos"))
        n_k *= 2
        s = scoped_persist(dup_positions(cand, n_k))

    hits = per_doc[0]
    for d in per_doc[1:]:
        hits = hits.unionByName(d)
    best = hits.groupBy(id_col).agg(F.max("span_ge").alias("span_ge"))
    return lens.join(best, id_col, "left").select(
        id_col,
        "n_words",
        F.coalesce(F.col("span_ge"), F.lit(0).cast("long")).alias("span_ge"),
    )


# ---------------------------------------------------------------------
# Bloom-filter membership pre-filter (incremental dedup's scale sibling)
# ---------------------------------------------------------------------

_BLOOM_WORD_BITS = 63  # bits per bitmap word; shifts stay < 63 so every
#                        word is a POSITIVE long in any engine (DuckDB
#                        raises on 1<<63; Java wraps negative) — bit 62
#                        is the highest used and the value never needs
#                        sign-aware comparison.


def _bloom_positions(text_col: str, m_bits: int, k: int) -> list[F.Column]:
    """The k bit positions of a document in an m-bit Bloom filter,
    derived Kirsch-Mitzenmacher-style (pos_i = (h1 + i*h2) mod m) from
    ONE md5 of the normalized text — the same two-hash family the
    MinHash signatures use, and fully engine-portable (the DuckDB twin
    recomputes identical positions from the same digest arithmetic)."""
    digest = fingerprint(text_col)
    h1 = F.pmod(md5_part60(digest, 0), F.lit(HASH_MOD))
    h2 = F.pmod(md5_part60(digest, 1), F.lit(HASH_MOD))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(1, k + 1)]


def bloom_build(
    df: DataFrame, text_col: str, m_bits: int = 1 << 18, k: int = 5
) -> DataFrame:
    """Build a Bloom-filter bitmap over a corpus' document fingerprints
    as a TABLE of (word_idx, bits) longs — ceil(m/63) rows max.

    One explode (k small integers per doc) + one map-side-combinable
    ``bit_or`` aggregate; the result is ~m/8 bytes regardless of corpus
    size. At 10 bits/doc and 1% FP, a 10^9-doc standing corpus is a
    ~1.2 GB bitmap vs a ~16 GB fingerprint table — and probing is a
    broadcast join against the bitmap words instead of a shuffle-side
    anti-join. Beyond broadcast range, shard the filter by
    ``h1 mod S`` (each shard its own bitmap) and co-partition probes by
    the same key — the same one-aggregate build applies per shard."""
    pos = F.explode(F.array(*_bloom_positions(text_col, m_bits, k))).alias("__pos")
    wb = _BLOOM_WORD_BITS
    return (
        df.select(pos)
        .select(
            F.expr(f"__pos div {wb}").alias("word_idx"),
            # DataFrame shiftleft() takes only a literal shift; the SQL
            # form accepts the per-row bit offset column
            F.expr(f"shiftleft(bigint(1), int(__pos % {wb}))").alias("__bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__bit").alias("bits"))
    )


def bloom_probe(
    batch: DataFrame,
    bloom: DataFrame,
    text_col: str,
    id_col: str,
    m_bits: int = 1 << 18,
    k: int = 5,
) -> DataFrame:
    """Probe a batch against a Bloom bitmap built by :func:`bloom_build`:
    returns the batch ids plus ``bloom_maybe`` — False GUARANTEES the
    document is not in the standing corpus (no false negatives), True
    means "run the exact check". The point at 100 TB: the cheap
    broadcast probe discharges the overwhelmingly-common new-document
    case map-side; only the ``bloom_maybe`` sliver pays the exact
    fingerprint anti-join (see :func:`incremental_dedup`).

    Plan shape: explode k positions per doc → LEFT join the (broadcast)
    bitmap on word_idx → a doc is maybe-present iff ALL k probed bits
    are set (min over the k indicator rows == 1). One broadcast join +
    one map-side-combinable aggregate; nothing shuffles but doc ids."""
    pos_arr = F.array(*_bloom_positions(text_col, m_bits, k))
    wb = _BLOOM_WORD_BITS
    probes = batch.select(
        F.col(id_col), F.explode(pos_arr).alias("__pos")
    ).select(
        id_col,
        F.expr(f"__pos div {wb}").alias("word_idx"),
        F.expr(f"int(__pos % {wb})").alias("__bit"),
    )
    joined = probes.join(F.broadcast(bloom), "word_idx", "left")
    # DataFrame shiftright() takes only a literal shift; the SQL
    # expression form accepts a column (ShiftRight is a binary expr)
    hit = F.expr("shiftright(coalesce(bits, bigint(0)), __bit) & 1")
    return joined.groupBy(id_col).agg(
        (F.min(hit) == 1).alias("bloom_maybe")
    )


def cluster_representative(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    quality_col,
) -> DataFrame:
    """Pick ONE representative document per near-duplicate cluster —
    the standard corpus-curation step after pair generation (keep the
    best-quality member, drop the rest; e.g. the C4/RefinedWeb recipe
    keeps one page per dup cluster rather than dropping all copies).

    ``pairs`` is any near-dup edge list ``(id_a, id_b)`` (MinHash LSH,
    n-gram Jaccard, SimHash, …); clusters are their transitive closure
    via :func:`connected_components`; docs in no pair form singleton
    clusters of themselves. The winner per cluster maximizes
    ``quality_col``, ties broken by smallest id — encoded as ONE
    map-side-combinable ``max(struct(quality, -id))`` aggregate, NOT a
    per-cluster window: a window over a hot mega-cluster serializes its
    members through one reducer, while the struct-max combines partials
    on the map side, so a million-member boilerplate cluster costs one
    row per upstream partition through the shuffle.

    Returns one row per cluster: ``(component, <id_col> of the winner,
    <quality_col> of the winner, n_cluster_members)``.
    """
    qc = F.col(quality_col) if isinstance(quality_col, str) else quality_col
    qname = quality_col if isinstance(quality_col, str) else "quality"
    cc = connected_components(pairs)
    labeled = df.join(
        cc, df[id_col] == cc["node"], "left"
    ).withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
    winners = labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_cluster_members"),
        F.max(
            F.struct(qc.alias("q"), (-F.col(id_col)).alias("nid"))
        ).alias("__w"),
    )
    return winners.select(
        "component",
        (-F.col("__w.nid")).alias(id_col),
        F.col("__w.q").alias(qname),
        "n_cluster_members",
    )
