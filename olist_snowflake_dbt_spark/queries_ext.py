"""Driver queries for the LLM-data-pipeline extensions (SURVEY.md §7
phase 5): dedup, similarity search, text analysis. Registered into the
same QUERIES/ORACLE_SQL maps as the relational surface.

Planted duplicates: the testdata has no exact dups, so dedup queries
deterministically plant them (docs with doc_id % 50 == 0 re-appear under
doc_id + 1_000_000) — the SAME construction in Spark and the oracle SQL.

Oracle vector math: DuckDB's list_dot_product uses SIMD/f32 accumulation
and does NOT match a sequential fold; the oracles instead zip-unnest and
sum CAST(x*y AS DECIMAL(28,15)) — the exact-decimal contract of
functions/vector.py — so cosine scores are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .operators import dedup as DD
from .operators import similarity as SIM
from .operators import text as TX
from .queries import _t, query
from .sql_fragments import _DOT_DEC, _NORM, _WORDS

# ---------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------

_PLANTED_DOCS = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
"""
_PLANTED_EMB = """
    SELECT vec_id, embedding, label FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id, embedding, label
    FROM embeddings WHERE vec_id % 100 = 0
"""


def _planted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
    )
    return docs.unionByName(dup)


def _planted_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    dup = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .withColumn("vec_id", F.col("vec_id") + 1000000)
    )
    return emb.unionByName(dup)


# ---------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------


@query(
    "dedup_exact",
    f"""
    WITH d2 AS ({_PLANTED_DOCS})
    SELECT md5({_NORM}) AS doc_fingerprint, MIN(doc_id) AS doc_id
    FROM d2 GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one shuffle on the normalized-text fingerprint, keep
    the smallest id per group (operators/dedup.exact_dedup)."""
    from .functions.text import fingerprint

    kept = DD.exact_dedup(_planted_docs(spark, sf_dir), "text", "doc_id")
    return kept.select(fingerprint("text").alias("doc_fingerprint"), "doc_id")


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH d2 AS ({_PLANTED_DOCS}),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 2, 1)),
                   i -> array_to_string(w[i:i+2], ' '))) AS shingles
        FROM (SELECT doc_id, {_WORDS} AS w FROM d2)
    ),
    ex AS (SELECT doc_id, len(shingles) AS n, UNNEST(shingles) AS s FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
               COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, n_common / (n_a + n_b - n_common) AS jaccard
    FROM inter WHERE n_common / (n_a + n_b - n_common) >= 0.5
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs ≥ 0.5 via shingle inverted
    index (operators/dedup.ngram_jaccard_pairs)."""
    return DD.ngram_jaccard_pairs(_planted_docs(spark, sf_dir), "text", "doc_id", 3, 0.5)


@query(
    "dedup_jaccard_prefix_filter",
    f"""
    WITH d2 AS ({_PLANTED_DOCS}),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 2, 1)),
                   i -> array_to_string(w[i:i+2], ' '))) AS shingles
        FROM (SELECT doc_id, {_WORDS} AS w FROM d2)
    ),
    ex AS (SELECT doc_id, len(shingles) AS n, UNNEST(shingles) AS s FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
               COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, n_common / (n_a + n_b - n_common) AS jaccard
    FROM inter WHERE n_common / (n_a + n_b - n_common) >= 0.9
    """,
)
def q_dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs ≥ 0.9 via PREFIX FILTERING
    (operators/dedup.prefix_filter_jaccard_pairs — round 11): only each
    document's rarest |d|−⌈t·|d|⌉+1 shingles enter the inverted index,
    which is LOSSLESS for the threshold (prefix principle, Chaudhuri
    2006), so the oracle is the plain brute-force exact join — the
    hash-match proves the pruned index drops no qualifying pair and
    the exact verify reproduces every score. Boilerplate (max-df)
    shingles sort out of the prefixes entirely: the lossless form of
    the max_doc_freq skew guard, and the scale answer for the exact
    path's candidate exchange (SCALE.md round-11 adjudication)."""
    return DD.prefix_filter_jaccard_pairs(
        _planted_docs(spark, sf_dir), "text", "doc_id", 3, 0.9
    )


@query(
    "dedup_containment_kmv",
    f"""
    WITH d2 AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2500000 AS doc_id,
               substr(text, 1, length(text) // 2) AS text
        FROM documents WHERE doc_id % 25 = 0
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 2, 1)),
                   i -> array_to_string(w[i:i+2], ' '))) AS shingles
        FROM (SELECT doc_id, {_WORDS} AS w FROM d2)
        WHERE len(w) > 0
    ),
    ex AS (SELECT doc_id, len(shingles) AS n, UNNEST(shingles) AS s FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
               COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, n_common / least(n_a, n_b) AS containment
    FROM inter WHERE n_common / least(n_a, n_b) >= 0.75
    """,
)
def q_dedup_containment_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment with the round-13 KMV bottom-k pre-screen
    (operators/dedup.containment_pairs_kmv_prescreen): each doc probes
    the inverted index with its k=64 smallest shingle hashes (collision
    rows per pair bounded by k, not |A∩B|), the min-side sample
    fraction estimates containment, and survivors of the
    threshold−margin gate get exact verification via id-keyed
    array_intersect joins. Output is EXACT for every emitted pair, so
    the oracle is the same exact-containment SQL — equality IS the
    recall claim on this fixture."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    halves = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select(
            (F.col("doc_id") + 2500000).alias("doc_id"),
            F.substring(
                "text", 1, F.floor(F.length("text") / 2).cast("int")
            ).alias("text"),
        )
    )
    return DD.containment_pairs_kmv_prescreen(
        docs.unionByName(halves), "text", "doc_id", 3, 0.75
    )


@query(
    "dedup_containment",
    f"""
    WITH d2 AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        -- plant truncated near-superset copies: the first half of every
        -- 40th document under a shifted id
        SELECT doc_id + 2000000 AS doc_id,
               substr(text, 1, length(text) // 2) AS text
        FROM documents WHERE doc_id % 40 = 0
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 2, 1)),
                   i -> array_to_string(w[i:i+2], ' '))) AS shingles
        FROM (SELECT doc_id, {_WORDS} AS w FROM d2)
    ),
    ex AS (SELECT doc_id, len(shingles) AS n, UNNEST(shingles) AS s FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
               COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, n_common / least(n_a, n_b) AS containment
    FROM inter WHERE n_common / least(n_a, n_b) >= 0.8
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment |A∩B|/min(|A|,|B|) ≥ 0.8: catches planted
    half-documents inside their full originals, which Jaccard ≈ 0.5
    misses at high thresholds (operators/dedup.containment_pairs)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    halves = (
        docs.filter(F.col("doc_id") % 40 == 0)
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.substring("text", 1, F.floor(F.length("text") / 2).cast("int")).alias("text"),
        )
    )
    return DD.containment_pairs(docs.unionByName(halves), "text", "doc_id", 3, 0.8)


# MinHash twin: the operator's hashing is md5-derived (engine-portable,
# functions/hashing.md5_part60), so DuckDB recomputes the EXACT pipeline:
# shingles → (a,b) = two 60-bit md5 halves mod p → 64 Kirsch-Mitzenmacher
# min-aggregates → 16 string band keys → bucket-capped candidates →
# agreement-fraction estimate. The 64 MIN terms are generated here.
_MH_P = 2147483647
_MH_K, _MH_BANDS, _MH_ROWS = 64, 16, 4
_MH_MINS = ",\n               ".join(
    f"MIN((a + {i} * b) % {_MH_P}) AS h{i}" for i in range(1, _MH_K + 1)
)
_MH_SIG = "[" + ", ".join(f"h{i}" for i in range(1, _MH_K + 1)) + "]"
_MINHASH_ORACLE = f"""
    WITH d2 AS ({_PLANTED_DOCS}),
    sh AS (
        -- len(w) > 0 mirrors the operator's zero-shingle semantics for
        -- token-less documents (functions/text.shingle_hashes_from_words:
        -- k <= 0 -> empty array -> NO bands -> never a candidate); the
        -- unfiltered form would give such a doc one synthetic '' shingle
        -- and a spurious band (round-12 advisory)
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 2, 1)),
                   i -> array_to_string(w[i:i+2], ' '))) AS shingles
        FROM (SELECT doc_id, {_WORDS} AS w FROM d2)
        WHERE len(w) > 0
    ),
    hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % {_MH_P} AS a,
               CAST('0x' || substr(md5(s), 16, 15) AS BIGINT) % {_MH_P} AS b
        FROM (SELECT doc_id, UNNEST(shingles) AS s FROM sh)
    ),
    sigs AS (
        SELECT doc_id,
               {_MH_MINS}
        FROM hashed GROUP BY doc_id
    ),
    siglist AS (SELECT doc_id, {_MH_SIG} AS sig FROM sigs),
    banded AS (
        SELECT doc_id, sig,
               bnd || '|' || sig[4*bnd+1] || '|' || sig[4*bnd+2] || '|'
                   || sig[4*bnd+3] || '|' || sig[4*bnd+4] AS band
        FROM siglist,
             (SELECT UNNEST(generate_series(0, {_MH_BANDS - 1})) AS bnd)
    ),
    capped AS (
        SELECT band FROM banded GROUP BY band HAVING COUNT(*) <= 1000
    ),
    kept AS (SELECT b.* FROM banded b JOIN capped USING (band)),
    cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.sig AS sig_a, b.sig AS sig_b
        FROM kept a JOIN kept b ON a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           list_sum(list_transform(generate_series(1, {_MH_K}),
                    i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END))
               / {_MH_K} AS est_jaccard
    FROM cands
    WHERE list_sum(list_transform(generate_series(1, {_MH_K}),
                   i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END))
          / {_MH_K} >= 0.5
"""


@query("dedup_minhash_lsh", _MINHASH_ORACLE)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16 bands): candidates where a band collides,
    est. Jaccard ≥ 0.5 (operators/dedup.minhash_lsh_pairs). Recall vs
    exact Jaccard asserted in tests/test_dedup.py; signatures/pairs are
    bit-identical to the DuckDB twin via md5-derived portable hashing."""
    return DD.minhash_lsh_pairs(_planted_docs(spark, sf_dir), "text", "doc_id",
                                n=3, num_hashes=64, bands=16, threshold=0.5)


def _mh_band_sql(src: str, tag: str) -> str:
    """The shingle→signature→band SQL block over a docs CTE ``src``
    (same md5-portable pipeline as _MINHASH_ORACLE), emitting
    ``banded_{tag}(doc_id, band)``."""
    return f"""sh_{tag} AS (
        -- len(w) > 0: a token-less doc gets ZERO shingles/bands in the
        -- operator (and is therefore always admitted); without the
        -- filter this CTE would hand it one synthetic '' shingle and a
        -- band that could collide cross-side (round-12 advisory)
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 2, 1)),
                   i -> array_to_string(w[i:i+2], ' '))) AS shingles
        FROM (SELECT doc_id, {_WORDS} AS w FROM {src})
        WHERE len(w) > 0
    ),
    hashed_{tag} AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % {_MH_P} AS a,
               CAST('0x' || substr(md5(s), 16, 15) AS BIGINT) % {_MH_P} AS b
        FROM (SELECT doc_id, UNNEST(shingles) AS s FROM sh_{tag})
    ),
    sigs_{tag} AS (
        SELECT doc_id,
               {_MH_MINS}
        FROM hashed_{tag} GROUP BY doc_id
    ),
    banded_{tag} AS (
        SELECT doc_id,
               bnd || '|' || sig[4*bnd+1] || '|' || sig[4*bnd+2] || '|'
                   || sig[4*bnd+3] || '|' || sig[4*bnd+4] AS band
        FROM (SELECT doc_id, {_MH_SIG} AS sig FROM sigs_{tag}),
             (SELECT UNNEST(generate_series(0, {_MH_BANDS - 1})) AS bnd)
    )"""


_INC_MINHASH_ORACLE = f"""
    WITH standing_docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ),
    batch_docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        -- re-crawls of standing docs: MUST be rejected by the index
        SELECT doc_id + 3000000 AS doc_id, text
        FROM documents WHERE doc_id % 40 = 0
        UNION ALL
        -- in-batch near-dups of odd docs: the smaller original wins
        SELECT doc_id + 4000000 AS doc_id, text
        FROM documents WHERE doc_id % 30 = 1
    ),
    {_mh_band_sql("standing_docs", "s")},
    {_mh_band_sql("batch_docs", "b")},
    hits AS (
        SELECT DISTINCT b.doc_id
        FROM banded_b b JOIN banded_s s ON b.band = s.band
    ),
    surv AS (
        SELECT * FROM banded_b
        WHERE doc_id NOT IN (SELECT doc_id FROM hits)
    ),
    bmin AS (SELECT band, MIN(doc_id) AS m FROM surv GROUP BY band),
    drop2 AS (
        SELECT DISTINCT s.doc_id
        FROM surv s JOIN bmin ON bmin.band = s.band
        WHERE bmin.m < s.doc_id
    )
    SELECT doc_id FROM batch_docs
    WHERE doc_id NOT IN (SELECT doc_id FROM hits)
      AND doc_id NOT IN (SELECT doc_id FROM drop2)
"""


@query("dedup_incremental_minhash", _INC_MINHASH_ORACLE)
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup admission (operators/dedup.
    incremental_minhash_dedup — round 12, the fuzzy sibling of
    dedup_incremental_corpus): the standing corpus (even doc ids) is
    represented ONLY by its LSH band-key index (~16 short strings per
    doc — how a 100 TB corpus grows without re-minhashing itself); the
    batch (odd docs + planted re-crawls of standing docs + planted
    in-batch near-dups) is signed once and admitted iff it shares no
    band with the standing index nor with a smaller-id batch row. The
    oracle replays BOTH sides' md5-portable signatures, bands, and
    both drop rules end-to-end."""
    from .operators.dedup import incremental_minhash_dedup, minhash_banded

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    standing = docs.filter(F.col("doc_id") % 2 == 0)
    batch = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .unionByName(
            docs.filter(F.col("doc_id") % 40 == 0).select(
                (F.col("doc_id") + 3000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 30 == 1).select(
                (F.col("doc_id") + 4000000).alias("doc_id"), "text"
            )
        )
    )
    standing_bands = minhash_banded(
        standing, "text", "doc_id", 3, 64, 16
    ).select(F.col("__band").alias("band"))
    admitted = incremental_minhash_dedup(
        batch, standing_bands, "text", "doc_id", 3, 64, 16
    )
    return admitted.select("doc_id")


# Winnowing twin: positional shingles → 60-bit portable hashes → min per
# 4-window (ROWS frame) → distinct fingerprints → inverted-index pairs.
_WINNOW_ORACLE = f"""
    WITH d2 AS ({_PLANTED_DOCS}),
    sh AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, greatest(len(w) - 2, 1)),
                   i -> array_to_string(w[i:i+2], ' ')) AS shingles
        FROM (SELECT doc_id, {_WORDS} AS w FROM d2)
    ),
    ex AS (
        SELECT doc_id, pos,
               CAST('0x' || substr(md5(shingles[pos]), 1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id, shingles,
                     UNNEST(generate_series(1, len(shingles))) AS pos
              FROM sh)
    ),
    kept AS (
        SELECT doc_id, h,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m
        FROM ex
    ),
    fp AS (SELECT DISTINCT doc_id, h FROM kept WHERE h = m)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
    FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


@query("dedup_winnowing", _WINNOW_ORACLE)
def q_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting via winnowing (MOSS): each
    4-window of positional 3-gram hashes contributes its minimum; pairs
    sharing ≥ 2 winnowed fingerprints are near-dup candidates
    (operators/dedup.winnow_pairs). The winnowed inverted index is
    ~2.5x smaller than full-shingle indexing — the fingerprint path for
    corpora too hot for exact Jaccard."""
    return DD.winnow_pairs(_planted_docs(spark, sf_dir), "text", "doc_id",
                           n=3, window=4, min_shared=2)


# SimHash twin: 60-bit portable token hashes; 60 ±1 bit-sum aggregates,
# sign-bit packing, 4×15-bit pigeonhole bands, bit_count Hamming.
_SH_NBITS, _SH_BANDS = 60, 4
_SH_WIDTH = _SH_NBITS // _SH_BANDS
_SH_SUMS = ",\n               ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
    for j in range(_SH_NBITS)
)
_SH_PACK = " + ".join(
    f"CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
    for j in range(_SH_NBITS)
)
_SIMHASH_ORACLE = f"""
    WITH d2 AS ({_PLANTED_DOCS}),
    tok AS (
        SELECT doc_id, CASE WHEN len(w) = 0 THEN [''] ELSE w END AS w
        FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS w
              FROM d2)
    ),
    ex AS (
        SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id, UNNEST(w) AS t FROM tok)
    ),
    sums AS (
        SELECT doc_id,
               {_SH_SUMS}
        FROM ex GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {_SH_PACK} AS sh FROM sums),
    banded AS (
        SELECT doc_id, sh,
               ((sh >> (bnd * {_SH_WIDTH})) & {(1 << _SH_WIDTH) - 1})
                   | (bnd << {_SH_WIDTH}) AS band
        FROM sig, (SELECT UNNEST(generate_series(0, {_SH_BANDS - 1})) AS bnd)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sh, b.sh)) AS hamming
    FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


@query("dedup_simhash", _SIMHASH_ORACLE)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash near-dup pairs (Hamming ≤ 3, banded pigeonhole
    join) — operators/dedup.simhash_pairs. Portable md5-derived token
    hashes make the DuckDB twin exact."""
    return DD.simhash_pairs(_planted_docs(spark, sf_dir), "text", "doc_id",
                            max_hamming=3, bands=4)


@query(
    "dedup_embedding_cosine",
    f"""
    WITH e2 AS ({_PLANTED_EMB})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(CAST({_DOT_DEC} AS DOUBLE)
           / (SQRT(CAST((SELECT SUM(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,15)))
                         FROM (SELECT UNNEST(a.embedding) AS x)) AS DOUBLE))
              * SQRT(CAST((SELECT SUM(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,15)))
                           FROM (SELECT UNNEST(b.embedding) AS y)) AS DOUBLE))), 9)
               AS cosine
    FROM e2 a JOIN e2 b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE CAST({_DOT_DEC} AS DOUBLE)
          / (SQRT(CAST((SELECT SUM(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,15)))
                        FROM (SELECT UNNEST(a.embedding) AS x)) AS DOUBLE))
             * SQRT(CAST((SELECT SUM(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,15)))
                          FROM (SELECT UNNEST(b.embedding) AS y)) AS DOUBLE))) >= 0.95
    """,
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: cosine ≥ 0.95 among label-blocked pairs
    (blocking keeps the verify path sub-quadratic; planted exact dups
    score 1.0). Decimal dot is bit-identical across engines; the OUTPUT
    score is rounded to 9 decimals like brute_topk because DuckDB's
    DECIMAL→DOUBLE cast is not correctly rounded (at sf0.1 it rendered
    an exact-dup cosine as 1.0000000000000002 vs Spark's 1.0)."""
    e2 = _planted_emb(spark, sf_dir)
    pairs = DD.embedding_cosine_pairs(e2, "embedding", "vec_id", 0.95, block_col="label")
    return pairs.withColumn("cosine", F.round("cosine", 9))


@query(
    "dedup_connected_components",
    f"""
    WITH RECURSIVE d2 AS ({_PLANTED_DOCS}),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 2, 1)),
                   i -> array_to_string(w[i:i+2], ' '))) AS shingles
        FROM (SELECT doc_id, {_WORDS} AS w FROM d2)
    ),
    ex AS (SELECT doc_id, len(shingles) AS n, UNNEST(shingles) AS s FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
               COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    ),
    pairs AS (
        SELECT id_a, id_b FROM inter
        WHERE n_common / (n_a + n_b - n_common) >= 0.6
    ),
    edges AS (
        SELECT id_a AS node, id_b AS other FROM pairs
        UNION
        SELECT id_b AS node, id_a AS other FROM pairs
    ),
    reach AS (
        SELECT node, other FROM edges
        UNION
        SELECT r.node, e.other FROM reach r JOIN edges e ON r.other = e.node
    )
    SELECT node, least(node, MIN(other)) AS component
    FROM reach GROUP BY node
    """,
)
def q_dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact transitive dedup clusters: iterative min-label propagation
    (operators/dedup.connected_components) over n-gram-Jaccard ≥ 0.6
    edges. The oracle computes the same fixpoint with a DuckDB recursive
    CTE — Spark's loop-of-joins with localCheckpoint IS the scalable
    twin of WITH RECURSIVE for small-diameter graphs."""
    pairs = DD.ngram_jaccard_pairs(_planted_docs(spark, sf_dir), "text", "doc_id", 3, 0.6)
    return DD.connected_components(pairs)


# ---------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------


@query(
    "similarity_brute_topk",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST({_DOT_DEC} AS DOUBLE)
               / (SQRT(CAST((SELECT SUM(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,15)))
                             FROM (SELECT UNNEST(a.embedding) AS x)) AS DOUBLE))
                  * SQRT(CAST((SELECT SUM(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,15)))
                               FROM (SELECT UNNEST(b.embedding) AS y)) AS DOUBLE)))
                   AS cosine
        FROM q a JOIN embeddings b ON a.vec_id != b.vec_id
    )
    SELECT query_id, neighbor_id, ROUND(cosine, 9) AS cosine,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= 10
    """,
)
def q_similarity_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for queries vec_id < 10: broadcast queries ×
    partitioned corpus, windowed rank (operators/similarity). The output
    score is rounded to 9 decimals: DuckDB's DECIMAL→DOUBLE cast is not
    correctly rounded, so raw doubles can differ in the last ulp."""
    emb = _t(spark, sf_dir, "embeddings")
    out = SIM.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=10)
    return out.withColumn("cosine", F.round("cosine", 9))


# ANN twins: every double sum below is a LEFT FOLD in vector order on
# both engines (Spark `aggregate(…, 0.0, acc+x)` ≡ DuckDB `list_reduce`),
# so projections, norms, and cosines are bit-identical — no rounding
# slack needed. The hyperplane matrix is embedded as literals via
# shortest-repr floats (exact round-trip on both parsers).


def _fold_dot(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {dim}), "
        f"j -> CAST({a}[j] AS DOUBLE) * CAST({b}[j] AS DOUBLE)), (x, y) -> x + y)"
    )


def _fold_norm(a: str, dim: int = 64) -> str:
    return f"sqrt({_fold_dot(a, a, dim)})"


_LSH_DIM, _LSH_PLANES, _LSH_BANDS, _LSH_SEED = 64, 16, 4, 42
_LSH_WIDTH = _LSH_PLANES // _LSH_BANDS
_W_SQL = "[" + ", ".join(
    "["
    + ", ".join(
        repr(SIM._hyperplane(_LSH_DIM, p, _LSH_SEED)[j]) for p in range(_LSH_PLANES)
    )
    + "]"
    for j in range(_LSH_DIM)
) + "]"


def _lsh_proj(p: int) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {_LSH_DIM}), "
        f"j -> CAST(embedding[j] AS DOUBLE) * W[j][{p + 1}]), (x, y) -> x + y)"
    )


_LSH_PACK = " + ".join(
    f"CASE WHEN {_lsh_proj(p)} >= 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END"
    for p in range(_LSH_PLANES)
)
_ANN_LSH_ORACLE = f"""
    WITH w AS (SELECT {_W_SQL} AS W),
    base AS (
        SELECT vec_id, embedding,
               {_LSH_PACK} AS sg,
               {_fold_norm('embedding')} AS nrm
        FROM embeddings, w
    ),
    banded AS (
        SELECT vec_id, embedding, nrm,
               ((sg >> (bnd * {_LSH_WIDTH})) & {(1 << _LSH_WIDTH) - 1})
                   | (bnd << {_LSH_WIDTH}) AS band
        FROM base, (SELECT UNNEST(generate_series(0, {_LSH_BANDS - 1})) AS bnd)
    ),
    cands AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               q.embedding AS qe, c.embedding AS ce, q.nrm AS qn, c.nrm AS cn
        FROM banded q JOIN banded c
          ON q.band = c.band AND q.vec_id != c.vec_id
        WHERE q.vec_id < 10
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               CASE WHEN qn > 0 AND cn > 0
                    THEN {_fold_dot('qe', 'ce')} / (qn * cn) END AS cosine
        FROM cands
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= 10
"""


@query("similarity_ann_lsh", _ANN_LSH_ORACLE)
def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via random-hyperplane LSH banding; recall vs
    brute force asserted in tests/test_similarity.py. Arithmetic band
    keys + order-preserving double folds make the DuckDB twin exact."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.ann_lsh_topk(emb, emb.filter(F.col("vec_id") < 10), dim=64, k=10)


_QUANT_ORACLE = f"""
    WITH scaled AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sc
        FROM embeddings
    ),
    quant AS (
        SELECT vec_id, sc,
               list_transform(embedding,
                   x -> CASE WHEN sc > 0
                             THEN CAST(floor(CAST(x AS DOUBLE) / sc + 0.5) AS INT)
                             ELSE 0 END) AS cq
        FROM scaled
    ),
    corpus AS (
        SELECT vec_id AS neighbor_id, sc, cq,
               CAST(list_sum(list_transform(cq,
                   x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS cn2
        FROM quant
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS qv,
               {_fold_norm('embedding')} AS qn
        FROM embeddings WHERE vec_id < 10
    ),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               CASE WHEN q.qn > 0 AND c.cn2 > 0 AND c.sc > 0
                    THEN list_reduce(list_transform(generate_series(1, 64),
                             j -> CAST(q.qv[j] AS DOUBLE) * CAST(c.cq[j] AS DOUBLE)),
                             (x, y) -> x + y)
                         / (q.qn * sqrt(CAST(c.cn2 AS DOUBLE))) END AS cosine_q8
        FROM q CROSS JOIN corpus c
        WHERE q.query_id != c.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_q8, CAST(rnk AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine_q8 DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= 10
"""


@query("similarity_quantized_topk", _QUANT_ORACLE)
def q_similarity_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized top-10 (operators/similarity.quantized_topk): the
    corpus side carries 4x fewer vector bytes; scores factor so the
    per-vector scale cancels and the corpus norm is integer-exact.
    floor-based quantization keeps the DuckDB twin bit-identical.
    Accuracy vs exact cosine asserted in tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.quantized_topk(emb, emb.filter(F.col("vec_id") < 10), k=10)


_IVF_CELLS, _IVF_PROBE = 16, 4
_IVF_ORACLE = f"""
    WITH cents AS (
        SELECT ROW_NUMBER() OVER (
                   ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 16), vec_id
               ) - 1 AS cell,
               embedding AS cv
        FROM (SELECT vec_id, embedding FROM embeddings
              ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 16)
              LIMIT {_IVF_CELLS})
    ),
    assigned AS (
        SELECT neighbor_id, nv, cell FROM (
            SELECT e.vec_id AS neighbor_id, e.embedding AS nv, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {_fold_dot('e.embedding', 'c.cv')} DESC, c.cell
                   ) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, qv, cell FROM (
            SELECT q.vec_id AS query_id, q.embedding AS qv, c.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_fold_dot('q.embedding', 'c.cv')} DESC, c.cell
                   ) AS rn
            FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10) q
            CROSS JOIN cents c
        ) WHERE rn <= {_IVF_PROBE}
    ),
    scored AS (
        SELECT p.query_id, a.neighbor_id,
               CASE WHEN {_fold_norm('p.qv')} > 0 AND {_fold_norm('a.nv')} > 0
                    THEN {_fold_dot('p.qv', 'a.nv')}
                         / ({_fold_norm('p.qv')} * {_fold_norm('a.nv')}) END
                   AS cosine
        FROM probes p JOIN assigned a USING (cell)
        WHERE p.query_id != a.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= 10
"""


@query("similarity_ivf", _IVF_ORACLE)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: md5-hex-sampled centroids (portable — same trick
    as operators/sampling), nprobe cell probing, fold-ordered double
    cosines; the DuckDB twin replays the exact assignment and ranking."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=10,
                        n_cells=16, nprobe=4)


# ---------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------


@query(
    "text_token_stats",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '\S+')) AS n_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]'))
               AS n_subword_tokens,
           length(text) AS n_chars_measured
    FROM documents
    """,
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting: whitespace tokens + BPE-ish subword regex count
    (operators/text.token_stats)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.token_stats(docs).select(
        "doc_id", "n_tokens", "n_subword_tokens", "n_chars_measured")


def _lang_hits_sql(lang: str) -> str:
    pats = [w if lang == "zh" else f" {w} " for w in TX.STOPWORDS[lang]]
    padded = "(' ' || regexp_replace(lower(text), '\\s+', ' ', 'g') || ' ')"
    terms = [
        f"CAST((length({padded}) - length(replace({padded}, '{p}', ''))) / {len(p)} AS BIGINT)"
        for p in pats
    ]
    return " + ".join(terms)


_LANG_SCORED = " UNION ALL ".join(
    f"SELECT doc_id, '{lang}' AS lang_cand, {_lang_hits_sql(lang)} AS hits FROM documents"
    for lang in sorted(TX.STOPWORDS)
)


@query(
    "text_language_id",
    f"""
    WITH scored AS ({_LANG_SCORED}),
    ranked AS (
        SELECT doc_id, lang_cand,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY hits DESC, lang_cand ASC) AS rn
        FROM scored
    )
    SELECT doc_id, lang_cand AS predicted_lang FROM ranked WHERE rn = 1
    """,
)
def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (operators/text.language_id): argmax of
    per-language stopword occurrence counts, ties to first language."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.language_id(docs).select("doc_id", "predicted_lang")


@query(
    "text_fingerprint",
    f"""
    SELECT doc_id, md5({_NORM}) AS doc_fingerprint FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over normalized text
    (functions/text.fingerprint)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.add_fingerprint(docs).select("doc_id", "doc_fingerprint")


@query(
    "text_quality_score",
    r"""
    WITH feat AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '\S+')) AS n_tokens,
               length(text) AS n_chars,
               length(text) - length(regexp_replace(text, '[\.,!\?;:]', '', 'g')) AS n_punct,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
           CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END AS digit_ratio
    FROM feat
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features (deterministic subset: counts + ratios)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.quality_score(docs).select(
        "doc_id", "n_tokens", "punct_ratio", "digit_ratio")


@query(
    "text_tfidf_topk",
    f"""
    WITH w AS (
        SELECT doc_id, UNNEST({_WORDS}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM w
        WHERE term <> '' GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.doc_freq,
               tf.tf * (CAST(n.n_docs AS DOUBLE) / dfreq.doc_freq) AS score
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, term ASC) AS rnk
        FROM scored
    )
    SELECT doc_id, term, tf, doc_freq, score, CAST(rnk AS INT) AS rank
    FROM ranked WHERE rnk <= 3
    """,
)
def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by rational tf-idf
    (operators/text.tfidf_topk): log-free idf keeps the score
    bit-identical across engines."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.tfidf_topk(docs, "text", "doc_id", 3)


@query(
    "text_decontaminate",
    f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 3, 1)),
                   i -> array_to_string(w[i:i+3], ' '))) AS shingles
        FROM w
    ),
    s AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    ex AS (
        SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
        FROM s
    ),
    bench AS (SELECT * FROM ex WHERE doc_id % 97 = 0),
    train AS (SELECT * FROM ex WHERE doc_id % 97 <> 0)
    SELECT t.doc_id,
           COUNT(DISTINCT t.h) AS n_shared_shingles,
           COUNT(DISTINCT b.doc_id) AS n_benchmark_docs
    FROM train t JOIN bench b ON t.h = b.h
    GROUP BY 1
    """,
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/text.decontaminate): flag
    training docs sharing any 4-word shingle with the held-out
    benchmark slice (doc_id % 97 == 0); the benchmark side broadcasts,
    so the corpus scan never shuffles."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return TX.decontaminate(train, bench, "text", "doc_id", 4)


@query(
    "text_repetition_stats",
    f"""
    WITH w AS (
        SELECT doc_id, list_filter({_WORDS}, x -> x <> '') AS w FROM documents
    ),
    g AS (
        SELECT doc_id, w,
               CASE WHEN len(w) >= 2
                    THEN list_transform(generate_series(1, len(w) - 1),
                                        i -> w[i] || ' ' || w[i+1])
                    ELSE [] END AS g2
        FROM w
    )
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           CASE WHEN len(w) > 0
                THEN 1.0 - len(list_distinct(w)) / len(w)
                ELSE 0.0 END AS dup_word_frac,
           CASE WHEN len(g2) > 0
                THEN 1.0 - len(list_distinct(g2)) / len(g2)
                ELSE 0.0 END AS dup_2gram_frac
    FROM g
    """,
)
def q_text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (operators/text.repetition_stats):
    duplicate-word and duplicate-2-gram fractions, map-only."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.repetition_stats(docs).select(
        "doc_id", "n_words", "dup_word_frac", "dup_2gram_frac"
    )


@query(
    "corpus_prep_pipeline",
    f"""
    WITH w AS (
        SELECT doc_id, source, n_chars,
               list_filter({_WORDS}, x -> x <> '') AS w
        FROM documents
    ),
    q AS (
        SELECT doc_id, source, n_chars, w FROM w
        WHERE len(w) >= 20
          AND 1.0 - len(list_distinct(w)) / len(w) < 0.65
          AND doc_id % 97 <> 0
    ),
    qsh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 3, 1)),
                   i -> array_to_string(w[i:i+3], ' '))) AS shingles
        FROM q
    ),
    qex AS (
        SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id, UNNEST(shingles) AS s FROM qsh)
    ),
    bsh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 3, 1)),
                   i -> array_to_string(w[i:i+3], ' '))) AS shingles
        FROM w WHERE doc_id % 97 = 0
    ),
    bex AS (
        SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
        FROM (SELECT doc_id, UNNEST(shingles) AS s FROM bsh)
    ),
    contaminated AS (
        SELECT DISTINCT t.doc_id FROM qex t JOIN bex b ON t.h = b.h
    ),
    kept AS (
        SELECT doc_id, source, n_chars FROM q
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
          AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
    ),
    packed AS (
        SELECT source, CAST(doc_id % 8 AS INTEGER) AS shard, n_chars,
               CAST((SUM(n_chars) OVER w2 - n_chars) // 4096 AS BIGINT)
                   AS pack_id
        FROM kept
        WINDOW w2 AS (PARTITION BY source, doc_id % 8 ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING)
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT shard * 1000000 + pack_id) AS BIGINT) AS n_packs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM packed GROUP BY source
    """,
)
def q_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation — the operators composed
    the way a real 100 TB pre-training run chains them:

    1. quality gate   (repetition_stats: n_words ≥ 20, dup_word_frac < 0.65)
    2. decontaminate  (drop docs sharing a 4-gram with the benchmark
                       slice doc_id %% 97 == 0; benchmark broadcast)
    3. split          (hash_split, keep the 80%% train partition)
    4. pack           (running-offset packing, 4096-char budget,
                       8 shards per source)
    5. audit          (per-source doc/pack/char accounting)

    Every stage is the first-class operator, not a re-implementation;
    the whole chain is one declarative plan Catalyst optimizes end to
    end (the quality filter pushes into the scan feeding BOTH the
    shingle branch and the packing branch)."""
    from .operators import sampling as SMP

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", "text"
    )
    rep = TX.repetition_stats(docs)
    q = rep.filter(
        (F.col("n_words") >= 20)
        & (F.col("dup_word_frac") < 0.65)
        & (F.col("doc_id") % 97 != 0)
    ).select("doc_id", "source", "n_chars", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    contaminated = TX.decontaminate(q, bench, "text", "doc_id", 4).select("doc_id")
    kept = (
        q.join(contaminated, "doc_id", "left_anti")
        .transform(
            lambda d: SMP.hash_split(
                d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
            )
        )
        .filter(F.col("split") == "train")
        .select("doc_id", "source", "n_chars")
    )
    packed = SMP.pack_sequences(kept, "doc_id", "n_chars", 4096, "source", 8)
    return packed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(
            F.col("shard").cast("long") * 1000000 + F.col("pack_id")
        ).alias("n_packs"),
        F.sum("n_chars").alias("sum_chars"),
    )


_SYNTH_PHONE = (
    "substr(lpad(CAST(c_custkey * 7919 + 12345 AS VARCHAR), 10, '0'), 1, 3)"
    " || '-' || substr(lpad(CAST(c_custkey * 7919 + 12345 AS VARCHAR), 10, '0'), 4, 3)"
    " || '-' || substr(lpad(CAST(c_custkey * 7919 + 12345 AS VARCHAR), 10, '0'), 7, 4)"
)


@query(
    "text_pii_pseudonymize",
    f"""
    WITH c AS (SELECT c_custkey, c_name, {_SYNTH_PHONE} AS c_phone FROM customer)
    SELECT c_custkey,
           md5(c_name) AS c_name,
           regexp_replace(substr(c_phone, 1, length(c_phone) - 4),
                          '[0-9]', '*', 'g')
             || substr(c_phone, length(c_phone) - 3, 4) AS c_phone,
           length(c_phone)
             - length(regexp_replace(c_phone, '[0-9]', '', 'g'))
             AS n_phone_digits
    FROM c
    """,
)
def q_text_pii_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pseudonymization (operators/text.pseudonymize): stable md5
    surrogate for the name, digit-masked phone keeping the last 4 —
    one codegen'd scan, no shuffle. The testdata carries no PII-shaped
    column, so a deterministic synthetic phone is derived from
    c_custkey identically on both engines; the operator under test is
    the masking/surrogate rewrite, not the synthesis."""
    digits = F.lpad((F.col("c_custkey") * 7919 + 12345).cast("string"), 10, "0")
    cust = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .withColumn(
            "c_phone",
            F.concat_ws(
                "-",
                F.substring(digits, 1, 3),
                F.substring(digits, 4, 3),
                F.substring(digits, 7, 4),
            ),
        )
        # digit audit on the RAW value, before masking rewrites it
        .withColumn(
            "n_phone_digits",
            (
                F.length("c_phone")
                - F.length(F.regexp_replace(F.col("c_phone"), "[0-9]", ""))
            ).cast("long"),
        )
    )
    return TX.pseudonymize(cust, ["c_name"], ["c_phone"], keep_last=4).select(
        "c_custkey", "c_name", "c_phone", "n_phone_digits"
    )


@query(
    "text_ngram_counts",
    f"""
    WITH w AS (SELECT {_WORDS} AS ws FROM documents),
    g AS (
        SELECT ws[i] || ' ' || ws[i + 1] AS ngram
        FROM w, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
        WHERE len(ws) >= 2
    )
    SELECT ngram, COUNT(*) AS n_occurrences FROM g GROUP BY 1
    ORDER BY n_occurrences DESC, ngram ASC LIMIT 50
    """,
)
def q_text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram census (operators/text.ngram_counts): top-50 word
    2-grams under a total order. N-grams are built in codegen from the
    bound word array and pre-combined map-side; the global top-k runs
    as TakeOrderedAndProject (per-partition k-heaps, k rows to the
    driver merge) — no global sort, no UDF."""
    docs = _t(spark, sf_dir, "documents").select("text")
    return TX.ngram_counts(docs, "text", n=2, k=50)


@query(
    "fuzzy_join_levenshtein",
    """
    WITH probes AS (
        SELECT p_partkey AS probe_id,
               substr(p_name, 1, length(p_name) - 1) || 'q' AS probe_text
        FROM part WHERE p_partkey % 100 = 0
    )
    SELECT p.probe_id, p.probe_text, t.p_partkey, t.p_name,
           levenshtein(p.probe_text, t.p_name) AS edit_distance
    FROM probes p
    JOIN part t
      ON split_part(p.probe_text, ' ', 1) = split_part(t.p_name, ' ', 1)
     AND abs(length(p.probe_text) - length(t.p_name)) <= 2
    WHERE levenshtein(p.probe_text, t.p_name) <= 2
    """,
)
def q_fuzzy_join_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (edit-distance ≤ 2) join (operators/dedup.
    fuzzy_pairs): probes are part names with the last character
    deterministically typo'd, matched back to the corpus via
    (first-word, length-band) blocking and a threshold Levenshtein —
    banded O(len·k) DP only on same-block candidates, never a
    cartesian comparison."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    probes = part.filter(F.col("p_partkey") % 100 == 0).select(
        F.col("p_partkey").alias("probe_id"),
        F.concat(
            F.expr("substr(p_name, 1, length(p_name) - 1)"), F.lit("q")
        ).alias("p_name"),
    )
    return DD.fuzzy_pairs(
        part, probes, text_col="p_name", id_col="p_partkey",
        probe_id_col="probe_id", max_dist=2,
    )


# ---------------------------------------------------------------------
# clustering (operators/clustering.py)
# ---------------------------------------------------------------------

_KM_K, _KM_DIM = 8, 64
# SemDeDup cluster count scales with the corpus (k ∝ n, the paper's
# tractability argument and this repo's documented anti-pattern fix:
# fixed k makes within-cluster pairs n²/k — the sf1 lane measured it at
# 12.5× wall for 10× data before this landed). One cluster per ~250
# vectors; the floor keeps driver-sf results (n≈2020 → k=8) unchanged.
_KM_PER = 250


def _d2(a: str, c: str, dim: int = _KM_DIM) -> str:
    """Sequential-fold squared L2 — the DuckDB twin of clustering._sq_l2
    (left fold in component order ⇒ bit-identical doubles)."""
    diff = f"(CAST({a}[j] AS DOUBLE) - {c}[j])"
    return (
        f"list_reduce(list_transform(generate_series(1, {dim}), "
        f"j -> {diff} * {diff}), (x, y) -> x + y)"
    )


_KMEANS_ORACLE = f"""
    WITH pts AS (
        SELECT vec_id, embedding,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
                   AS xq
        FROM embeddings
    ),
    seeds AS (
        SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cell,
               list_transform(xq, v -> CAST(v AS DOUBLE) / 1000000.0) AS c
        FROM (SELECT vec_id, xq,
                     substr(md5(CAST(vec_id AS VARCHAR)), 1, 16) AS h
              FROM pts ORDER BY h LIMIT {_KM_K})
    ),
    a0 AS (
        SELECT vec_id, xq, cell FROM (
            SELECT p.vec_id, p.xq, s.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY {_d2('p.embedding', 's.c')} ASC, s.cell ASC
                   ) AS rn
            FROM pts p CROSS JOIN seeds s
        ) WHERE rn = 1
    ),
    s1 AS (
        SELECT cell, j, SUM(xq[j]) AS s
        FROM a0, UNNEST(generate_series(1, {_KM_DIM})) AS t(j)
        GROUP BY cell, j
    ),
    n1 AS (SELECT cell, COUNT(*) AS n FROM a0 GROUP BY cell),
    c1 AS (
        SELECT s1.cell,
               list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY j) AS c
        FROM s1 JOIN n1 USING (cell) GROUP BY s1.cell, n
    ),
    a1 AS (
        SELECT vec_id, cell FROM (
            SELECT p.vec_id, u.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY {_d2('p.embedding', 'u.c')} ASC, u.cell ASC
                   ) AS rn
            FROM pts p CROSS JOIN c1 u
        ) WHERE rn = 1
    )
    SELECT vec_id, cell AS cluster,
           COUNT(*) OVER (PARTITION BY cell) AS cluster_size
    FROM a1
"""


@query("kmeans_clusters", _KMEANS_ORACLE)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (operators/clustering.kmeans_lloyd):
    md5-seeded, 2 iterations, integer micro-unit centroid sums (order-
    independent, engine-exact) and sequential-fold distances — the
    DuckDB twin replays both iterations bit-identically."""
    from .operators.clustering import kmeans_lloyd

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, "embedding", "vec_id", k=_KM_K, iters=2)


_PROTO_ORACLE = """
    WITH q AS (
        SELECT vec_id, vec_id % 7 AS cluster,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS qv
        FROM embeddings
    ),
    e AS (
        SELECT vec_id, cluster,
               unnest(qv) AS v,
               unnest(range(1, len(qv) + 1)) AS j
        FROM q
    ),
    s AS (SELECT cluster, j, SUM(v) AS sj FROM e GROUP BY 1, 2),
    n AS (SELECT cluster, COUNT(*) AS cn FROM q GROUP BY 1),
    sc AS (
        SELECT e.vec_id, e.cluster,
               SUM((CAST(n.cn AS HUGEINT) * e.v - s.sj)
                   * (CAST(n.cn AS HUGEINT) * e.v - s.sj)) AS score
        FROM e
        JOIN s ON s.cluster = e.cluster AND s.j = e.j
        JOIN n ON n.cluster = e.cluster
        GROUP BY 1, 2
    )
    SELECT sc.vec_id, sc.cluster,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY sc.cluster ORDER BY sc.score, sc.vec_id
           ) AS INT) AS proto_rank,
           CAST(n.cn AS BIGINT) AS cluster_n,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY sc.cluster ORDER BY sc.score, sc.vec_id
           ) AS INT) <= CAST(ceil(0.75 * n.cn) AS INT) AS kept
    FROM sc JOIN n ON n.cluster = sc.cluster
"""


@query("prune_prototype_distance", _PROTO_ORACLE)
def q_prune_prototype_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototype data pruning (operators/clustering.prototype_prune
    — round 12; Sorscher et al. 2022): per cluster, rank vectors by
    distance to the cluster centroid and keep the closest 75% — the
    cheap pruning metric that beats random subsampling in that paper,
    and the stage between clustering and training-set packing. Ranks
    are ENGINE-EXACT: micro-unit quantization + the division-free
    integer form Σ(n·q − S)² ∝ centroid distance², so the oracle
    replays the exact ranking (DuckDB in HUGEINT, Spark in
    DECIMAL(38,0)) with no float summation anywhere. Plan: one
    posexplode + (cluster, dim) integer sum broadcast back as arrays,
    per-row score in one codegen'd fold, one cluster-keyed window."""
    from .operators.clustering import prototype_prune

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "cluster", F.col("vec_id") % 7
    )
    return prototype_prune(emb, "embedding", "vec_id", "cluster", 0.75)


@query(
    "doc_length_histogram",
    """
    SELECT CAST(FLOOR(LOG2(GREATEST(n_chars, 1))) AS BIGINT) AS log2_bucket,
           COUNT(*) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY 1
    """,
)
def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document-length histogram — the first look any
    corpus audit takes (truncation spikes, empty-doc mass, heavy tail).
    Map-side partial aggregation over power-of-two buckets: the shuffle
    carries ~64 rows per partition whatever the corpus size. floor(log2)
    is exact at the bucket boundaries (powers of two are exact in IEEE
    double) so both engines bucket identically."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            F.floor(F.log2(F.greatest(F.col("n_chars"), F.lit(1))))
            .cast("bigint")
            .alias("log2_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


_FREQ_SCORE_ORACLE = f"""
    WITH ref AS (
        SELECT UNNEST(list_filter({_WORDS}, x -> x <> '')) AS w
        FROM documents WHERE doc_id % 2 = 0
    ),
    vocab AS (SELECT w, COUNT(*) AS cnt FROM ref GROUP BY w),
    total AS (SELECT SUM(cnt) AS tot FROM vocab),
    doc_words AS (
        SELECT doc_id, UNNEST(list_filter({_WORDS}, x -> x <> '')) AS w
        FROM documents WHERE doc_id % 2 = 1
    ),
    matched AS (
        SELECT d.doc_id,
               COUNT(*) AS n_words,
               COUNT(v.w) AS n_in_vocab,
               COALESCE(SUM(v.cnt), 0) AS matched_cnt
        FROM doc_words d LEFT JOIN vocab v ON d.w = v.w
        GROUP BY d.doc_id
    )
    SELECT doc_id, n_words,
           CAST(n_words - n_in_vocab AS BIGINT) AS n_oov,
           CAST(matched_cnt AS BIGINT) AS matched_cnt,
           ROUND(CAST(matched_cnt AS DOUBLE)
                 / (n_words * (SELECT tot FROM total)), 12) AS mean_ref_freq
    FROM matched
"""


@query("text_corpus_freq_score", _FREQ_SCORE_ORACLE)
def q_text_corpus_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency quality scoring (the engine-exact core of an
    LM-perplexity filter a la CCNet): a reference half of the corpus
    (even doc_ids) defines a unigram frequency table; each held-out doc
    (odd doc_ids) is scored by its words' mean relative frequency in
    the reference, with out-of-vocabulary words counted separately.
    Gibberish scores low, natural text high — and unlike log-prob sums,
    integer count sums + ONE final double division are bit-identical
    across engines (double log summation is order-dependent).

    Plan: explode ref words -> one vocab aggregate; explode held-out
    words -> broadcast-joined against vocab (a unigram vocab fits in
    memory at any corpus scale; Zipf caps its growth) -> one per-doc
    aggregate. Two shuffles total, both on pre-aggregated keys."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    wcol = F.filter(TX.words("text"), lambda x: x != "")
    ref = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(wcol).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = ref.agg(F.sum("cnt").alias("tot"))
    doc_words = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", F.explode(wcol).alias("w"))
    )
    matched = (
        doc_words.join(F.broadcast(ref), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.count("cnt").alias("n_in_vocab"),
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("matched_cnt"),
        )
    )
    return matched.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_words",
        (F.col("n_words") - F.col("n_in_vocab")).cast("bigint").alias("n_oov"),
        F.col("matched_cnt").cast("bigint").alias("matched_cnt"),
        F.round(
            F.col("matched_cnt").cast("double")
            / (F.col("n_words") * F.col("tot")),
            12,
        ).alias("mean_ref_freq"),
    )


_NTILE_ORACLE = f"""
    WITH scored AS (
        SELECT doc_id, source,
               len(list_filter({_WORDS}, x -> x <> '')) AS n_words
        FROM documents
    )
    SELECT doc_id, source, CAST(n_words AS BIGINT) AS n_words
    FROM (
        SELECT *, NTILE(4) OVER (PARTITION BY source
                                 ORDER BY n_words DESC, doc_id) AS q
        FROM scored
    )
    WHERE q = 1
"""


@query("quality_quantile_filter", _NTILE_ORACLE)
def q_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-quantile gate: keep each source's top quartile
    by a quality signal (word count here; any score column slots in) —
    the relative-threshold filter real corpus pipelines use when
    absolute thresholds would starve low-resource sources. NTILE over
    (source) is one shuffle; the (score, doc_id) order makes quartile
    boundaries deterministic on both engines. At 100 TB, swap NTILE for
    approx_percentile per source (computed in one pass, broadcast back)
    to avoid sorting each source's full partition."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = docs.select(
        "doc_id",
        "source",
        F.size(F.filter(TX.words("text"), lambda x: x != "")).alias("n_words"),
    )
    w = W.partitionBy("source").orderBy(F.col("n_words").desc(), F.col("doc_id"))
    return (
        scored.withColumn("__q", F.ntile(4).over(w))
        .filter(F.col("__q") == 1)
        .select("doc_id", "source", F.col("n_words").cast("bigint").alias("n_words"))
    )


@query(
    "sample_importance_weighted",
    f"""
    WITH scored AS (
        SELECT doc_id, source,
               len(list_filter({_WORDS}, x -> x <> '')) AS n_words
        FROM documents
    )
    SELECT source, COUNT(*) AS n_kept,
           CAST(SUM(n_words) AS BIGINT) AS kept_words
    FROM scored
    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          * 500 < CAST(n_words AS BIGINT) * 4294967296
    GROUP BY source
    """,
)
def q_sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted corpus sampling (operators/sampling.
    weighted_sample): each doc kept with probability min(1, n_words/500)
    — longer (higher-quality) docs upsampled, short ones thinned. The
    md5-uniform vs weight comparison is exact integer arithmetic, so
    the DuckDB twin replays the identical kept set."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    from .operators.sampling import weighted_sample

    scored = docs.select(
        "doc_id", "source",
        F.size(F.filter(TX.words("text"), lambda x: x != "")).alias("n_words"),
    )
    kept = weighted_sample(scored, "doc_id", "n_words", 500)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_words").cast("bigint").alias("kept_words"),
    )


@query(
    "dedup_subdoc_chunks",
    """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    chunks AS (
        SELECT doc_id, idx,
               array_to_string(ws[(idx-1)*8+1 : (idx-1)*8+8], ' ') AS chunk
        FROM (
            SELECT doc_id, ws,
                   UNNEST(generate_series(1,
                       CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS idx
            FROM w
        )
    ),
    firsts AS (
        SELECT chunk, MIN(doc_id * 100000 + idx) AS first_key
        FROM chunks GROUP BY chunk
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN c.doc_id * 100000 + c.idx = f.first_key
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM chunks c JOIN firsts f USING (chunk)
    GROUP BY c.doc_id
    """,
)
def q_dedup_subdoc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (C4/line-level) dedup: documents split into 8-word
    chunks; each distinct chunk survives only at its FIRST corpus
    occurrence (min (doc_id, position)), and the query reports per-doc
    kept-vs-total chunk counts — the granularity web-corpus pipelines
    dedup at, below the whole-document fingerprint ops.

    Scale: the explode emits one row per chunk (~n_words/8), but the
    winner aggregate and the kept-count join both key on the chunk's
    xxhash64 — an 8-byte shuffle payload regardless of chunk text
    length, the same inverted-index discipline as the shingle ops.
    Keep-first is min over the single integer doc_id*100000+idx (idx
    bounded by 100k-word docs), which is order-insensitive and
    engine-portable where a struct-min would not be. Two shuffles
    total (winner per chunk-hash; per-doc recount) at any corpus
    size."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ws = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(ws) / F.lit(8.0)).cast("bigint")
    chunks = (
        docs.select(
            "doc_id",
            F.explode_outer(F.sequence(F.lit(1), n_chunks)).alias("idx"),
            ws.alias("__ws"),
        )
        .select(
            "doc_id",
            "idx",
            F.array_join(
                F.slice(F.col("__ws"), (F.col("idx") - 1) * 8 + 1, 8), " "
            ).alias("chunk"),
        )
        .withColumn("__ck", F.xxhash64("chunk"))
        .withColumn("__pos", F.col("doc_id") * 100000 + F.col("idx"))
    )
    firsts = chunks.groupBy("__ck").agg(F.min("__pos").alias("__first"))
    return (
        chunks.join(firsts, "__ck")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(
                F.when(F.col("__pos") == F.col("__first"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_kept"),
        )
    )


_SEM_NORM_A = (
    "SQRT(CAST((SELECT SUM(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,15)))"
    " FROM (SELECT UNNEST(a.embedding) AS x)) AS DOUBLE))"
)
_SEM_NORM_B = (
    "SQRT(CAST((SELECT SUM(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,15)))"
    " FROM (SELECT UNNEST(b.embedding) AS y)) AS DOUBLE))"
)

_SEMANTIC_ORACLE = f"""
    WITH pts AS (
        SELECT vec_id, embedding,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
                   AS xq
        FROM ({_PLANTED_EMB})
    ),
    seeds AS (
        SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cell,
               list_transform(xq, v -> CAST(v AS DOUBLE) / 1000000.0) AS c
        FROM (SELECT vec_id, xq,
                     substr(md5(CAST(vec_id AS VARCHAR)), 1, 16) AS h
              FROM pts ORDER BY h LIMIT greatest({_KM_K}, (SELECT COUNT(*) FROM pts) // {_KM_PER}))
    ),
    a0 AS (
        SELECT vec_id, xq, cell FROM (
            SELECT p.vec_id, p.xq, s.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY {_d2('p.embedding', 's.c')} ASC, s.cell ASC
                   ) AS rn
            FROM pts p CROSS JOIN seeds s
        ) WHERE rn = 1
    ),
    s1 AS (
        SELECT cell, j, SUM(xq[j]) AS s
        FROM a0, UNNEST(generate_series(1, {_KM_DIM})) AS t(j)
        GROUP BY cell, j
    ),
    n1 AS (SELECT cell, COUNT(*) AS n FROM a0 GROUP BY cell),
    c1 AS (
        SELECT s1.cell,
               list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY j) AS c
        FROM s1 JOIN n1 USING (cell) GROUP BY s1.cell, n
    ),
    a1 AS (
        SELECT vec_id, cell FROM (
            SELECT p.vec_id, u.cell,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY {_d2('p.embedding', 'u.c')} ASC, u.cell ASC
                   ) AS rn
            FROM pts p CROSS JOIN c1 u
        ) WHERE rn = 1
    ),
    e AS (
        SELECT p.vec_id, p.embedding, a1.cell
        FROM pts p JOIN a1 USING (vec_id)
    ),
    drops AS (
        SELECT DISTINCT b.vec_id
        FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE CAST({_DOT_DEC} AS DOUBLE) / ({_SEM_NORM_A} * {_SEM_NORM_B})
              >= 0.95
    )
    SELECT e.vec_id, e.cell AS cluster
    FROM e
    WHERE e.vec_id NOT IN (SELECT vec_id FROM drops)
"""


@query("dedup_semantic", _SEMANTIC_ORACLE)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-prune) over the planted-duplicate
    embedding corpus: the deterministic 2-iter k-means replay assigns
    every vector a cluster, then operators/dedup.semantic_dedup drops
    any vector with a smaller-id cosine≥0.95 neighbor WITHIN its
    cluster. Planted exact dups always land in their original's cluster
    (identical vectors ⇒ identical distances, ties broken by cell) and
    score cosine 1.0, so they are guaranteed drops at any SF.

    Scale shape: broadcast centroids for assignment (k×dim floats), the
    quadratic cosine step is confined to clusters (size ≈ n/k; choose
    k ∝ n to bound it — the SemDeDup paper's tractability argument),
    and the keep-min prune is one anti-join on 8-byte ids."""
    from .operators.clustering import kmeans_lloyd
    from .operators.dedup import semantic_dedup

    from pyspark import StorageLevel

    # Repartition to the session's parallelism BEFORE the O(n·k)
    # assignment: a compact parquet layout (sf1: one file → 2 splits)
    # otherwise runs the compute-heavy distance stage on 2 of 32 cores
    # — the sf1 lane measured k-means at 35 s that way, ~3 s wide. At
    # 100 TB this is the standard "CPU-bound stage needs cores, not
    # input splits" repartition; the 10 MB vector shuffle is noise.
    emb = _planted_emb(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    # k ∝ n (one cluster per ~250 vectors, floor _KM_K): bounds the
    # within-cluster quadratic to a constant per-cluster cost — the sf1
    # lane measured the fixed-k version at 12.5× wall for 10× data.
    # The count() is a single 1-row job over the planted frame.
    k = max(_KM_K, emb.count() // _KM_PER)
    assign = kmeans_lloyd(emb, "embedding", "vec_id", k=k, iters=2)
    # persist the clustered corpus: BOTH sides of the within-cluster
    # self-join (and the final anti-join) reuse it — without this the
    # whole iterative k-means lineage re-executes once per consumer
    # (measured 7.1s -> ~3s at sf0.1)
    e = (
        emb.join(assign.select("vec_id", "cluster"), "vec_id")
        .select("vec_id", "embedding", "cluster")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return semantic_dedup(e, "embedding", "vec_id", "cluster", 0.95).select(
        "vec_id", "cluster"
    )


@query(
    "dedup_incremental_corpus",
    f"""
    WITH standing AS (
        SELECT DISTINCT md5({_NORM}) AS doc_fingerprint
        FROM documents WHERE doc_id % 2 = 0
    ),
    batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text
        FROM documents WHERE doc_id % 4 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text
        FROM documents WHERE doc_id % 50 = 1
    ),
    batch_dedup AS (
        SELECT md5({_NORM}) AS fp, MIN(doc_id) AS doc_id
        FROM batch GROUP BY 1
    )
    SELECT b.doc_id, b.text
    FROM batch b
    JOIN batch_dedup d ON b.doc_id = d.doc_id
    WHERE d.fp NOT IN (SELECT doc_fingerprint FROM standing)
    """,
)
def q_dedup_incremental_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus growth (operators/dedup.incremental_dedup):
    the standing corpus (even doc_ids) is represented ONLY by its
    16-byte fingerprint table; an incoming batch — genuinely-new odd
    docs, planted re-submissions of standing docs (id+1e6, must be
    rejected), and planted within-batch dups (id+2e6, only the smallest
    id survives) — is deduped internally and anti-joined against the
    standing fingerprints. At 100 TB the corpus is never reprocessed:
    the admission cost is one shuffle of the BATCH plus an anti-join
    whose standing side is md5-only (~1/1000th of corpus bytes), and
    appending survivors' fingerprints maintains the invariant."""
    from .functions.text import fingerprint
    from .operators.dedup import incremental_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    standing = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(fingerprint("text").alias("doc_fingerprint"))
        .dropDuplicates()
    )
    batch = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .unionByName(
            docs.filter(F.col("doc_id") % 4 == 0)
            .withColumn("doc_id", F.col("doc_id") + 1000000)
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 50 == 1)
            .withColumn("doc_id", F.col("doc_id") + 2000000)
        )
    )
    return incremental_dedup(batch, standing, "text", "doc_id")


# ---------------------------------------------------------------------
# round 7 additions: Gopher rules, duplicated spans, Z-order layout
# ---------------------------------------------------------------------

_GOPHER_REQ_SQL = " + ".join(
    f"CASE WHEN position(' {w} ' IN padded) > 0 THEN 1 ELSE 0 END"
    for w in ("the", "be", "to", "of", "and", "that", "have", "with")
)


@query(
    "text_gopher_rules",
    rf"""
    WITH base AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS w,
               regexp_extract_all(text, '\S+') AS t,
               string_split(text, chr(10)) AS lines,
               ' ' || regexp_replace(lower(text), '\s+', ' ', 'g') || ' ' AS padded,
               text
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS sum_wl,
               CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
               CAST((length(text) - length(replace(text, '...', ''))) // 3
                    + (length(text) - length(replace(text, '…', ''))) AS BIGINT) AS n_ell,
               CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS BIGINT) AS bullet_lines,
               CAST(len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS BIGINT) AS ellipsis_lines,
               CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_tokens,
               CAST({_GOPHER_REQ_SQL} AS BIGINT) AS n_required_stopwords
        FROM base
    )
    SELECT doc_id, n_words, n_lines,
           n_hash + n_ell AS n_symbols,
           n_required_stopwords,
           n_words >= 50 AND n_words <= 100000 AS ok_word_count,
           n_words > 0 AND sum_wl >= 3 * n_words AND sum_wl <= 10 * n_words AS ok_mean_word_len,
           10 * (n_hash + n_ell) <= n_words AS ok_symbol_ratio,
           10 * bullet_lines <= 9 * n_lines AS ok_bullet_lines,
           10 * ellipsis_lines <= 3 * n_lines AS ok_ellipsis_lines,
           n_tokens > 0 AND 5 * alpha_tokens >= 4 * n_tokens AS ok_alpha_words,
           n_required_stopwords >= 2 AS ok_stopwords,
           (n_words >= 50 AND n_words <= 100000)
               AND (n_words > 0 AND sum_wl >= 3 * n_words AND sum_wl <= 10 * n_words)
               AND (10 * (n_hash + n_ell) <= n_words)
               AND (10 * bullet_lines <= 9 * n_lines)
               AND (10 * ellipsis_lines <= 3 * n_lines)
               AND (n_tokens > 0 AND 5 * alpha_tokens >= 4 * n_tokens)
               AND (n_required_stopwords >= 2) AS pass_gopher
    FROM m
    """,
)
def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher quality-rule gate (operators/text.gopher_rules):
    seven document filters from Rae et al. 2021 appendix A1.1, all as
    exact integer cross-multiplications so no float ratio crosses the
    engine boundary. Map-only — at 100 TB this fuses into the scan."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.gopher_rules(docs).select(
        "doc_id", "n_words", "n_lines", "n_symbols", "n_required_stopwords",
        "ok_word_count", "ok_mean_word_len", "ok_symbol_ratio",
        "ok_bullet_lines", "ok_ellipsis_lines", "ok_alpha_words",
        "ok_stopwords", "pass_gopher",
    )


@query(
    "dedup_span_ngram",
    f"""
    WITH d2 AS ({{planted}}),
    w AS (SELECT doc_id, {{words}} AS w FROM d2),
    lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM w),
    g AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(w[i:i+4], ' ') AS gram
        FROM w, UNNEST(generate_series(1, len(w) - 4)) AS s(i)
    ),
    f AS (
        SELECT gram FROM (SELECT gram, COUNT(*) AS c FROM g GROUP BY 1)
        WHERE c >= 2
    ),
    dp AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (gram)),
    cov AS (
        SELECT doc_id, CAST(COUNT(DISTINCT p) AS BIGINT) AS n_dup_words
        FROM dp, UNNEST(generate_series(pos, pos + 4)) AS c(p)
        GROUP BY 1
    )
    SELECT l.doc_id, l.n_words,
           COALESCE(cov.n_dup_words, 0) AS n_dup_words,
           CASE WHEN l.n_words > 0
                THEN CAST(COALESCE(cov.n_dup_words, 0) AS DOUBLE) / l.n_words
                ELSE 0.0 END AS dup_ratio
    FROM lens l LEFT JOIN cov USING (doc_id)
    """.format(planted=_PLANTED_DOCS, words=_WORDS),
)
def q_dedup_span_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span accounting, Lee-et-al style
    (operators/dedup.duplicated_span_stats): per document, the number
    of word positions covered by a corpus-duplicated 5-gram — the
    distributed, fixed-n stand-in for suffix-array ExactSubstr. Two
    shuffles total (gram-frequency count + join-back); grams travel as
    8-byte xxhash64 keys, the oracle joins the strings directly."""
    return DD.duplicated_span_stats(
        _planted_docs(spark, sf_dir), "text", "doc_id", n=5, min_freq=2
    )


_LADDER_FILLER_SQL = " || ".join(
    f"' zzlad' || CAST(doc_id AS VARCHAR) || 'w{j}'" for j in range(4)
)

_LADDER_LEVEL_SQL = """
    g{n} AS (
        SELECT doc_id, array_to_string(w[i:i+{n1}], ' ') AS gram
        FROM w, UNNEST(generate_series(1, len(w) - {n1})) AS s{n}(i)
    ),
    h{n} AS (
        SELECT DISTINCT doc_id FROM g{n}
        WHERE gram IN (
            SELECT gram FROM (
                SELECT gram, COUNT(*) AS c FROM g{n} GROUP BY 1
            ) WHERE c >= 2
        )
    )"""


@query(
    "dedup_exactsubstr_ladder",
    f"""
    WITH d2 AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
        WHERE doc_id % 50 = 0
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id,
               array_to_string(({_WORDS})[1:12], ' ') || {_LADDER_FILLER_SQL}
                   AS text
        FROM documents WHERE doc_id % 40 = 0
    ),
    w AS (SELECT doc_id, {_WORDS} AS w FROM d2),
    lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM w),
    {_LADDER_LEVEL_SQL.format(n=5, n1=4)},
    {_LADDER_LEVEL_SQL.format(n=10, n1=9)},
    {_LADDER_LEVEL_SQL.format(n=20, n1=19)}
    SELECT l.doc_id, l.n_words,
           CAST(CASE WHEN h20.doc_id IS NOT NULL THEN 20
                     WHEN h10.doc_id IS NOT NULL THEN 10
                     WHEN h5.doc_id IS NOT NULL THEN 5
                     ELSE 0 END AS BIGINT) AS span_ge
    FROM lens l
    LEFT JOIN h5 ON l.doc_id = h5.doc_id
    LEFT JOIN h10 ON l.doc_id = h10.doc_id
    LEFT JOIN h20 ON l.doc_id = h20.doc_id
    """,
)
def q_dedup_exactsubstr_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length ExactSubstr via the length-doubling gram ladder
    (operators/dedup.longest_dup_span_ladder, round 14): rungs 5/10/20
    words over a corpus with spans of every length class — full planted
    duplicates (doc_id % 50, arbitrarily long spans), 12-word
    prefix-clones (doc_id % 40 + unique filler: rung 10 but not 20),
    and internal/no duplication. The ORACLE computes each rung as the
    INDEPENDENT fixed-n duplicated-gram test over ALL positions, so the
    hash match proves the ladder's candidate pruning (only positions
    whose two half-grams survived the previous rung are hashed) loses
    nothing — the exactness argument in the operator docstring, checked
    end to end."""
    from .functions.text import words as _words

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    ids = F.col("doc_id").cast("string")
    clone = docs.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.array_join(F.slice(_words("text"), 1, 12), " "),
            *[
                c
                for j in range(4)
                for c in (F.lit(" zzlad"), ids, F.lit(f"w{j}"))
            ],
        ).alias("text"),
    )
    planted = docs.unionByName(dup).unionByName(clone)
    return DD.longest_dup_span_ladder(
        planted, "text", "doc_id", n0=5, levels=3
    )


_Z_INTERLEAVE_SQL = " + ".join(
    t
    for b in range(8)
    for t in (
        f"((sx // {1 << b}) % 2) * {1 << (2 * b)}",
        f"((sy // {1 << b}) % 2) * {1 << (2 * b + 1)}",
    )
)


@query(
    "zorder_layout_stats",
    f"""
    WITH src AS (
        SELECT user_id AS x, CAST(FLOOR(value * 100) AS BIGINT) AS y
        FROM events
    ),
    b AS (
        SELECT MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax
        FROM src
    ),
    s AS (
        SELECT x, y,
               CASE WHEN xmax <= xmin THEN 0
                    ELSE CAST(FLOOR(CAST((x - xmin) * 255 AS DOUBLE) / (xmax - xmin)) AS BIGINT)
               END AS sx,
               CASE WHEN ymax <= ymin THEN 0
                    ELSE CAST(FLOOR(CAST((y - ymin) * 255 AS DOUBLE) / (ymax - ymin)) AS BIGINT)
               END AS sy
        FROM src CROSS JOIN b
    ),
    z AS (SELECT x, y, {_Z_INTERLEAVE_SQL} AS zkey FROM s)
    SELECT CAST(zkey // 4096 AS BIGINT) AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x) AS x_min, MAX(x) AS x_max,
           MIN(y) AS y_min, MAX(y) AS y_max
    FROM z GROUP BY 1
    """,
)
def q_zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout audit (operators/layout.zorder_stats):
    scale (user_id, cents) onto a 256x256 grid, interleave the bits into
    a Morton key, split the key space into 16 Z-ranges (= the files an
    OPTIMIZE ZORDER would write) and report each range's min/max
    envelope on BOTH dimensions — the parquet file statistics that make
    multi-dimensional predicate pruning work at 100 TB. One scalar
    min/max aggregate broadcast back + one groupBy: a single data
    shuffle at any scale."""
    from .operators import layout as LAY

    src = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("x"),
        F.floor(F.col("value") * 100).cast("long").alias("y"),
    )
    return LAY.zorder_stats(src, "x", "y", bits=8, bucket_bits=4)


@query(
    "dedup_span_removal",
    f"""
    WITH d2 AS ({{planted}}),
    w AS (SELECT doc_id, {{words}} AS w FROM d2),
    g AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(w[i:i+4], ' ') AS gram
        FROM w, UNNEST(generate_series(1, len(w) - 4)) AS s(i)
    ),
    f AS (
        SELECT gram FROM (SELECT gram, COUNT(*) AS c FROM g GROUP BY 1)
        WHERE c >= 2
    ),
    dp AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (gram)),
    cov AS (
        SELECT DISTINCT doc_id, p AS pos
        FROM dp, UNNEST(generate_series(pos, pos + 4)) AS c(p)
    ),
    k AS (
        SELECT w.doc_id, CAST(i AS BIGINT) AS pos, w.w[i] AS word
        FROM w, UNNEST(generate_series(1, len(w.w))) AS s(i)
    ),
    kept AS (
        SELECT k.doc_id, k.pos, k.word
        FROM k LEFT JOIN cov ON k.doc_id = cov.doc_id AND k.pos = cov.pos
        WHERE cov.pos IS NULL
    ),
    agg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(word, ' ' ORDER BY pos) AS clean_text
        FROM kept GROUP BY 1
    )
    SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_words,
           COALESCE(agg.n_kept, 0) AS n_kept,
           COALESCE(agg.clean_text, '') AS clean_text
    FROM w LEFT JOIN agg USING (doc_id)
    """.format(planted=_PLANTED_DOCS, words=_WORDS),
)
def q_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr CUT (operators/dedup.remove_duplicated_spans):
    emit each document's surviving normalized words after removing every
    position covered by a corpus-duplicated 5-gram — the transform
    applied downstream of dedup_span_ngram's accounting. Same 2-shuffle
    plan plus the per-row position filter (F.filter index lambda — the
    document never explodes through a shuffle)."""
    return DD.remove_duplicated_spans(
        _planted_docs(spark, sf_dir), "text", "doc_id", n=5, min_freq=2
    )


_PAGERANK_ORACLE = """
    WITH dir AS (
        SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    e AS (
        SELECT src, dst FROM dir
        UNION
        SELECT dst AS src, src AS dst FROM dir
    ),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    outdeg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY 1),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pts FROM nodes),
    s1 AS (
        SELECT r.node,
               (r.pts * 85 // 100) // d.deg AS per_edge,
               r.pts - ((r.pts * 85 // 100) // d.deg) * d.deg AS kept
        FROM r0 r JOIN outdeg d USING (node)
    ),
    r1 AS (
        SELECT s.node, s.kept + COALESCE(c.recv, 0) AS pts
        FROM s1 s LEFT JOIN (
            SELECT e.dst AS node, CAST(SUM(x.per_edge) AS BIGINT) AS recv
            FROM e JOIN s1 x ON e.src = x.node GROUP BY 1
        ) c USING (node)
    ),
    s2 AS (
        SELECT r.node,
               (r.pts * 85 // 100) // d.deg AS per_edge,
               r.pts - ((r.pts * 85 // 100) // d.deg) * d.deg AS kept
        FROM r1 r JOIN outdeg d USING (node)
    ),
    r2 AS (
        SELECT s.node, s.kept + COALESCE(c.recv, 0) AS pts
        FROM s2 s LEFT JOIN (
            SELECT e.dst AS node, CAST(SUM(x.per_edge) AS BIGINT) AS recv
            FROM e JOIN s2 x ON e.src = x.node GROUP BY 1
        ) c USING (node)
    ),
    s3 AS (
        SELECT r.node,
               (r.pts * 85 // 100) // d.deg AS per_edge,
               r.pts - ((r.pts * 85 // 100) // d.deg) * d.deg AS kept
        FROM r2 r JOIN outdeg d USING (node)
    ),
    r3 AS (
        SELECT s.node, s.kept + COALESCE(c.recv, 0) AS pts
        FROM s3 s LEFT JOIN (
            SELECT e.dst AS node, CAST(SUM(x.per_edge) AS BIGINT) AS recv
            FROM e JOIN s3 x ON e.src = x.node GROUP BY 1
        ) c USING (node)
    )
    SELECT node, CAST(pts AS BIGINT) AS pagerank_points FROM r3
"""


@query("graph_pagerank_purchases", _PAGERANK_ORACLE)
def q_graph_pagerank_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (operators/graph.integer_pagerank), 3
    rounds over the bidirectional customer↔supplier purchase graph
    (distinct pairs from lineitem⋈orders — the one fact-fact join,
    pre-deduped before any iteration). Exact integer mass
    redistribution makes ranks bit-identical across engines — the
    oracle unrolls the same three rounds in SQL. The crawl-seed /
    corpus-weighting primitive of web-corpus curation."""
    from .operators import graph as GR

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    d = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .dropDuplicates()
    )
    edges = d.unionByName(
        d.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return GR.integer_pagerank(edges, iterations=3)


_HL_BUCKET = "CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % 4096"
_HL_WEIGHT = (
    "(CAST('0x' || substr(md5('quality-v1:' || CAST("
    + _HL_BUCKET
    + " AS VARCHAR)), 1, 15) AS BIGINT) % 2001) - 1000"
)


@query(
    "text_hashed_linear_score",
    f"""
    WITH w AS (SELECT doc_id, {_WORDS} AS w FROM documents),
    m AS (
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_words,
               CAST(COALESCE(list_sum(list_transform(w, x -> {_HL_WEIGHT})), 0)
                    AS BIGINT) AS logit_milli
        FROM w
    )
    SELECT doc_id, n_words, logit_milli,
           CASE WHEN n_words > 0
                THEN logit_milli / 1000.0 / n_words ELSE 0.0 END AS score_per_word,
           logit_milli >= 0 AS keep
    FROM m
    """,
)
def q_text_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped hashing-trick linear classifier inference
    (operators/text.hashed_linear_score): word → 4096-bucket feature
    hash → bucket milli-weight → per-doc logit sum + keep decision.
    Map-only, integer-exact — the model-based quality filter's plumbing
    at parquet-scan speed."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.hashed_linear_score(docs).select(
        "doc_id", "n_words", "logit_milli", "score_per_word", "keep"
    )


# ---------------------------------------------------------------------
# round 7 (cont.): CDC apply, Bloom pre-filter
# ---------------------------------------------------------------------


@query(
    "cdc_apply_latest",
    """
    WITH changes AS (
        SELECT user_id, event_id AS lsn,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               value, ts
        FROM events
    ),
    latest AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY lsn DESC) AS rn
        FROM changes
    )
    SELECT user_id, lsn, value, ts FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def q_cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log application (operators/incremental.cdc_apply):
    the events table read as a Debezium-shaped log — key = user_id,
    LSN = event_id, op = delete when the change is an 'error' event —
    collapsed to the CURRENT state table (highest-LSN change wins; keys
    whose final op is a delete disappear). The engine side is ONE
    map-side-combinable max_by aggregate, not a window sort — at 100 TB
    of log the shuffle carries ~|keys| candidate rows, not the log."""
    from .operators.incremental import cdc_apply

    ev = _t(spark, sf_dir, "events")
    changes = ev.select(
        "user_id",
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "value",
        "ts",
    )
    return cdc_apply(changes, ["user_id"], "lsn", "op")


_BLOOM_M = 1 << 18
_BLOOM_K = 5
_B_H = (
    "CAST('0x' || substr({d}, 1, 15) AS BIGINT) % 2147483647",
    "CAST('0x' || substr({d}, 16, 15) AS BIGINT) % 2147483647",
)


@query(
    "dedup_bloom_prefilter",
    f"""
    WITH standing AS (
        SELECT DISTINCT md5({_NORM}) AS d
        FROM documents WHERE doc_id % 2 = 0
    ),
    sh AS (
        SELECT {_B_H[0].format(d='d')} AS h1, {_B_H[1].format(d='d')} AS h2
        FROM standing
    ),
    spos AS (
        SELECT (h1 + i * h2) % {_BLOOM_M} AS p
        FROM sh CROSS JOIN (SELECT unnest(range(1, {_BLOOM_K + 1})) AS i)
    ),
    bitmap AS (
        SELECT p // 63 AS word_idx,
               bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
        FROM spos GROUP BY 1
    ),
    batch AS (
        SELECT doc_id, md5({_NORM}) AS d FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, md5({_NORM}) AS d
        FROM documents WHERE doc_id % 4 = 0
    ),
    bh AS (
        SELECT doc_id, d, {_B_H[0].format(d='d')} AS h1,
               {_B_H[1].format(d='d')} AS h2
        FROM batch
    ),
    bpos AS (
        SELECT doc_id, (h1 + i * h2) % {_BLOOM_M} AS p
        FROM bh CROSS JOIN (SELECT unnest(range(1, {_BLOOM_K + 1})) AS i)
    ),
    probe AS (
        SELECT doc_id,
               MIN(CASE WHEN ((COALESCE(b.bits, 0) >> CAST(p % 63 AS INT)) & 1) = 1
                        THEN 1 ELSE 0 END) = 1 AS bloom_maybe
        FROM bpos LEFT JOIN bitmap b ON bpos.p // 63 = b.word_idx
        GROUP BY doc_id
    )
    SELECT p.doc_id, p.bloom_maybe,
           bh.d IN (SELECT d FROM standing) AS exact_present,
           p.bloom_maybe AND bh.d NOT IN (SELECT d FROM standing)
               AS bloom_false_positive
    FROM probe p JOIN bh ON p.doc_id = bh.doc_id
    """,
)
def q_dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-filter (operators/dedup.bloom_build +
    bloom_probe): the standing corpus (even doc_ids) is compressed into
    a {m}-bit bitmap table; a batch of genuinely-new odd docs plus
    replayed standing docs (id+1e6) is probed against it. Output per
    batch doc: the bloom verdict, the exact membership truth, and the
    false-positive flag — the driver row proves bit-for-bit engine
    parity of the bitmap AND the no-false-negative guarantee (every
    exact_present doc has bloom_maybe = true). At 100 TB the bitmap is
    ~1/10th the bytes of the fingerprint table and probes are a
    broadcast join discharged map-side; only bloom_maybe docs pay the
    exact anti-join (dedup_incremental_corpus)."""
    from .operators.dedup import bloom_build, bloom_probe

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    standing = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1).unionByName(
        docs.filter(F.col("doc_id") % 4 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    )
    bitmap = bloom_build(standing, "text", _BLOOM_M, _BLOOM_K)
    probe = bloom_probe(batch, bitmap, "text", "doc_id", _BLOOM_M, _BLOOM_K)
    from .functions.text import fingerprint

    standing_fp = standing.select(fingerprint("text").alias("__fp")).dropDuplicates()
    exact = (
        batch.select("doc_id", fingerprint("text").alias("__fp"))
        .join(
            F.broadcast(standing_fp.withColumn("__present", F.lit(True))),
            "__fp",
            "left",
        )
        .select(
            "doc_id", F.coalesce("__present", F.lit(False)).alias("exact_present")
        )
    )
    return probe.join(exact, "doc_id").select(
        "doc_id",
        "bloom_maybe",
        "exact_present",
        (F.col("bloom_maybe") & ~F.col("exact_present")).alias(
            "bloom_false_positive"
        ),
    )


_CMS_D = 4
_CMS_W = 4096


@query(
    "cms_heavy_hitters",
    f"""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
    ),
    h AS (
        SELECT tok,
               {_B_H[0].format(d='md5(tok)')} AS h1,
               {_B_H[1].format(d='md5(tok)')} AS h2
        FROM toks
    ),
    pos AS (
        SELECT tok, j, (h1 + j * h2) % {_CMS_W} AS bucket
        FROM h CROSS JOIN (SELECT unnest(range(1, {_CMS_D + 1})) AS j)
    ),
    cms AS (
        SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM pos GROUP BY 1, 2
    ),
    exact AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_count
        FROM toks GROUP BY 1
    ),
    top AS (
        SELECT tok, exact_count FROM exact
        ORDER BY exact_count DESC, tok LIMIT 20
    ),
    cand AS (
        SELECT DISTINCT t.tok, t.exact_count, p.j, p.bucket
        FROM top t JOIN pos p ON t.tok = p.tok
    )
    SELECT cand.tok AS token, cand.exact_count,
           MIN(cms.c) AS cms_est,
           MIN(cms.c) >= cand.exact_count AS never_underestimates
    FROM cand JOIN cms ON cand.j = cms.j AND cand.bucket = cms.bucket
    GROUP BY 1, 2
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (operators/sketches):
    the corpus token stream folds into a 4×4096 integer grid — ≤16k
    rows TOTAL through the exchange, corpus-size-independent, mergeable
    across shards/days — and the top-20 exact heavy hitters (computed
    as the verification twin under a total order) are point-queried
    against it. Both the grid and the probes are md5-family integer
    arithmetic, so the DuckDB oracle rebuilds the sketch bit-for-bit:
    the driver row pins exact parity of estimates, not a tolerance
    band, plus the one-sided error guarantee (est ≥ exact, always)."""
    from .functions.text import words
    from .operators.sketches import cms_build, cms_estimate

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(words(F.col("text"))).alias("tok")
    )
    cms = cms_build(toks, "tok", _CMS_D, _CMS_W)
    exact = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_count")
    )
    top = exact.orderBy(F.col("exact_count").desc(), F.col("tok")).limit(20)
    est = cms_estimate(top.select("tok"), cms, "tok", _CMS_D, _CMS_W)
    return top.join(est, "tok").select(
        F.col("tok").alias("token"),
        "exact_count",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_count")).alias("never_underestimates"),
    )


@query(
    "dedup_cluster_representative",
    f"""
    WITH RECURSIVE d2 AS ({_PLANTED_DOCS}),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 2, 1)),
                   i -> array_to_string(w[i:i+2], ' '))) AS shingles
        FROM (SELECT doc_id, {_WORDS} AS w FROM d2)
    ),
    ex AS (SELECT doc_id, len(shingles) AS n, UNNEST(shingles) AS s FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
               COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    ),
    pairs AS (
        SELECT id_a, id_b FROM inter
        WHERE n_common / (n_a + n_b - n_common) >= 0.6
    ),
    edges AS (
        SELECT id_a AS node, id_b AS other FROM pairs
        UNION
        SELECT id_b AS node, id_a AS other FROM pairs
    ),
    reach AS (
        SELECT node, other FROM edges
        UNION
        SELECT r.node, e.other FROM reach r JOIN edges e ON r.other = e.node
    ),
    comp AS (
        SELECT node, least(node, MIN(other)) AS component
        FROM reach GROUP BY node
    ),
    lab AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
               length(d.text) AS quality
        FROM d2 d LEFT JOIN comp c ON d.doc_id = c.node
    ),
    agg AS (
        SELECT component, COUNT(*) AS n_cluster_members,
               MAX(quality) AS quality
        FROM lab GROUP BY 1
    ),
    win AS (
        SELECT l.component, MIN(l.doc_id) AS doc_id
        FROM lab l JOIN agg a
          ON l.component = a.component AND l.quality = a.quality
        GROUP BY 1
    )
    SELECT a.component, w.doc_id, a.quality, a.n_cluster_members
    FROM agg a JOIN win w USING (component)
    """,
)
def q_dedup_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster REPRESENTATIVE selection (operators/dedup.
    cluster_representative): after n-gram-Jaccard >= 0.6 pair generation
    and transitive clustering, keep exactly one doc per cluster — the
    longest text, ties to the smallest doc_id (the C4/RefinedWeb "keep
    the best copy" curation step, not "drop all copies"). Singletons
    represent themselves. The argmax is one map-side-combinable
    max(struct(quality, -id)) aggregate, not a per-cluster window, so a
    boilerplate mega-cluster costs one row per upstream partition
    through the shuffle."""
    docs = _planted_docs(spark, sf_dir).withColumn(
        "quality", F.length("text").cast("long")
    )
    pairs = DD.ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.6)
    return DD.cluster_representative(docs, pairs, "doc_id", "quality")


@query(
    "text_bigram_lm_score",
    f"""
    WITH model AS (
        SELECT doc_id, list_filter({_WORDS}, x -> x <> '') AS w
        FROM documents WHERE doc_id % 2 = 0
    ),
    held AS (
        SELECT doc_id, list_filter({_WORDS}, x -> x <> '') AS w
        FROM documents WHERE doc_id % 2 = 1
    ),
    mb AS (
        SELECT UNNEST(list_transform(generate_series(1, len(w) - 1),
                                     i -> w[i] || ' ' || w[i+1])) AS s
        FROM model WHERE len(w) >= 2
    ),
    c2 AS (SELECT s, COUNT(*) AS c2 FROM mb GROUP BY 1),
    c1 AS (SELECT split_part(s, ' ', 1) AS w1, COUNT(*) AS c1
           FROM mb GROUP BY 1),
    vocab AS (
        SELECT COUNT(DISTINCT x) AS v
        FROM (SELECT UNNEST(w) AS x FROM model)
    ),
    sb AS (
        SELECT doc_id,
               UNNEST(list_transform(generate_series(1, len(w) - 1),
                                     i -> w[i] || ' ' || w[i+1])) AS s
        FROM held WHERE len(w) >= 2
    ),
    scored AS (
        SELECT sb.doc_id,
               CAST(floor(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE)
                          / (COALESCE(c1.c1, 0) + vocab.v)
                          * 1000000000.0) AS BIGINT) AS p_nano
        FROM sb
        LEFT JOIN c2 ON sb.s = c2.s
        LEFT JOIN c1 ON split_part(sb.s, ' ', 1) = c1.w1
        CROSS JOIN vocab
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_bigrams,
               CAST(SUM(p_nano) AS BIGINT) AS sum_p_nano
        FROM scored GROUP BY 1
    )
    SELECT h.doc_id,
           COALESCE(p.n_bigrams, 0) AS n_bigrams,
           COALESCE(p.sum_p_nano, 0) AS sum_p_nano,
           CASE WHEN COALESCE(p.n_bigrams, 0) > 0
                THEN CAST(p.sum_p_nano AS DOUBLE) / 1000000000.0 / p.n_bigrams
           END AS avg_p
    FROM held h LEFT JOIN per_doc p ON h.doc_id = p.doc_id
    """,
)
def q_text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality gate (operators/text.bigram_lm_score, the
    CCNet/KenLM filtering recipe with a warehouse-computable LM):
    add-one-smoothed bigram statistics trained on the even-doc_id half
    of the corpus score the held-out odd half by mean bigram
    probability. Probabilities are rational ((c2+1)/(c1+V)) and
    nano-quantized before the per-doc integer sum, so the quality
    ranking is bit-identical across engines — no log, no float
    accumulation, no KenLM binary. Model counts are two combinable
    aggregates; scoring is two hash joins on bigram/prefix keys
    (AQE-skew-splittable stop-word prefixes) plus a broadcast vocab
    scalar."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    model = docs.filter(F.col("doc_id") % 2 == 0)
    held = docs.filter(F.col("doc_id") % 2 == 1)
    return TX.bigram_lm_score(model, held, "text", "doc_id")


@query(
    "drift_chi2_event_types",
    """
    WITH rc AS (
        SELECT event_type AS f, COUNT(*) AS n_ref
        FROM events WHERE event_id % 2 = 0 GROUP BY 1
    ),
    cc AS (
        SELECT event_type AS f, COUNT(*) AS n_cur
        FROM events WHERE event_id % 2 = 1 GROUP BY 1
    ),
    cats AS (
        SELECT COALESCE(rc.f, cc.f) AS f,
               COALESCE(n_ref, 0) AS n_ref,
               COALESCE(n_cur, 0) AS n_cur
        FROM rc FULL OUTER JOIN cc ON rc.f = cc.f
    ),
    tot AS (
        SELECT CAST(SUM(n_ref) AS BIGINT) AS nr,
               CAST(SUM(n_cur) AS BIGINT) AS nc,
               COUNT(*) AS k
        FROM cats
    )
    SELECT cats.f AS event_type, n_ref, n_cur,
           CAST(floor(CAST(nc AS DOUBLE) * (n_ref + 1) / (nr + k)
                      * 1000000.0) AS BIGINT) AS expected_micro,
           CAST(floor(
               (CAST(n_cur AS DOUBLE) - CAST(nc AS DOUBLE) * (n_ref + 1) / (nr + k))
               * (CAST(n_cur AS DOUBLE) - CAST(nc AS DOUBLE) * (n_ref + 1) / (nr + k))
               / (CAST(nc AS DOUBLE) * (n_ref + 1) / (nr + k))
               * 1000000.0) AS BIGINT) AS chi2_contrib_micro
    FROM cats CROSS JOIN tot
    """,
)
def q_drift_chi2_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift monitor (operators/monitoring.drift_chi2): the
    chi-square contribution of each event_type in the odd-event_id
    window against the even-window reference distribution — the
    before-you-train distribution-shift gate (PSI's log-free sibling).
    Add-one smoothing over the category union keeps unseen categories
    finite; contributions quantize to integer micros so the statistic
    thresholds identically on any engine. Cost is O(distinct
    categories): two combinable counts, one category-key join, two
    broadcast scalars."""
    from .operators.monitoring import drift_chi2

    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_id") % 2 == 0)
    cur = ev.filter(F.col("event_id") % 2 == 1)
    return drift_chi2(ref, cur, "event_type")


_COS_RANK = """
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST({dot} AS DOUBLE)
               / (SQRT(CAST((SELECT SUM(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,15)))
                             FROM (SELECT UNNEST(a.embedding) AS x)) AS DOUBLE))
                  * SQRT(CAST((SELECT SUM(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,15)))
                               FROM (SELECT UNNEST(b.embedding) AS y)) AS DOUBLE)))
                   AS cosine
        FROM {q} a JOIN {c} b ON a.vec_id != b.vec_id
"""


@query(
    "similarity_mrl_truncate_recall",
    f"""
    WITH q64 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
    e16 AS (SELECT vec_id, embedding[1:16] AS embedding FROM embeddings),
    q16 AS (SELECT vec_id, embedding FROM e16 WHERE vec_id < 8),
    cfull AS ({_COS_RANK.format(dot=_DOT_DEC, q='q64', c='embeddings')}),
    ctr AS ({_COS_RANK.format(dot=_DOT_DEC, q='q16', c='e16')}),
    rfull AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM cfull) WHERE rnk <= 10
    ),
    rtr AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM ctr) WHERE rnk <= 10
    ),
    ov AS (
        SELECT f.query_id, COUNT(*) AS n_overlap
        FROM rfull f JOIN rtr t
          ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
        GROUP BY 1
    )
    SELECT q.vec_id AS query_id, 16 AS dim,
           COALESCE(ov.n_overlap, 0) AS n_overlap,
           CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / 10.0 AS recall
    FROM q64 q LEFT JOIN ov ON q.vec_id = ov.query_id
    """,
)
def q_similarity_mrl_truncate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation (operators/similarity.
    mrl_truncate_recall; Kusupati et al. NeurIPS 2022): recall@10 of
    exact cosine retrieval over the FIRST 16 of 64 dimensions vs the
    full-dimension baseline, for 8 sample queries. Both rankings use the
    exact-decimal fold with id tie-breaks, so the recall table is
    bit-deterministic. This is the measurement that justifies serving
    truncated vectors — 4x fewer bytes through every shuffle and ANN
    candidate stage at the measured recall cost."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.mrl_truncate_recall(
        emb, emb.filter(F.col("vec_id") < 8), dim=16, k=10
    )


_PQ_M, _PQ_K, _PQ_D = 4, 8, 16  # subspaces, codes, dims-per-subspace
_PQ_MICRO = "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)"
_PQ_DIST2 = (
    "list_reduce(list_transform(generate_series(1, {d}), "
    "j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j])), (x, y) -> x + y)"
)

_PQ_ORACLE = f"""
WITH cents AS (
    SELECT ROW_NUMBER() OVER (ORDER BY h, cid) - 1 AS code, cv
    FROM (SELECT vec_id AS cid, embedding AS cv,
                 substr(md5(CAST(vec_id AS VARCHAR)), 1, 16) AS h
          FROM embeddings ORDER BY h LIMIT {_PQ_K})
),
ms AS (SELECT UNNEST(generate_series(0, {_PQ_M - 1})) AS m),
cb AS (
    SELECT m, code,
           list_transform(cv[m * {_PQ_D} + 1 : m * {_PQ_D} + {_PQ_D}],
                          {_PQ_MICRO}) AS csub
    FROM cents CROSS JOIN ms
),
vs AS (
    SELECT vec_id AS neighbor_id, m,
           list_transform(embedding[m * {_PQ_D} + 1 : m * {_PQ_D} + {_PQ_D}],
                          {_PQ_MICRO}) AS vsub
    FROM embeddings CROSS JOIN ms
),
enc AS (
    SELECT neighbor_id, m, code FROM (
        SELECT v.neighbor_id, v.m, c.code,
               ROW_NUMBER() OVER (
                   PARTITION BY v.neighbor_id, v.m
                   ORDER BY {_PQ_DIST2.format(d=_PQ_D, a='v.vsub', b='c.csub')} ASC,
                            c.code ASC) AS rn
        FROM vs v JOIN cb c ON v.m = c.m
    ) WHERE rn = 1
),
qs AS (SELECT neighbor_id AS query_id, m, vsub FROM vs WHERE neighbor_id < 8),
dt AS (
    SELECT q.query_id, c.m, c.code,
           {_PQ_DIST2.format(d=_PQ_D, a='q.vsub', b='c.csub')} AS qd2
    FROM qs q JOIN cb c ON q.m = c.m
),
adc AS (
    SELECT d.query_id, e.neighbor_id, CAST(SUM(d.qd2) AS BIGINT) AS adc_dist2
    FROM enc e JOIN dt d ON e.m = d.m AND e.code = d.code
    WHERE d.query_id <> e.neighbor_id
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist2, CAST(rn AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist2 ASC, neighbor_id ASC) AS rn
      FROM adc)
WHERE rn <= 10
"""


@query("similarity_pq_adc", _PQ_ORACLE)
def q_similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (operators/similarity.pq_topk; Jegou et al., TPAMI 2011): 4
    subspaces x 8 codes over the 64-dim embeddings, integer-micro
    squared-L2 throughout — encode, distance tables, and ADC ranking
    are all bigint-exact, so the DuckDB twin replays the identical
    codebook, codes, and top-10. The serving path reads 4 small ints
    per vector instead of 256 bytes of floats."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.pq_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=10,
        n_subspaces=_PQ_M, n_codes=_PQ_K,
    )


_ER_ORACLE = """
WITH recs AS (
    SELECT c_custkey AS id, c_name AS name,
           CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
           c_mktsegment AS seg
    FROM customer WHERE c_custkey < 600
    UNION ALL
    SELECT c_custkey + 1000000,
           regexp_replace(c_name, '^Customer#', 'Custmer#'),
           CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 10.00 AS DECIMAL(18,2)),
           c_mktsegment
    FROM customer WHERE c_custkey < 600 AND c_custkey % 5 = 0
),
sides AS (
    SELECT id,
           regexp_replace(lower(trim(name)), '\\s+', ' ', 'g') AS nm,
           substr(name, length(name) - 5, 6) AS blk
    FROM recs
),
pairs AS (
    SELECT a.id AS id_a, b.id AS id_b
    FROM sides a JOIN sides b ON a.blk = b.blk AND a.id < b.id
    WHERE abs(length(a.nm) - length(b.nm)) <= 2
      AND levenshtein(a.nm, b.nm) <= 2
),
labeled AS (
    SELECT r.*,
           COALESCE((SELECT MIN(p.id_a) FROM pairs p WHERE p.id_b = r.id),
                    r.id) AS entity_id
    FROM recs r
),
golden AS (
    SELECT entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(bal) AS DOUBLE) AS max_acctbal
    FROM labeled GROUP BY 1
)
SELECT g.entity_id, g.n_members, c.name AS canonical_name,
       c.seg AS canonical_segment, g.max_acctbal
FROM golden g JOIN recs c ON c.id = g.entity_id
"""


@query("er_golden_records", _ER_ORACLE)
def q_er_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY RESOLUTION end to end (operators/entity_resolution.
    resolve_entities): a second 'source system' is planted by corrupting
    every 5th customer — key offset, a 1-edit name typo
    (Customer#→Custmer#), a drifted balance. The pipeline blocks on the
    typo-robust digit suffix, matches with the thresholded banded
    levenshtein, clusters transitively via exact connected components,
    and consolidates golden records (canonical name/segment from the
    smallest member id, max balance survivorship). The oracle replays
    blocking/matching in SQL and resolves clusters by direct pair
    lookup — valid because every planted cluster is a pair, while the
    Spark side runs the general transitive machinery that would also
    close longer chains. 120 merged entities (n_members=2) + 480
    singletons must match exactly."""
    from .operators.entity_resolution import resolve_entities

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 600)
    base = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    variants = cust.filter(F.col("c_custkey") % 5 == 0).select(
        (F.col("c_custkey") + 1000000).alias("id"),
        F.regexp_replace("c_name", "^Customer#", "Custmer#").alias("name"),
        (F.col("c_acctbal").cast("decimal(18,2)") + F.lit(10.00))
        .cast("decimal(18,2)")
        .alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    recs = base.unionByName(variants)
    out = resolve_entities(
        recs,
        "id",
        "name",
        F.substring(F.col("name"), -6, 6),
        {
            "canonical_name": ("name", "canonical"),
            "canonical_segment": ("seg", "canonical"),
            "max_acctbal": ("bal", "max"),
        },
        max_dist=2,
    )
    return out.select(
        "entity_id",
        "n_members",
        "canonical_name",
        "canonical_segment",
        F.col("max_acctbal").cast("double").alias("max_acctbal"),
    )


_TN_STRIP = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\x{200b}-\x{200d}\x{feff}]"
_TN_ORACLE = f"""
WITH dirty AS (
    SELECT doc_id, text,
           ' ' || chr(1) || replace(text, ' ', chr(9) || '  ')
               || chr(8203) || ' ' AS raw
    FROM documents
),
norm AS (
    SELECT doc_id, text, raw,
           trim(regexp_replace(
               regexp_replace(raw, '{_TN_STRIP}', '', 'g'),
               '[ \t\n\r]+', ' ', 'g')) AS norm_text
    FROM dirty
)
SELECT doc_id, norm_text,
       length(raw) - length(norm_text) AS n_removed,
       norm_text = text AS clean_roundtrip
FROM norm
"""


@query("text_normalize", _TN_ORACLE)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style normalization (operators/text.normalize_text): strip
    control/zero-width characters, collapse whitespace runs, trim —
    the cleanup pass that runs BEFORE dedup/shingling (invisible bytes
    defeat exact fingerprints). The testdata text is already clean, so
    the query plants deterministic mess around and inside every
    document (NUL-adjacent control, tabs, double spaces, a zero-width
    space) with the SAME expression on both engines; clean_roundtrip
    pins that normalization recovers the original text exactly.
    Map-only — zero exchanges, zero Python rows."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.expr(
            "concat(' ', char(1), replace(text, ' ', concat(char(9), '  ')), "
            "'\u200b', ' ')"
        ).alias("raw"),
    )
    n = TX.normalize_text(d, text_col="raw", out_col="norm_text")
    return n.select(
        "doc_id",
        "norm_text",
        (F.length("raw") - F.length("norm_text")).alias("n_removed"),
        (F.col("norm_text") == F.col("text")).alias("clean_roundtrip"),
    )


_RP_ORACLE = """
WITH flat AS (
    SELECT vec_id,
           CAST(CAST(x AS DOUBLE) AS DECIMAL(28,15)) AS d,
           i
    FROM (SELECT vec_id, UNNEST(embedding) AS x,
                 UNNEST(generate_series(1, len(embedding))) AS i
          FROM embeddings)
)
SELECT vec_id,
       ROUND(CAST(SUM(CASE WHEN substr(md5('rp|' || (i-1) || '|0'),1,1) IN ('0','1','2','3','4','5','6','7') THEN d ELSE -d END) AS DOUBLE), 9) AS p0,
       ROUND(CAST(SUM(CASE WHEN substr(md5('rp|' || (i-1) || '|1'),1,1) IN ('0','1','2','3','4','5','6','7') THEN d ELSE -d END) AS DOUBLE), 9) AS p1,
       ROUND(CAST(SUM(CASE WHEN substr(md5('rp|' || (i-1) || '|2'),1,1) IN ('0','1','2','3','4','5','6','7') THEN d ELSE -d END) AS DOUBLE), 9) AS p2,
       ROUND(CAST(SUM(CASE WHEN substr(md5('rp|' || (i-1) || '|3'),1,1) IN ('0','1','2','3','4','5','6','7') THEN d ELSE -d END) AS DOUBLE), 9) AS p3,
       ROUND(CAST(SUM(CASE WHEN substr(md5('rp|' || (i-1) || '|4'),1,1) IN ('0','1','2','3','4','5','6','7') THEN d ELSE -d END) AS DOUBLE), 9) AS p4,
       ROUND(CAST(SUM(CASE WHEN substr(md5('rp|' || (i-1) || '|5'),1,1) IN ('0','1','2','3','4','5','6','7') THEN d ELSE -d END) AS DOUBLE), 9) AS p5,
       ROUND(CAST(SUM(CASE WHEN substr(md5('rp|' || (i-1) || '|6'),1,1) IN ('0','1','2','3','4','5','6','7') THEN d ELSE -d END) AS DOUBLE), 9) AS p6,
       ROUND(CAST(SUM(CASE WHEN substr(md5('rp|' || (i-1) || '|7'),1,1) IN ('0','1','2','3','4','5','6','7') THEN d ELSE -d END) AS DOUBLE), 9) AS p7
FROM flat GROUP BY vec_id
"""


@query("embedding_random_projection", _RP_ORACLE)
def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 random projection 64→8 dims
    (operators/similarity.random_projection, Achlioptas 2001): the
    dimensionality-reduction stage before ANN indexing / clustering at
    scale. The sign matrix derives from md5 — the oracle REBUILDS it in
    SQL from the same hash, so the hash-match proves both the math and
    the matrix; sums accumulate in DECIMAL(28,15) (exact,
    order-independent), output rounded to 9 decimals (DuckDB's
    DECIMAL→DOUBLE cast is not correctly rounded). Map-only: zero
    exchanges, zero Python rows."""
    e = _t(spark, sf_dir, "embeddings")
    proj = SIM.random_projection(
        e.select("vec_id", "embedding"), "embedding", in_dims=64, out_dims=8
    )
    return proj.select(
        "vec_id", *[F.round(f"p{j}", 9).alias(f"p{j}") for j in range(8)]
    )


_REGEX_ORACLE = r"""
SELECT doc_id,
       len(regexp_extract_all(text, '\btable\b')) AS n_table,
       CASE WHEN regexp_matches(text, '\btable\b')
            THEN length(regexp_replace(text, '\btable\b.*$', '', 's')) + 1
            ELSE 0 END AS first_table_pos,
       regexp_matches(text, '\bspark\b') AS has_spark,
       regexp_replace(text, '^(\w+) (\w+)', '\2 \1') AS swapped_head,
       COALESCE(array_to_string(regexp_extract_all(text, '\b[a-z]{4}\b'),
                '|'), '') AS four_letter_words
FROM documents
"""


@query("regex_function_breadth", _REGEX_ORACLE)
def q_regex_function_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface parity (Snowflake REGEXP_COUNT / REGEXP_INSTR /
    REGEXP_LIKE / REGEXP_REPLACE-with-backrefs / REGEXP_SUBSTR_ALL):
    occurrence counts, 1-based first-match position, boolean match,
    capture-group swap, and all-matches extraction joined to one
    column. All five run in whole-stage codegen (map-only); the DuckDB
    twin uses its own spellings (len(regexp_extract_all), a
    prefix-length INSTR emulation, \\1 vs $1 backrefs) — same regex
    dialect (word boundaries, capture groups), same values."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(r"regexp_count(text, '\\btable\\b')").alias("n_table"),
        F.expr(r"regexp_instr(text, '\\btable\\b')").alias(
            "first_table_pos"
        ),
        F.expr(r"regexp_like(text, '\\bspark\\b')").alias("has_spark"),
        F.expr(
            r"regexp_replace(text, '^(\\w+) (\\w+)', '$2 $1')"
        ).alias("swapped_head"),
        F.expr(
            r"array_join(regexp_extract_all(text, '\\b[a-z]{4}\\b', 0), '|')"
        ).alias("four_letter_words"),
    )


_TRIANGLE_ORACLE = """
WITH raw AS (
    SELECT o_custkey % 500 AS a,
           (o_orderkey * 48271) % 500 AS b
    FROM orders
),
canon AS (
    SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
    FROM raw WHERE a <> b
),
tris AS (
    SELECT e1.u, e1.v, e2.v AS w
    FROM canon e1
    JOIN canon e2 ON e1.v = e2.u
    JOIN canon e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT node, COUNT(*) AS n_triangles
FROM (SELECT UNNEST([u, v, w]) AS node FROM tris)
GROUP BY node
"""


@query("graph_triangle_count", _TRIANGLE_ORACLE)
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (operators/graph.triangle_counts) over
    a deterministic synthetic graph derived from independent order/
    customer keys (public Lehmer multiplier, same construction both
    engines) — community
    density / link-farm detection in web-graph curation. The ordered
    two-join finds each triangle exactly once as its sorted triple (no
    distinct cleanup); the oracle replays the same enumeration in SQL.
    Skew mitigation at web scale (degree-ordered orientation) is
    documented in the operator."""
    from .operators.graph import triangle_counts

    edges = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 500).alias("src"),
        ((F.col("o_orderkey") * 48271) % 500).alias("dst"),
    )
    return triangle_counts(edges)


_FULLSYNC_ORACLE = """
WITH existing AS (
    SELECT o_orderkey AS order_id, 'STALE' AS order_status
    FROM orders WHERE o_orderkey % 3 <> 2
),
src AS (
    SELECT o_orderkey AS order_id, o_orderstatus AS order_status
    FROM orders WHERE o_orderkey % 2 = 0
)
SELECT COALESCE(s.order_id, e.order_id) AS order_id,
       CASE WHEN s.order_id IS NOT NULL THEN s.order_status
            ELSE e.order_status END AS order_status,
       s.order_id IS NULL AS is_deleted
FROM existing e FULL OUTER JOIN src s ON e.order_id = s.order_id
"""


@query("incremental_merge_full_sync", _FULLSYNC_ORACLE)
def q_incremental_merge_full_sync(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SQL:2023 three-clause MERGE (operators/incremental.
    merge_full_sync): UPDATE matched, INSERT new, and — the clause the
    upsert-only form lacks — WHEN NOT MATCHED BY SOURCE, here as the
    soft-delete tombstone variant (target-only rows retained with
    is_deleted=true). Existing rows carry a planted STALE status, so
    the hash-match proves matched rows took the SOURCE value, inserts
    landed, and only target-only keys tombstoned. One full-outer key
    join; bucket both sides to erase the exchange at 100 TB."""
    from .operators.incremental import merge_full_sync

    o = _t(spark, sf_dir, "orders")
    existing = o.filter(F.col("o_orderkey") % 3 != 2).select(
        F.col("o_orderkey").alias("order_id"),
        F.lit("STALE").alias("order_status"),
    )
    src = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderstatus").alias("order_status"),
    )
    return merge_full_sync(
        existing, src, ["order_id"], soft_delete_col="is_deleted"
    )


# ---------------------------------------------------------------------
# round 13: SoftDeDup reweighting + DSIR importance selection
# ---------------------------------------------------------------------

_SOFT_DEDUP_ORACLE = f"""
    WITH wall AS (
        SELECT doc_id,
               list_filter({_WORDS}, x -> len(x) > 0) AS w
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest(CASE WHEN len(w) >= 2
                           THEN list_transform(range(1, len(w)),
                                               i -> w[i] || ' ' || w[i + 1])
                           ELSE [] END) AS gram
        FROM wall
    ),
    gh AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS ghash
        FROM g
    ),
    census AS (SELECT ghash, COUNT(*) AS freq FROM gh GROUP BY 1),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_grams,
               CAST(SUM(freq) AS BIGINT) AS sum_freq
        FROM gh JOIN census USING (ghash) GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(p.sum_freq, 0) AS BIGINT) AS sum_freq,
           CAST(CASE WHEN COALESCE(p.sum_freq, 0) > 0
                     THEN (1000000000 * p.n_grams) // p.sum_freq
                     ELSE 1000000000 END AS BIGINT) AS weight_nano
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


@query("text_soft_dedup_weights", _SOFT_DEDUP_ORACLE)
def q_text_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup-shaped duplicate reweighting
    (operators/text.soft_dedup_weights, He et al. ACL 2024): every doc
    keeps a sampling weight inversely proportional to the corpus-mean
    occurrence count of its bigrams — duplicates are down-sampled, not
    dropped. Integer-exact (60-bit portable gram hashes, truncating
    nano division); the oracle replays the census + join-back + fold."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.soft_dedup_weights(docs)


_DSIR_MICRO_DIV = (
    "CASE WHEN ({a} // {d}) >= 1000 THEN CAST(1000000000 AS BIGINT)"
    " ELSE 1000000 * ({a} // {d})"
    " + 1000 * ((1000 * ({a} % {d})) // {d})"
    " + ((1000 * ((1000 * ({a} % {d})) % {d})) // {d}) END"
)

_DSIR_ORACLE = f"""
    WITH wall AS (
        SELECT doc_id,
               list_filter({_WORDS}, x -> len(x) > 0) AS w
        FROM documents
    ),
    rb AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) % 4096 AS b
        FROM (SELECT doc_id, unnest(w) AS word FROM wall)
    ),
    tdocs AS (SELECT doc_id FROM documents WHERE contains(text, 'customer')),
    ct AS (
        SELECT b, COUNT(*) AS ctn FROM rb JOIN tdocs USING (doc_id) GROUP BY 1
    ),
    cr AS (SELECT b, COUNT(*) AS crn FROM rb GROUP BY 1),
    tot AS (
        SELECT (SELECT COALESCE(SUM(ctn), 0) FROM ct) AS nt,
               (SELECT COALESCE(SUM(crn), 0) FROM cr) AS nr
    ),
    ratio AS (
        SELECT COALESCE(ct.b, cr.b) AS b,
               CAST((({_DSIR_MICRO_DIV.format(a="(COALESCE(ctn, 0) + 1)",
                                              d="(COALESCE(crn, 0) + 1)")})
                     * ({_DSIR_MICRO_DIV.format(a="(nr + 4096)",
                                                d="(nt + 4096)")}))
                    // 1000000 AS BIGINT) AS ratio_micro
        FROM ct FULL JOIN cr ON ct.b = cr.b CROSS JOIN tot
    ),
    score AS (
        SELECT rb.doc_id, COUNT(*) AS n_words,
               CAST(SUM(ratio_micro) AS BIGINT) AS score_micro
        FROM rb JOIN ratio USING (b) GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(s.score_micro, 0) AS BIGINT) AS score_micro,
           COALESCE(s.n_words, 0) > 0
               AND COALESCE(s.score_micro, 0)
                   >= 1000000 * COALESCE(s.n_words, 0) AS keep
    FROM documents d LEFT JOIN score s USING (doc_id)
"""


@query("sample_dsir_select", _DSIR_ORACLE)
def q_sample_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped importance selection (operators/text.dsir_importance,
    Xie et al. NeurIPS 2023): hashed bag-of-words importance ratio of a
    content-defined target corpus ('customer'-bearing docs) over the
    raw corpus, per-doc micro-exact score, deterministic keep at mean
    ratio ≥ 1. The oracle replays both count passes, the self-
    normalized two-factor clamped ratio, and the scoring join."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.filter(F.col("text").contains("customer"))
    return TX.dsir_importance(docs, target)


# OPH twin: same planted corpus and band/cap/verify tail as
# _MINHASH_ORACLE, but the signature stage is one-permutation hashing
# with rotation densification — one md5 per shingle, bin = first 60-bit
# half mod 64, value = second half mod p, per-bin MIN, empty bins borrow
# from the nearest occupied bin to the right with the borrow distance
# tagged at 2^31 per step (operators/dedup.oph_minhash_signatures).
_OPH_ORACLE = f"""
    WITH d2 AS ({_PLANTED_DOCS}),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 2, 1)),
                   i -> array_to_string(w[i:i+2], ' '))) AS shingles
        FROM (SELECT doc_id, {_WORDS} AS w FROM d2)
        WHERE len(w) > 0
    ),
    hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 64 AS bin,
               CAST('0x' || substr(md5(s), 16, 15) AS BIGINT) % {_MH_P} AS val
        FROM (SELECT doc_id, UNNEST(shingles) AS s FROM sh)
    ),
    bins AS (SELECT doc_id, bin, MIN(val) AS v FROM hashed GROUP BY 1, 2),
    grid AS (
        SELECT doc_id, j
        FROM (SELECT DISTINCT doc_id FROM bins)
        CROSS JOIN (SELECT UNNEST(generate_series(0, 63)) AS j)
    ),
    dens AS (
        SELECT g.doc_id, g.j,
               arg_min(b.v + ((b.bin - g.j + 64) % 64) * 2147483648,
                       (b.bin - g.j + 64) % 64) AS dv
        FROM grid g JOIN bins b USING (doc_id)
        GROUP BY 1, 2
    ),
    siglist AS (SELECT doc_id, list(dv ORDER BY j) AS sig FROM dens GROUP BY doc_id),
    banded AS (
        SELECT doc_id, sig,
               bnd || '|' || sig[4*bnd+1] || '|' || sig[4*bnd+2] || '|'
                   || sig[4*bnd+3] || '|' || sig[4*bnd+4] AS band
        FROM siglist,
             (SELECT UNNEST(generate_series(0, {_MH_BANDS - 1})) AS bnd)
    ),
    capped AS (
        SELECT band FROM banded GROUP BY band HAVING COUNT(*) <= 1000
    ),
    kept AS (SELECT b.* FROM banded b JOIN capped USING (band)),
    cands AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.sig AS sig_a, b.sig AS sig_b
        FROM kept a JOIN kept b ON a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           list_sum(list_transform(generate_series(1, {_MH_K}),
                    i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END))
               / {_MH_K} AS est_jaccard
    FROM cands
    WHERE list_sum(list_transform(generate_series(1, {_MH_K}),
                   i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END))
          / {_MH_K} >= 0.5
"""


@query("dedup_minhash_oph", _OPH_ORACLE)
def q_dedup_minhash_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-permutation-hashing MinHash + LSH
    (operators/dedup.oph_minhash_pairs; Li/Owen/Zhang NeurIPS 2012,
    Shrivastava & Li UAI 2014 densification): ONE hash per shingle
    instead of k component evaluations — the signature-stage cost is
    flat in k, the win at the high-precision (k = 256+) regime. Same
    planted corpus, banding, hot-bucket cap, and verify tail as
    dedup_minhash_lsh; the oracle replays bins, per-bin mins, rotation
    densification, bands, and the agreement-fraction estimate."""
    return DD.oph_minhash_pairs(
        _planted_docs(spark, sf_dir), "text", "doc_id",
        n=3, num_bins=64, bands=16, threshold=0.5,
    )


_MARGIN_BITEXT_ORACLE = f"""
    WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE label = 0),
    t AS (SELECT vec_id, embedding FROM embeddings WHERE label <> 0),
    p0 AS (
        -- pure-double LEFT FOLD in vector order == Spark's
        -- aggregate(.., 0.0, acc+x) bit-for-bit (the ANN-twin rule)
        SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
               {_fold_dot("a.embedding", "b.embedding")} AS dp,
               {_fold_norm("a.embedding")} AS na,
               {_fold_norm("b.embedding")} AS nb
        FROM s a JOIN t b ON TRUE
    ),
    pairs AS (
        SELECT src_id, tgt_id,
               CAST(FLOOR(dp / (na * nb) * 1000000000 + 0.5) AS BIGINT)
                   AS cos_nano
        FROM p0 WHERE na > 0 AND nb > 0
    ),
    fwd AS (
        SELECT src_id, CAST(SUM(cos_nano) AS BIGINT) AS sum_fwd
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                  ORDER BY cos_nano DESC, tgt_id) AS r FROM pairs)
        WHERE r <= 4 GROUP BY 1
    ),
    bwd AS (
        SELECT tgt_id, CAST(SUM(cos_nano) AS BIGINT) AS sum_bwd
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY tgt_id
                  ORDER BY cos_nano DESC, src_id) AS r FROM pairs)
        WHERE r <= 4 GROUP BY 1
    ),
    scored AS (
        SELECT p.src_id, p.tgt_id, p.cos_nano,
               CASE WHEN f.sum_fwd + w.sum_bwd > 0
                    THEN (p.cos_nano * 8 * 1000000) // (f.sum_fwd + w.sum_bwd)
               END AS margin_micro
        FROM pairs p JOIN fwd f USING (src_id) JOIN bwd w USING (tgt_id)
    )
    SELECT src_id, tgt_id, cos_nano,
           CAST(margin_micro AS BIGINT) AS margin_micro, CAST(r AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
              ORDER BY margin_micro DESC NULLS LAST, tgt_id) AS r FROM scored)
"""


@query("similarity_margin_bitext", _MARGIN_BITEXT_ORACLE)
def q_similarity_margin_bitext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (operators/similarity.
    margin_bitext_mine; Artetxe & Schwenk ACL 2019, the LASER/CCMatrix
    recipe): the label-0 batch mined against the WHOLE rest of the
    corpus (label ≠ 0 — the side that grows with SF, so the scaling
    lane measures fixed-batch × growing-corpus, the production mining
    shape), ratio margin = cosine over the mean of each side's 4-NN
    cosines in the other corpus — hub discounting in exact integer
    nanos/micros. The oracle replays the decimal dot, nano pinning,
    both k-NN windows, and the single truncating margin division."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.margin_bitext_mine(
        emb.filter(F.col("label") == 0), emb.filter(F.col("label") != 0), k=4
    )


_KS_ORACLE = """
    WITH r AS (SELECT value AS v FROM events
               WHERE event_type = 'view' AND value IS NOT NULL),
    c AS (SELECT value AS v FROM events
          WHERE event_type = 'click' AND value IS NOT NULL),
    rc AS (SELECT v, COUNT(*) AS cr FROM r GROUP BY 1),
    cc AS (SELECT v, COUNT(*) AS ccnt FROM c GROUP BY 1),
    vals AS (
        SELECT COALESCE(rc.v, cc.v) AS v,
               COALESCE(cr, 0) AS cr, COALESCE(ccnt, 0) AS ccnt
        FROM rc FULL JOIN cc ON rc.v = cc.v
    ),
    cum AS (
        SELECT CAST(SUM(cr) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS ar,
               CAST(SUM(ccnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS ac
        FROM vals
    ),
    tot AS (
        SELECT CAST(SUM(cr) AS BIGINT) AS n_ref,
               CAST(SUM(ccnt) AS BIGINT) AS n_cur
        FROM vals
    ),
    d AS (
        SELECT n_ref, n_cur,
               CAST(MAX(ABS(ar * n_cur - ac * n_ref)) AS BIGINT) AS d_scaled
        FROM cum CROSS JOIN tot
        GROUP BY 1, 2
    )
    SELECT n_ref, n_cur, d_scaled,
           CAST((1000000 * d_scaled) // (n_ref * n_cur) AS BIGINT) AS ks_micro,
           CAST(FLOOR(1.3581 * SQRT(CAST(n_ref + n_cur AS DOUBLE)
                / CAST(n_ref * n_cur AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS crit_micro,
           (1000000 * d_scaled) // (n_ref * n_cur)
               > CAST(FLOOR(1.3581 * SQRT(CAST(n_ref + n_cur AS DOUBLE)
                     / CAST(n_ref * n_cur AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS reject
    FROM d
"""


@query("monitor_ks_two_sample", _KS_ORACLE)
def q_monitor_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift gate
    (operators/monitoring.ks_two_sample): view-events' value
    distribution vs click-events' — exact integer scaled-CDF gaps
    (max |cnt_ref≤x·n_cur − cnt_cur≤x·n_ref|), one window over the
    DISTINCT-VALUE frame, portable IEEE critical value at α = 0.05.
    The continuous-metric sibling of drift_chi2_event_types."""
    from .operators.monitoring import ks_two_sample

    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    return ks_two_sample(
        ev.filter(F.col("event_type") == "view").select("value"),
        ev.filter(F.col("event_type") == "click").select("value"),
        "value",
    )
