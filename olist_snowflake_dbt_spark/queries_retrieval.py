"""Driver queries for retrieval (operators/retrieval.py): BM25 lexical
top-k and hybrid lexical+vector reciprocal rank fusion over the
documents/embeddings tables. All ranking math is engine-portable by
construction (rational idf, integer-nano quantization before sums,
decimal-fold cosine) — see the operator module's determinism policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .functions.local_frame import arrow_local_df

from .operators._cache import scoped_persist
from .operators.retrieval import bm25_topk, rrf_fuse
from .queries import _t, query
from .sql_fragments import _DOT_DEC, _WORDS

_BM25_QUERIES = [
    (1, "spark join filter"),
    (2, "customer order data window"),
]
_BM25_QUERIES_SQL = "VALUES " + ", ".join(
    f"({i}, '{t}')" for i, t in _BM25_QUERIES
)

# The BM25 pipeline in DuckDB SQL, shared by both driver queries. Every
# arithmetic step mirrors the Spark expression tree exactly (left-assoc
# mul/div over values derived from exact integers), and per-term scores
# quantize to floor(score*1e9) BEFORE the per-doc sum.
_BM25_CORE = f"""
    w AS (
        SELECT doc_id, UNNEST({_WORDS}) AS term FROM documents
    ),
    wnz AS (SELECT doc_id, term FROM w WHERE term <> ''),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM wnz GROUP BY 1, 2),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM wnz GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl),
    qraw AS (SELECT * FROM ({{queries}}) AS q(query_id, query_text)),
    qterms AS (
        SELECT DISTINCT query_id, UNNEST(
            string_split_regex(
                trim(regexp_replace(lower(query_text), '[^a-z0-9]+', ' ', 'g')),
                ' ')) AS term
        FROM qraw
    ),
    qt AS (SELECT query_id, term FROM qterms WHERE term <> ''),
    tpost AS (
        SELECT tf.* FROM tf
        WHERE term IN (SELECT DISTINCT term FROM qt)
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tpost GROUP BY 1),
    scored AS (
        SELECT q.query_id, p.doc_id,
               COUNT(*) AS n_terms_hit,
               CAST(SUM(CAST(floor(
                   ((s.n_docs - f.df + 0.5) / (f.df + 0.5))
                   * (p.tf * 2.2)
                   / (CAST(p.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 *
                      (CAST(d.dl AS DOUBLE)
                       / (CAST(s.total_len AS DOUBLE) / s.n_docs))))
                   * 1000000000.0) AS BIGINT)) AS BIGINT) AS score_nano
        FROM tpost p
        JOIN qt q USING (term)
        JOIN dfreq f USING (term)
        JOIN dl d USING (doc_id)
        CROSS JOIN stats s
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, doc_id, n_terms_hit, score_nano,
               CAST(score_nano AS DOUBLE) / 1000000000.0 AS score,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY score_nano DESC, doc_id ASC) AS INT) AS rank
        FROM scored
    )
"""

_BM25_ORACLE = (
    "WITH "
    + _BM25_CORE.format(queries=_BM25_QUERIES_SQL)
    + """
    SELECT query_id, doc_id, n_terms_hit, score_nano, score, rank
    FROM ranked WHERE rank <= 10
    """
)


@query("bm25_topk", _BM25_ORACLE)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (operators/retrieval.bm25_topk): top-10
    documents for two bag-of-words queries, k1=1.2 b=0.75, rational idf
    (N-df+0.5)/(df+0.5) and integer-nano per-term quantization so the
    ranking is bit-identical across engines. The corpus side is the
    inverted-index access pattern: tf aggregates once, the broadcast
    query terms select only their postings, and everything downstream is
    proportional to those postings — never the corpus."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qdf = arrow_local_df(spark, _BM25_QUERIES, "query_id int, query_text string")
    return bm25_topk(docs, qdf, k=10)


_HYBRID_ORACLE = (
    "WITH "
    + _BM25_CORE.format(
        queries="VALUES (0, 'spark query data the window scan')"
    )
    + f""",
    lex AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= 20),
    qvec AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0),
    cos AS (
        SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
               CAST({_DOT_DEC} AS DOUBLE)
               / (SQRT(CAST((SELECT SUM(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,15)))
                             FROM (SELECT UNNEST(a.embedding) AS x)) AS DOUBLE))
                  * SQRT(CAST((SELECT SUM(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,15)))
                               FROM (SELECT UNNEST(b.embedding) AS y)) AS DOUBLE)))
                   AS cosine
        FROM qvec a JOIN embeddings b ON a.vec_id != b.vec_id
    ),
    vec AS (
        SELECT query_id, doc_id, rank FROM (
            SELECT query_id, doc_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, doc_id ASC) AS INT) AS rank
            FROM cos
        ) WHERE rank <= 20
    ),
    tagged AS (
        SELECT query_id, doc_id, rank FROM lex
        UNION ALL
        SELECT query_id, doc_id, rank FROM vec
    ),
    fused AS (
        SELECT query_id, doc_id,
               COUNT(*) AS n_systems,
               CAST(SUM(CAST(floor(1000000000.0 / (60 + rank)) AS BIGINT))
                    AS BIGINT) AS rrf_nano
        FROM tagged GROUP BY 1, 2
    )
    SELECT query_id, doc_id, n_systems, rrf_nano,
           CAST(rrf_nano AS DOUBLE) / 1000000000.0 AS rrf_score,
           CAST(rnk AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY rrf_nano DESC, doc_id ASC) AS rnk
          FROM fused)
    WHERE rnk <= 10
    """
)


@query("hybrid_rrf_fusion", _HYBRID_ORACLE)
def q_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators/retrieval.rrf_fuse; Cormack et al.
    SIGIR 2009): BM25 top-20 for a text query FUSED with exact-cosine
    top-20 for the matching embedding (vec_id 0 aligns with doc_id 0),
    rrf_nano = Σ floor(1e9/(60+rank)) summed as integers. Docs surfaced
    by both systems rank first (n_systems = 2). The fusion itself is one
    union + one integer aggregate over the two top-k lists — its cost is
    independent of corpus size; each ranker's scale story is its own
    (inverted index / ANN siblings)."""
    from .operators.similarity import brute_force_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings")
    qdf = arrow_local_df(
        spark, [(0, "spark query data the window scan")],
        "query_id int, query_text string",
    )
    lex = bm25_topk(docs, qdf, k=20).select("query_id", "doc_id", "rank")
    vec = (
        brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=20)
        .select(
            "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
        )
    )
    return rrf_fuse([("bm25", lex), ("cosine", vec)], k0=60, k=10)


_TOK = ("len(list_filter(string_split_regex(trim(regexp_replace(lower(text),"
        " '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> ''))")

_PACK_ORACLE = (
    "WITH "
    + _BM25_CORE.format(queries=_BM25_QUERIES_SQL)
    + f""",
    tok AS (SELECT doc_id, CAST({_TOK} AS BIGINT) AS n_tokens FROM documents),
    sel AS (
        SELECT r.query_id, r.doc_id, r.rank, t.n_tokens,
               CAST(SUM(t.n_tokens) OVER (
                   PARTITION BY r.query_id ORDER BY r.rank
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tokens
        FROM ranked r JOIN tok t USING (doc_id)
        WHERE r.rank <= 10
    )
    SELECT query_id, doc_id, rank, n_tokens, cum_tokens
    FROM sel WHERE cum_tokens <= 300
    """
)


@query("rag_context_pack", _PACK_ORACLE)
def q_rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context assembly (operators/retrieval.context_pack): the BM25
    top-10 per query joined with exact word-token counts, then cut to
    the rank-order prefix fitting a 300-token context budget — the
    deterministic packing step between retrieval and prompt
    construction (prefix-cut by the ranker's order, not a knapsack).
    One window over the per-query top-k list; cost independent of
    corpus size."""
    from .functions.text import words
    from .operators.retrieval import context_pack

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qdf = arrow_local_df(spark, _BM25_QUERIES, "query_id int, query_text string")
    ranked = bm25_topk(docs, qdf, k=10).select("query_id", "doc_id", "rank")
    tok = docs.select(
        "doc_id", F.size(words("text")).cast("long").alias("n_tokens")
    )
    return context_pack(
        ranked.join(tok, "doc_id").select(
            "query_id", "doc_id", "rank", "n_tokens"
        ),
        "n_tokens",
        budget=300,
    )


# Shared cosine→nano SQL (DuckDB): exact decimal-fold dot over aliases
# a/b (same macro Spark's functions/vector.py mirrors), double norms,
# floor(cos*1e9) to BIGINT — every step bit-identical to the Spark side.
_COS_NANO = f"""CAST(floor(CAST({_DOT_DEC} AS DOUBLE)
           / (SQRT(CAST((SELECT SUM(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,15)))
                         FROM (SELECT UNNEST(a.embedding) AS x)) AS DOUBLE))
              * SQRT(CAST((SELECT SUM(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,15)))
                           FROM (SELECT UNNEST(b.embedding) AS y)) AS DOUBLE)))
           * 1000000000.0) AS BIGINT)"""

_MMR_ORACLE = f"""
WITH q AS (
    SELECT vec_id, embedding FROM embeddings
    WHERE vec_id % 100 = 0 AND vec_id < 500
),
cos AS (
    SELECT a.vec_id AS query_id, b.vec_id AS doc_id, {_COS_NANO} AS rel_nano
    FROM q a JOIN embeddings b ON a.vec_id != b.vec_id
),
cand AS (
    SELECT query_id, doc_id, rel_nano FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY rel_nano DESC, doc_id ASC) AS rn
        FROM cos
    ) WHERE rn <= 12
),
pair AS (
    SELECT c1.query_id, c1.doc_id AS doc_a, c2.doc_id AS doc_b,
           {_COS_NANO} AS sim_nano
    FROM cand c1
    JOIN cand c2 ON c1.query_id = c2.query_id AND c1.doc_id != c2.doc_id
    JOIN embeddings a ON a.vec_id = c1.doc_id
    JOIN embeddings b ON b.vec_id = c2.doc_id
),
s1 AS (
    SELECT query_id, doc_id, 7 * rel_nano AS mmr_nano FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY rel_nano DESC, doc_id ASC) AS rn
        FROM cand
    ) WHERE rn = 1
),
m2 AS (
    SELECT c.query_id, c.doc_id,
           7 * c.rel_nano - 3 * p.sim_nano AS mmr_nano
    FROM cand c
    JOIN s1 ON s1.query_id = c.query_id AND c.doc_id != s1.doc_id
    JOIN pair p ON p.query_id = c.query_id
               AND p.doc_a = c.doc_id AND p.doc_b = s1.doc_id
),
s2 AS (
    SELECT query_id, doc_id, mmr_nano FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY mmr_nano DESC, doc_id ASC) AS rn
        FROM m2
    ) WHERE rn = 1
),
m3 AS (
    SELECT c.query_id, c.doc_id,
           7 * c.rel_nano - 3 * GREATEST(p1.sim_nano, p2.sim_nano) AS mmr_nano
    FROM cand c
    JOIN s1 ON s1.query_id = c.query_id
    JOIN s2 ON s2.query_id = c.query_id
    JOIN pair p1 ON p1.query_id = c.query_id
                AND p1.doc_a = c.doc_id AND p1.doc_b = s1.doc_id
    JOIN pair p2 ON p2.query_id = c.query_id
                AND p2.doc_a = c.doc_id AND p2.doc_b = s2.doc_id
    WHERE c.doc_id != s1.doc_id AND c.doc_id != s2.doc_id
),
s3 AS (
    SELECT query_id, doc_id, mmr_nano FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY mmr_nano DESC, doc_id ASC) AS rn
        FROM m3
    ) WHERE rn = 1
)
SELECT query_id, CAST(1 AS INT) AS rank, doc_id, mmr_nano FROM s1
UNION ALL
SELECT query_id, CAST(2 AS INT) AS rank, doc_id, mmr_nano FROM s2
UNION ALL
SELECT query_id, CAST(3 AS INT) AS rank, doc_id, mmr_nano FROM s3
"""


@query("retrieval_mmr_rerank", _MMR_ORACLE)
def q_retrieval_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking (operators/retrieval.mmr_rerank): a
    FIXED batch of 5 query vectors (vec_id % 100 = 0 AND < 500 — the
    query set must not grow with the corpus, or the brute-force
    candidate stage goes quadratic; the sf0.1→sf1 lane measured exactly
    that at 81× before this pin, 3.4× after), 12 brute-force cosine
    candidates each (the documented exact baseline — production swaps
    in ann_lsh for the candidate stage), pairwise candidate sims, then
    the greedy λ=7/10 integer-nano selection of k=3 in a cogrouped
    Arrow kernel. The oracle unrolls the 3 greedy steps in SQL —
    selection replayed bit-exactly, not approximately."""
    from .functions.vector import cosine_similarity
    from .operators.retrieval import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 500)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    nano = lambda c: F.floor(c * F.lit(1_000_000_000.0)).cast("bigint")  # noqa: E731
    cos = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            nano(cosine_similarity("q_emb", "embedding")).alias("rel_nano"),
        )
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(
            F.col("rel_nano").desc(), F.col("doc_id").asc()
        )
    )
    # persist the candidate list (<= 5 queries x 12 docs = 60 rows):
    # its subtree is the full brute-force cosine fold over the corpus
    # plus the per-query top-12 window, and THREE consumers re-ran it
    # otherwise (the kernel's cand input and both sides of the pairwise
    # self-join via cande) — guide §1.2, round 15
    cand = scoped_persist(
        cos.withColumn("rn", rn).filter(F.col("rn") <= 12).drop("rn")
    )
    cande = cand.join(emb, cand.doc_id == emb.vec_id).select(
        "query_id", "doc_id", "embedding"
    )
    ca = cande.select(
        F.col("query_id").alias("qa"),
        F.col("doc_id").alias("doc_a"),
        F.col("embedding").alias("emb_a"),
    )
    cb = cande.select(
        F.col("query_id").alias("qb"),
        F.col("doc_id").alias("doc_b"),
        F.col("embedding").alias("emb_b"),
    )
    pair = (
        ca.join(
            cb,
            (F.col("qa") == F.col("qb")) & (F.col("doc_a") != F.col("doc_b")),
        )
        .select(
            F.col("qa").alias("query_id"), "doc_a", "doc_b",
            nano(cosine_similarity("emb_a", "emb_b")).alias("sim_nano"),
        )
    )
    return mmr_rerank(cand, pair, k=3, lam_num=7, lam_den=10)
