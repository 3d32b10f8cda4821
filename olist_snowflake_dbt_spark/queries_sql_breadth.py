"""Breadth queries for the relational/SQL operator matrix beyond the
reference surface (SURVEY.md §2.C lists what the reference LACKS; these
prove the engine has it): percentiles, moment statistics, string
functions, range joins, null-safe equality, array aggregation, unpivot,
correlated scalar subqueries, window frames, sketches.

Determinism: all money/moment math routes through DECIMAL accumulators
with IDENTICAL formulas on both engines (see queries.py header); any
residual double step (a division, an interpolation) is the same single
expression on both sides, computed from exact inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .queries import _FCT_ORDERS_ORACLE, _t, query


@query(
    "percentile_agg",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6) AS median_qty,
           ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 6) AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (non-approximate) percentiles per group. Spark's
    ``percentile`` sorts within the aggregate — at 100 TB prefer
    ``approx_percentile`` (see hll_and_quantile_sketch) unless exactness
    is contractual; both sides round the one interpolation step."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(CAST(l_quantity AS DOUBLE), 0.5)"), 6).alias("median_qty"),
        F.round(F.expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.9)"), 6).alias("p90_price"),
    )


@query(
    "moment_stats",
    """
    WITH acc AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
               SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx,
               SUM(CAST(l_discount AS DECIMAL(18,2))) AS sy,
               SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)/n)
                 / (n - 1), 6) AS var_qty,
           ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)/n)
                 / (n - 1), 6) AS covar_qty_disc
    FROM acc
    """,
)
def q_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance/covariance from exact DECIMAL moment sums (the
    order-independent distributed formulation — Welford-style streaming
    variance is NOT reproducible across partitionings; decimal moments
    are). The final division is one identical double expression per
    engine."""
    li = _t(spark, sf_dir, "lineitem")
    dq = F.col("l_quantity").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(18,2)")
    acc = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dq).alias("sx"),
        F.sum((dq * dq).cast("decimal(38,4)")).alias("sxx"),
        F.sum(dd).alias("sy"),
        F.sum((dq * dd).cast("decimal(38,4)")).alias("sxy"),
    )
    n = F.col("n")
    return acc.select(
        "l_returnflag",
        "n",
        F.round(
            (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double") / n)
            / (n - 1),
            6,
        ).alias("var_qty"),
        F.round(
            (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double") / n)
            / (n - 1),
            6,
        ).alias("covar_qty_disc"),
    )


@query(
    "string_funcs",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           substr(p_name, 1, 8) AS name_prefix,
           replace(p_type, ' ', '_') AS type_snake,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           length(p_name) - length(replace(p_name, ' ', '')) + 1 AS n_name_words,
           levenshtein(p_brand, 'Brand#11') AS brand_distance,
           split_part(p_type, ' ', 1) AS type_head
    FROM part WHERE p_partkey <= 500
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function breadth (upper/substr/replace/lpad/
    levenshtein/split) — all JVM codegen expressions."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        (F.length("p_name") - F.length(F.replace(F.col("p_name"), F.lit(" "), F.lit(""))) + 1).alias("n_name_words"),
        F.levenshtein("p_brand", F.lit("Brand#11")).alias("brand_distance"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
    )


@query(
    "range_join_bucketed",
    """
    SELECT o.o_orderkey,
           COUNT(l.l_orderkey) AS n_shipments_30d
    FROM orders o
    LEFT JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
    WHERE o.o_orderkey <= 3000
    GROUP BY o.o_orderkey
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-predicate join. Here the range rides on an equi-key
    (orderkey), so Catalyst keeps a hash join and evaluates the range
    as residual predicates — the plan to insist on at 100 TB. For a
    PURE range join (no equi-key), the scale pattern is bucket
    explosion: map each probe range to the date buckets it overlaps,
    equi-join on bucket, re-filter exactly."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 3000)
    li = _t(spark, sf_dir, "lineitem")
    cond = (
        (li["l_orderkey"] == o["o_orderkey"])
        & (li["l_shipdate"] >= o["o_orderdate"])
        & (li["l_shipdate"] < F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"))
    )
    return (
        o.join(li, cond, "left")
        .groupBy("o_orderkey")
        .agg(F.count(li["l_orderkey"]).alias("n_shipments_30d"))
    )


@query(
    "null_safe_join",
    """
    WITH a AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END AS pri
        FROM orders WHERE o_orderkey <= 2000
    ),
    b AS (
        SELECT DISTINCT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                             ELSE o_orderpriority END AS pri
        FROM orders WHERE o_orderkey <= 2000
    )
    SELECT a.o_orderkey, a.pri
    FROM a JOIN b ON a.pri IS NOT DISTINCT FROM b.pri
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    MATCH each other, unlike ordinary equi-joins — and unlike ordinary
    joins the NULL bucket all lands on one shuffle partition (salt it
    if NULLs dominate at scale)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    a = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("pri"),
    ).alias("a")
    b = a.select(F.col("pri").alias("pri_b")).distinct().alias("b")
    return a.join(b, F.col("a.pri").eqNullSafe(F.col("b.pri_b"))).select(
        F.col("a.o_orderkey"), F.col("a.pri")
    )


@query(
    "array_agg_ops",
    """
    SELECT l_orderkey,
           array_to_string(list_sort(array_agg(DISTINCT l_linenumber)), ',')
               AS line_numbers,
           array_to_string(list_sort(array_agg(DISTINCT l_returnflag)), ',')
               AS flags
    FROM lineitem WHERE l_orderkey <= 2000
    GROUP BY l_orderkey
    """,
)
def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation with deterministic ordering: collect_set →
    sort_array → join to string (array columns hash differently across
    engines; the canonical string form is engine-portable)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    return li.groupBy("l_orderkey").agg(
        F.array_join(F.sort_array(F.collect_set("l_linenumber")), ",").alias("line_numbers"),
        F.array_join(F.sort_array(F.collect_set("l_returnflag")), ",").alias("flags"),
    )


@query(
    "unpivot_stack",
    """
    SELECT o_orderkey, metric, CAST(val AS DOUBLE) AS val
    FROM (
        SELECT o_orderkey, o_totalprice, CAST(o_custkey AS DOUBLE) AS custkey_d
        FROM orders WHERE o_orderkey <= 1000
    )
    UNPIVOT (val FOR metric IN (o_totalprice AS 'total_price',
                                custkey_d AS 'cust_key'))
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long) via ``stack`` — the inverse of the pivot
    query; generator-based, no shuffle."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    return o.select(
        "o_orderkey",
        F.expr(
            "stack(2, 'total_price', CAST(o_totalprice AS DOUBLE),"
            " 'cust_key', CAST(o_custkey AS DOUBLE)) AS (metric, val)"
        ),
    )


@query(
    "correlated_scalar_subquery",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders o
    WHERE CAST(o_totalprice AS DECIMAL(18,2)) = (
        SELECT MAX(CAST(o2.o_totalprice AS DECIMAL(18,2)))
        FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    """,
)
def q_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (each customer's max-price orders).
    Catalyst decorrelates this into an aggregate + join — the rewrite
    you'd hand-write at scale happens automatically; check the plan for
    the single shuffle on o_custkey."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_csq")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM __orders_csq o
        WHERE CAST(o_totalprice AS DECIMAL(18,2)) = (
            SELECT MAX(CAST(o2.o_totalprice AS DECIMAL(18,2)))
            FROM __orders_csq o2 WHERE o2.o_custkey = o.o_custkey
        )
        """
    )


@query(
    "window_frames",
    """
    SELECT o_orderkey, o_custkey,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DECIMAL(38,2))
                AS DOUBLE) AS rolling3_price,
           ntile(4) OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey) AS quartile,
           ROUND(percent_rank() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey), 6)
               AS pct_rank
    FROM orders WHERE o_custkey <= 100
    """,
)
def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame breadth: bounded ROWS frame rolling sum (exact
    decimal), ntile, percent_rank — all over one shuffle on o_custkey
    with a deterministic (date, key) intra-partition order."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w.rowsBetween(-2, 0))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("rolling3_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


@query(
    "incremental_delete_insert_sim",
    """
    WITH existing AS (
        SELECT user_id, event_id, ts FROM events WHERE ts < TIMESTAMP '2024-06-01'
    ),
    batch AS (
        SELECT user_id, event_id, ts FROM events WHERE ts >= TIMESTAMP '2024-06-01'
    )
    SELECT * FROM existing WHERE user_id NOT IN (SELECT user_id FROM batch)
    UNION ALL
    SELECT * FROM batch
    """,
)
def q_incremental_delete_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 delete+insert strategy: delete every existing row whose key
    appears in the batch, insert the batch as-is (duplicate batch keys
    allowed, unlike merge) — anti-join + union."""
    from .operators.incremental import incremental_delete_insert

    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    cutoff = F.lit("2024-06-01").cast("timestamp")
    return incremental_delete_insert(
        e.filter(F.col("ts") < cutoff), e.filter(F.col("ts") >= cutoff), ["user_id"]
    )


@query(
    "incremental_insert_overwrite_sim",
    """
    WITH existing AS (
        SELECT user_id, event_id, ts, CAST(value AS DECIMAL(18,2)) AS value
        FROM events
    ),
    batch AS (
        SELECT user_id, event_id, ts,
               CAST(CAST(value AS DECIMAL(18,2)) + 100 AS DECIMAL(18,2)) AS value
        FROM events
        WHERE ts >= TIMESTAMP '2024-06-01' AND ts < TIMESTAMP '2024-07-01'
    ),
    unioned AS (
        SELECT * FROM existing
        WHERE CAST(ts AS DATE) NOT IN (SELECT DISTINCT CAST(ts AS DATE) FROM batch)
        UNION ALL
        SELECT * FROM batch
    )
    SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS value FROM unioned
    """,
)
def q_incremental_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 insert_overwrite / microbatch strategy: the batch (June's
    events, revalued) replaces exactly the date partitions it contains;
    all other partitions survive untouched. At 100 TB this is the
    strategy of record — the rewrite is pruned to the batch's
    partitions (dynamic partition overwrite), never a full-table scan."""
    from .operators.incremental import incremental_insert_overwrite

    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.col("value").cast("decimal(18,2)").alias("value")
    )
    lo, hi = F.lit("2024-06-01").cast("timestamp"), F.lit("2024-07-01").cast("timestamp")
    batch = e.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).withColumn(
        "value", (F.col("value") + 100).cast("decimal(18,2)")
    )
    out = incremental_insert_overwrite(
        e.withColumn("__p", F.to_date("ts")),
        batch.withColumn("__p", F.to_date("ts")),
        ["__p"],
    )
    return out.drop("__p").withColumn("value", F.col("value").cast("double"))


# The repo-shipped fixture, found from this package's location so any
# checkout reads its own copy.
_SEED_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures",
    "seed_customers.csv",
)


@query(
    "seed_csv_inference",
    f"""
    SELECT customer_id,
           customer_zip_code_prefix,
           customer_city,
           customer_state,
           CAST(amount AS DOUBLE) AS amount,
           CAST(signup_date AS TIMESTAMP) AS signup_date,
           last_seen_ts,
           CAST(is_active AS VARCHAR) AS is_active,
           note
    FROM read_csv('{_SEED_FIXTURE}', header=true,
                  nullstr=['', 'null'],
                  columns={{'customer_id': 'VARCHAR',
                           'customer_zip_code_prefix': 'BIGINT',
                           'customer_city': 'VARCHAR',
                           'customer_state': 'VARCHAR',
                           'amount': 'DECIMAL(38,2)',
                           'signup_date': 'DATE',
                           'last_seen_ts': 'TIMESTAMP',
                           'is_active': 'BOOLEAN',
                           'note': 'VARCHAR'}})
    """,
)
def q_seed_csv_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 seed ingestion end-to-end on a repo-shipped fixture CSV (UTF-8
    BOM, CRLF, quoted commas/escaped quotes, ""/"null" → NULL, leading
    zeros): agate-precedence type inference (Integer → Number → Date →
    DateTime → Boolean → Text) must produce the exact typed rows DuckDB
    reads under the equivalent explicit column types. The inferred
    DECIMAL amount is presentation-cast to DOUBLE (driver repr parity);
    the seed itself stays DECIMAL-typed (tests/test_seeds.py)."""
    from .sources.seeds import read_seed_csv

    seed = read_seed_csv(spark, _SEED_FIXTURE)
    return (
        seed.withColumn("amount", F.col("amount").cast("double"))
        # DATE → TIMESTAMP and BOOLEAN → STRING: pandas renders Spark
        # dates as date objects but DuckDB dates as datetime64, and a
        # nullable bool as None vs NaN — same values, divergent reprs
        .withColumn("signup_date", F.col("signup_date").cast("timestamp"))
        .withColumn("is_active", F.col("is_active").cast("string"))
    )


@query(
    "salted_skew_join",
    """
    WITH fact AS (
        SELECT l_orderkey,
               CASE WHEN l_orderkey % 3 = 0 THEN 1
                    ELSE l_suppkey END AS supp_key,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        FROM lineitem
    )
    SELECT f.l_orderkey, f.supp_key, f.price, s.s_name, s.s_nationkey
    FROM fact f JOIN supplier s ON f.supp_key = s.s_suppkey
    """,
)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join on a deliberately skewed key (a third of the fact
    rows share supp_key=1): probe rows are salted into 8 sub-keys and
    the supplier side is replicated per salt, so the hot key spreads
    over 8 reducers. Result is byte-identical to the plain join — the
    oracle IS the plain join."""
    from .operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.when(F.col("l_orderkey") % 3 == 0, F.lit(1))
        .otherwise(F.col("l_suppkey"))
        .alias("supp_key"),
        F.col("l_extendedprice").cast("decimal(18,2)").cast("double").alias("price"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("supp_key"), "s_name", "s_nationkey"
    )
    return salted_join(li, supp, "supp_key", num_salts=8)


@query(
    "two_phase_distinct_skew",
    """
    SELECT CASE WHEN l_orderkey % 2 = 0 THEN 'hot' ELSE l_returnflag END
               AS grp,
           COUNT(DISTINCT l_partkey) AS n_distinct_l_partkey
    FROM lineitem GROUP BY 1
    """,
)
def q_two_phase_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof distinct count: half the rows share one hot group;
    phase 1 shuffles on (group, value) so the hot group splits across
    reducers, phase 2 counts the bounded distinct sets."""
    from .operators.skew import two_phase_distinct

    li = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 2 == 0, F.lit("hot"))
        .otherwise(F.col("l_returnflag"))
        .alias("grp"),
        "l_partkey",
    )
    return two_phase_distinct(li, ["grp"], "l_partkey")


@query(
    "lateral_explode",
    """
    WITH base AS (
        SELECT p_partkey, string_split(p_type, ' ') AS w
        FROM part WHERE p_partkey <= 300
    ),
    ex AS (
        SELECT p_partkey, w, UNNEST(generate_series(1, len(w))) AS pos
        FROM base
    )
    SELECT p_partkey, w[pos] AS word, CAST(pos AS INT) AS pos FROM ex
    """,
)
def q_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral array expansion with ordinality (posexplode) — the
    generator runs inside the scan stage, no shuffle."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return p.select(
        "p_partkey",
        F.posexplode(F.split("p_type", " ")).alias("pos0", "word"),
    ).select("p_partkey", "word", (F.col("pos0") + 1).cast("int").alias("pos"))


@query(
    "conditional_agg_filter",
    """
    SELECT o_orderstatus,
           COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
           COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     FILTER (WHERE o_orderpriority = '1-URGENT') AS DECIMAL(38,2))
                AS DOUBLE) AS urgent_revenue
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (SQL FILTER clause / count-when): three
    differently-filtered aggregates in ONE pass over the data — never
    three scans."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.when(F.col("o_totalprice") > 100000, 1)).alias("n_big"),
        F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("n_urgent"),
        F.sum(
            F.when(
                F.col("o_orderpriority") == "1-URGENT",
                F.col("o_totalprice").cast("decimal(18,2)"),
            )
        ).cast("decimal(38,2)").cast("double").alias("urgent_revenue"),
    )


@query(
    "minmax_by_agg",
    """
    SELECT o_custkey,
           arg_max(o_orderkey,
                   lpad(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 20, '0')
                   || lpad(CAST(o_orderkey AS VARCHAR), 20, '0')) AS best_order,
           arg_min(o_orderkey,
                   lpad(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 20, '0')
                   || lpad(CAST(o_orderkey AS VARCHAR), 20, '0')) AS worst_order
    FROM orders WHERE o_custkey <= 200
    GROUP BY o_custkey
    """,
)
def q_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax aggregation (max_by/min_by): the orderkey of each
    customer's priciest and cheapest order. The comparison key is a
    zero-padded (price_cents, orderkey) string so ordering is total,
    deterministic, and identical on both engines (this DuckDB build's
    arg_max lacks struct comparators)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    keyed = F.concat(
        F.lpad(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .cast("string"),
            20,
            "0",
        ),
        F.lpad(F.col("o_orderkey").cast("string"), 20, "0"),
    )
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", keyed).alias("best_order"),
        F.min_by("o_orderkey", keyed).alias("worst_order"),
    )


@query(
    "hll_and_quantile_sketch",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6)
               AS exact_median_qty,
           TRUE AS hll_within_tol,
           TRUE AS pct_within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — the 100 TB path for distincts/quantiles:
    approx_count_distinct (HLL++) and approx_percentile, both
    mergeable partial aggregates (no global sort, no exact-distinct
    shuffle). Sketch estimates are engine-specific, so the driver row
    checks (a) the exact twins both engines compute and (b) bounded-
    relative-error invariants over the REAL sketches — HLL within 5x
    its 2% rsd of the exact distinct; the percentile sketch landing
    inside the exact p45..p55 rank band — which the oracle states as
    literal TRUE. Error bounds are relative, so the invariants hold at
    any SF; tighter accuracy assertions stay in
    tests/test_sql_breadth.py.

    The exact percentiles are NOT Spark's `percentile` UDAF (which
    buffers every value per group — measured 39 s on sf0.1 and
    unbounded memory at 100 TB): quantities live on a small integer
    domain, so the query aggregates a (flag, value) count distribution
    — one map-side-combined shuffle to ~50 rows/group — and evaluates
    the same lower+(pos-floor(pos))*(upper-lower) interpolation the
    engines' exact quantile functions define, via conditional MINs over
    cumulative counts."""
    li = _t(spark, sf_dir, "lineitem")
    qd = F.col("l_quantity").cast("double")
    # COUNT(DISTINCT) must not share an aggregate with the percentile
    # sketch: the distinct rewrite (Expand) demotes the ObjectHashAggregate
    # to a SortAggregate over every shuffled row — measured 62 s vs ~5 s
    # split at sf0.1. Three independent partial-aggregating passes joined
    # on the 3-row group key beat one fused pass by 8-12x.
    exact_cd = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("exact_orders")
    )
    sketches = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("__hll"),
        F.approx_percentile(qd, 0.5, 1000).alias("__apx"),
    )
    base = exact_cd.join(F.broadcast(sketches), "l_returnflag")
    counts = li.groupBy("l_returnflag", qd.alias("__v")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    flagw = W.partitionBy("l_returnflag")
    cum = counts.withColumn(
        "__cum_end",
        F.sum("__c").over(flagw.orderBy("__v").rowsBetween(W.unboundedPreceding, 0)),
    ).withColumn("__n", F.sum("__c").over(flagw))

    def pct(p: float) -> F.Column:
        pos = F.lit(p) * (F.col("__n") - 1).cast("double")
        lower = F.min(F.when(F.col("__cum_end") > F.floor(pos), F.col("__v")))
        upper = F.min(F.when(F.col("__cum_end") > F.ceil(pos), F.col("__v")))
        frac = pos - F.floor(pos).cast("double")
        # pos/frac are constant within the group; carry them through MIN
        return F.min(frac) * (upper - lower) + lower

    pcts = cum.groupBy("l_returnflag").agg(
        pct(0.5).alias("__p50"), pct(0.45).alias("__p45"), pct(0.55).alias("__p55")
    )
    return (
        base.join(F.broadcast(pcts), "l_returnflag")
        .select(
            "l_returnflag",
            "exact_orders",
            F.round("__p50", 6).alias("exact_median_qty"),
            (
                F.abs(F.col("__hll") - F.col("exact_orders"))
                <= F.lit(0.10) * F.col("exact_orders")
            ).alias("hll_within_tol"),
            (
                (F.col("__apx") >= F.col("__p45"))
                & (F.col("__apx") <= F.col("__p55"))
            ).alias("pct_within_tol"),
        )
    )


@query(
    "grouping_sets_mix",
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
           COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (disjoint marginals + grand total) — the
    general form of grouping_rollup's ROLLUP. One Expand node feeds a
    single hash aggregate: the input is scanned once, each row emitted
    once per set, partial-aggregated map-side — same single-shuffle
    cost model as a plain GROUP BY at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
            F.grouping("l_linestatus").cast("bigint").alias("g_status"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("sum_qty"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status",
            "n_rows", "sum_qty",
        )
    )


@query(
    "window_range_interval",
    """
    SELECT event_id, user_id, ts,
           COUNT(*) OVER w AS n_prev_hour,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DECIMAL(38,2))
                AS DOUBLE) AS value_prev_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
    """,
)
def q_window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE window frame (INTERVAL '1 hour' PRECEDING): per
    event, how many events / how much value the same user produced in
    the trailing hour — the rolling-feature primitive of a training
    pipeline. RANGE frames bound by VALUE, not row count, so ties and
    gaps are handled by event time; the frame is only expressible in
    SQL (the DataFrame rangeBetween API takes numeric offsets), and the
    plan is one shuffle on user_id + an ordered running frame scan.

    The events view registered here normalizes ts to TIMESTAMP for
    interval arithmetic under either parquet layout (see
    sources/readers.read_table)."""
    from .queries import _t as _read

    _read(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).createOrReplaceTempView("__events_range_w")
    return spark.sql(
        """
        SELECT event_id, user_id, ts,
               COUNT(*) OVER w AS n_prev_hour,
               CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w
                         AS DECIMAL(38,2)) AS DOUBLE) AS value_prev_hour
        FROM __events_range_w
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
        """
    )


@query(
    "full_outer_reconcile",
    """
    WITH epoch_a AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM orders WHERE o_orderkey % 3 <> 0
    ),
    epoch_b AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,2))
                   + CASE WHEN o_orderkey % 5 = 0
                          THEN CAST(10.01 AS DECIMAL(18,2))
                          ELSE CAST(0 AS DECIMAL(18,2)) END AS price
        FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                WHEN a.price <> b.price THEN 'changed'
                ELSE 'unchanged' END AS change_kind,
           CAST(a.price AS DOUBLE) AS price_a,
           CAST(b.price AS DOUBLE) AS price_b
    FROM epoch_a a FULL OUTER JOIN epoch_b b USING (o_orderkey)
    """,
)
def q_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join reconciliation — the snapshot-diff every data
    platform runs between table epochs: rows only in B are 'added',
    only in A 'removed', both-but-different 'changed'. One shuffle on
    the join key; at 100 TB both epochs hash-partition on o_orderkey
    and the diff streams per partition (this is also the inner shape of
    operators/snapshots.py's SCD-2 change detection, exposed as a
    first-class query)."""
    o = _t(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    a = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", price.alias("price")
    )
    b = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        (price
         + F.when(F.col("o_orderkey") % 5 == 0, F.lit("10.01"))
         .otherwise(F.lit("0")).cast("decimal(18,2)")
         ).cast("decimal(18,2)").alias("price"),
    )
    joined = a.alias("a").join(
        b.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    return joined.select(
        F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .when(F.col("a.price") != F.col("b.price"), "changed")
        .otherwise("unchanged")
        .alias("change_kind"),
        F.col("a.price").cast("double").alias("price_a"),
        F.col("b.price").cast("double").alias("price_b"),
    )


@query(
    "array_hof_stats",
    """
    SELECT vec_id,
           CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0))
                AS BIGINT) AS n_positive,
           ROUND(list_reduce(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                     (acc, x) -> acc + x), 9) AS sum_squares,
           ROUND(list_reduce(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE))), (acc, x) -> greatest(acc, x)),
                 9) AS max_abs
    FROM embeddings
    """,
)
def q_array_hof_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform / filter / aggregate) as
    per-row vector statistics — map-only, no shuffle, no UDF: the whole
    computation is Catalyst expressions over the array column. Folds run
    in element order on both engines, so the double accumulations are
    bit-identical (max/greatest is order-insensitive anyway)."""
    emb = _t(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    return emb.select(
        "vec_id",
        F.size(F.filter(F.col("embedding"), lambda x: xd(x) > 0))
        .cast("bigint")
        .alias("n_positive"),
        F.round(
            F.aggregate(
                F.transform(F.col("embedding"), lambda x: xd(x) * xd(x)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            9,
        ).alias("sum_squares"),
        F.round(
            F.aggregate(
                F.transform(F.col("embedding"), lambda x: F.abs(xd(x))),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            ),
            9,
        ).alias("max_abs"),
    )


@query(
    "variant_shred_agg",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.missing') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_key
    FROM events
    GROUP BY event_type
    """,
)
def q_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): parse_json once into a
    VARIANT column, then typed variant_get extraction — the
    shredded-JSON pattern that replaces per-access string re-parsing
    (each get_json_object re-tokenizes the string; a VARIANT parses
    once into a binary form and every extraction is a cheap path walk —
    the difference between O(accesses x len) and O(len + accesses) per
    row at 100 TB). Missing paths yield NULL; n_missing_key counts those
    NULLs explicitly (SUM of IS NULL) so the metric actually measures
    missing keys on both engines."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return (
        ev.select(
            "event_type",
            F.try_variant_get(v, "$.k", "bigint").alias("__k"),
            F.try_variant_get(v, "$.missing", "string").alias("__m"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("__k").cast("bigint").alias("sum_k"),
            F.sum(F.when(F.col("__m").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_missing_key"),
        )
    )


@query(
    "incremental_microbatch_sim",
    """
    SELECT CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN event_id + 1000000
                ELSE event_id END AS event_id,
           user_id, ts, event_type
    FROM events
    """,
)
def q_incremental_microbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 microbatch strategy as a batch query: the existing table holds
    events before Jan 20; a re-delivered batch covers Jan 15 onward with
    changed rows (event_id shifted) — insert_overwrite on day-aligned
    event-time buckets must replace every overlapping bucket wholesale
    (idempotent re-delivery) and insert the new ones, so the result is
    exactly 'original before the batch window, batch content inside it'.
    Only buckets present in the batch rewrite; untouched days never
    leave disk at scale (partition-pruned via the bucket key)."""
    from .operators.incremental import incremental_microbatch

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "user_id", "ts", "event_type")
    )
    cut_exist = F.lit("2024-01-20").cast("timestamp")
    cut_batch = F.lit("2024-01-15").cast("timestamp")
    existing = ev.filter(F.col("ts") < cut_exist)
    batch = ev.filter(F.col("ts") >= cut_batch).withColumn(
        "event_id", F.col("event_id") + 1000000
    )
    return incremental_microbatch(existing, batch, "ts", "1 day")


@query(
    "date_spine_gaps",
    """
    WITH spine AS (
        SELECT CAST(UNNEST(generate_series(TIMESTAMP '1995-01-01',
                                           TIMESTAMP '2001-08-01',
                                           INTERVAL '1 day')) AS TIMESTAMP) AS d
    ),
    daily AS (
        SELECT o_orderdate AS d, COUNT(*) AS n
        FROM orders GROUP BY o_orderdate
    )
    SELECT CAST(EXTRACT(year FROM s.d) AS BIGINT) AS order_year,
           COUNT(*) AS n_days,
           CAST(COUNT(*) FILTER (WHERE daily.n IS NULL) AS BIGINT)
               AS n_zero_order_days,
           CAST(COALESCE(SUM(daily.n), 0) AS BIGINT) AS n_orders
    FROM spine s LEFT JOIN daily ON s.d = daily.d
    GROUP BY 1
    """,
)
def q_date_spine_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date spine (dbt-utils' date_spine pattern): a generated, gapless
    calendar dimension left-joined to the fact's daily counts exposes
    zero-activity days — the completeness audit a plain GROUP BY can
    never produce (absent days don't group). The spine comes from
    ``F.sequence`` — generated, not stored, and broadcastable: a 100-
    year spine is 37k rows against any fact size."""
    o = _t(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("timestamp"),
                F.lit("2001-08-01").cast("timestamp"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        spine.join(daily, "d", "left")
        .groupBy(F.year("d").cast("bigint").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.count(F.when(F.col("n").isNull(), 1)).cast("bigint")
            .alias("n_zero_order_days"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_orders"),
        )
    )


@query(
    "cube_aggregate",
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
           COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE — every subset of the grouping keys in one pass
    (completing the rollup / grouping-sets family): one Expand node
    emits each row 2^k times into a single partial-aggregated hash
    aggregate, so the cost model stays one-shuffle however many
    marginals the cube covers."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
            F.grouping("l_linestatus").cast("bigint").alias("g_status"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("sum_qty"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status",
            "n_rows", "sum_qty",
        )
    )


@query(
    "try_safe_arithmetic",
    """
    SELECT o_orderkey,
           TRY_CAST(o_orderpriority AS BIGINT) AS bad_cast,
           CAST(CAST(o_totalprice AS DECIMAL(18,2))
                / NULLIF(o_orderkey % 3, 0) AS DOUBLE) AS guarded_div,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS priority_digit
    FROM orders
    """,
)
def q_try_safe_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression surface: try_cast on unparseable strings
    and NULLIF-guarded division both yield NULL instead of failing the
    job — the semantics a 100 TB pipeline needs, where one malformed row
    among trillions must not kill the stage. (The engine pins
    spark.sql.ansi.enabled=false for the same reason; try_* keeps the
    NULL behavior even under ANSI.)"""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr("TRY_CAST(o_orderpriority AS BIGINT)").alias("bad_cast"),
        (
            F.col("o_totalprice").cast("decimal(18,2)")
            / F.nullif((F.col("o_orderkey") % 3).cast("int"), F.lit(0))
        ).cast("double").alias("guarded_div"),
        F.expr("TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT)")
        .alias("priority_digit"),
    )


@query(
    "tpch_q4_late_orders",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL '90 days'
      )
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): correlated EXISTS
    against the fact table — did any line item ship more than 90 days
    after the order? Planned as a LEFT SEMI join on the order key with
    the date comparison as the join residual; the quarter filter prunes
    orders before the join. (The spec's commit/receipt dates aren't in
    the driver's schema; ship-lag stands in.)"""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "corr_regression_agg",
    """
    WITH acc AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
               SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx,
               SUM(CAST(l_discount AS DECIMAL(18,2))) AS sy,
               SUM(CAST(CAST(l_discount AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy,
               SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / SQRT((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 9) AS pearson_r,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                 9) AS ols_slope
    FROM acc
    """,
)
def q_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + OLS slope from exact DECIMAL moment sums —
    the distributed-exact formulation (Spark's corr/regr_slope stream
    doubles and are partition-order-dependent in the last ulps; decimal
    moments are order-independent, then ONE identical double expression
    per engine). Same single-shuffle cost as any grouped aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    dq = F.col("l_quantity").cast("decimal(18,2)")
    dd = F.col("l_discount").cast("decimal(18,2)")
    acc = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dq).alias("sx"),
        F.sum((dq * dq).cast("decimal(38,4)")).alias("sxx"),
        F.sum(dd).alias("sy"),
        F.sum((dd * dd).cast("decimal(38,4)")).alias("syy"),
        F.sum((dq * dd).cast("decimal(38,4)")).alias("sxy"),
    )
    n = F.col("n")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    sy, syy = F.col("sy").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    return acc.select(
        "l_returnflag", "n",
        F.round(cov_n / F.sqrt(var_x * var_y), 9).alias("pearson_r"),
        F.round(cov_n / var_x, 9).alias("ols_slope"),
    )


@query(
    "batch_session_window",
    """
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER w <= INTERVAL '30 minutes'
                    THEN 0 ELSE 1 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
    """,
)
def q_batch_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window in BATCH mode — the same gap-based session
    operator the streaming surface uses (stream_session_stats), run as
    a plain aggregation: one API, both execution modes, identical
    results (the oracle is the gaps-and-islands construction). Spark
    plans it as a single shuffle on user_id with session merging inside
    the aggregate — no window-function pass needed."""
    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("__w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("__w")["start"].alias("session_start"),
            F.col("__w")["end"].alias("session_end"),
            "n_events",
        )
    )


@query(
    "map_type_roundtrip",
    """
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY user_id, event_type HAVING COUNT(*) >= 3
    """,
)
def q_map_type_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per-user event-type histograms built AS MAPS
    (map_from_entries over a sorted entry list — sort_array makes the
    construction order deterministic), filtered with the map_filter
    higher-order function, then shredded back to rows via
    explode(map_entries(...)). Maps never reach the driver compare —
    map iteration order is engine-specific, so the contract is the
    relational shred, which a plain GROUP BY/HAVING oracle pins
    exactly. Plan: one (user, type) count shuffle, one per-user
    collect; the map ops are map-side expressions."""
    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    maps = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    return (
        maps.select(
            "user_id",
            F.explode(
                F.map_entries(F.map_filter(F.col("m"), lambda k, v: v >= 3))
            ).alias("e"),
        )
        .select(
            "user_id",
            F.col("e")["key"].alias("event_type"),
            F.col("e")["value"].alias("n"),
        )
    )


_RECURSIVE_CHAIN = """
WITH RECURSIVE chain(custkey, anc, depth) AS (
    SELECT c_custkey, c_custkey, 0 FROM {customer} WHERE c_custkey < 256
    UNION ALL
    SELECT custkey, CAST((anc - (anc % 2)) / 2 AS BIGINT), depth + 1
    FROM chain WHERE anc > 0
)
SELECT custkey,
       CAST(MAX(depth) AS BIGINT) AS depth_to_root,
       CAST(COUNT(*) AS BIGINT) AS n_ancestors
FROM chain GROUP BY custkey
"""


@query(
    "recursive_cte_hierarchy",
    _RECURSIVE_CHAIN.format(customer="customer"),
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4): iterative hierarchy traversal IN SQL —
    each customer walks an arithmetic parent chain (anc -> floor(anc/2),
    a binary-tree hierarchy derived from the key, no extra data needed)
    to the root, reporting depth and ancestor count. The SQL text is
    IDENTICAL on both engines modulo the table reference — including the
    portable floor-halving (anc - anc%2)/2, since bare integer `/` is
    float division in DuckDB but integer division in Spark. Execution is
    Spark's recursive-CTE loop: O(depth) joined iterations, each a
    distributed step — the same per-round cost model as the
    connected-components operator, expressed declaratively."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__rec_customer")
    return spark.sql(_RECURSIVE_CHAIN.format(customer="__rec_customer"))


@query(
    "sketch_rollup_merge",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_day_partials,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS merged_within_tol
    FROM events GROUP BY event_type
    """,
)
def q_sketch_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable sketch rollup — the 100 TB distinct-count pattern
    the hll_and_quantile_sketch row only hints at: raw events collapse
    ONCE into per-(event_type, day) Apache DataSketches HLL partials
    (``hll_sketch_agg``), and every coarser rollup (here: per
    event_type) is computed by MERGING the stored partials
    (``hll_union_agg``) — never by rescanning raw data. A day's sketch
    is ~2^12 bytes regardless of row count, so the standing partial
    table for years of 100 TB/day telemetry is megabytes, and rollup
    latency is O(partials), not O(events). The sketch estimate is
    engine-specific, so (pattern as hll_and_quantile_sketch) the driver
    row pins the exact twins both engines compute — partial count and
    exact distinct — plus a bounded-relative-error invariant over the
    REAL merged sketch, which the oracle states as literal TRUE; the
    default lgConfigK=12 sketch has rsd ~1.6%, so the 5% band is >3
    sigma. Tighter accuracy assertions live in tests/test_sketches.py."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    partials = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("__sk")
    )
    merged = partials.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_day_partials"),
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("__est"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_users")
    )
    return exact.join(F.broadcast(merged), "event_type").select(
        "event_type",
        "n_day_partials",
        "exact_users",
        (
            F.abs(F.col("__est") - F.col("exact_users"))
            <= F.lit(0.05) * F.col("exact_users")
        ).alias("merged_within_tol"),
    )


_PROFILE_COL_SQL = """
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv,
           CAST(MIN({c}) AS VARCHAR) AS min_val,
           CAST(MAX({c}) AS VARCHAR) AS max_val
    FROM src
"""


@query(
    "table_stats_profile",
    """
    WITH src AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice,
               CAST(o_orderdate AS DATE) AS o_orderdate
        FROM orders
    )
    """
    + " UNION ALL ".join(
        _PROFILE_COL_SQL.format(c=c)
        for c in ("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    ),
)
def q_table_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile (operators/profiling.profile_columns):
    row count, nulls, exact NDV, min, max for four orders columns in ONE
    declared aggregate pass (long format, one row per column — the
    catalog-stats shape dbt docs / a CBO consumes). Portability: price
    goes through DECIMAL and the date through DATE before stringified
    min/max so both engines render identical text. The oracle is the
    per-column UNION ALL a SQL engine would write; Spark's single-pass
    plan pays the documented Expand for multi-column exact
    COUNT(DISTINCT) — `exact_ndv=False` swaps in HLL and drops the
    Expand for routine 100 TB profiling."""
    from .operators.profiling import profile_columns

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
        F.to_date("o_orderdate").alias("o_orderdate"),
    )
    return profile_columns(
        o, ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    )


@query(
    "scd2_dim_asof_resolve",
    """
    WITH snap AS (
        SELECT user_id, value AS state_value, ts AS vf,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS vt
        FROM events WHERE event_type = 'signup'
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id, ts,
               value AS purchase_value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id, p.ts, p.purchase_value,
           s.vf AS valid_from, s.state_value
    FROM p LEFT JOIN snap s
      ON p.user_id = s.user_id AND p.ts >= s.vf
     AND (s.vt IS NULL OR p.ts < s.vt)
    """,
)
def q_scd2_dim_asof_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 CONSUMPTION (operators/snapshots.scd2_resolve_asof): every
    purchase fact resolved to the dimension version valid at its event
    time — the join every mart built on a dbt snapshot performs. The
    oracle is the textbook interval join (BETWEEN valid_from AND
    valid_to); the engine executes the union-then-window as-of plan
    instead — ONE shuffle on the key, no inequality join, no hot-key
    blow-up — and must produce the identical row set, including facts
    that predate the key's first version (NULL dimension, left
    semantics) and same-instant version ties (zero-width versions
    lose)."""
    from .operators.snapshots import scd2_resolve_asof

    ev = _t(spark, sf_dir, "events")
    snap = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("value").alias("state_value"),
        F.col("ts").alias("dbt_valid_from"),
        "event_id",
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
    )
    out = scd2_resolve_asof(
        facts, snap, ["user_id"], "ts", ["state_value"], dim_order="event_id"
    )
    return out.select(
        "purchase_id",
        "user_id",
        "ts",
        "purchase_value",
        F.col("dbt_valid_from").alias("valid_from"),
        "state_value",
    )


@query(
    "metric_revenue_monthly",
    """
    WITH fct AS ({fct}),
    m AS (
        SELECT CAST(CAST(date_trunc('month', purchased_at) AS DATE) AS VARCHAR)
                   AS month,
               order_status,
               CAST(total_order_value AS DECIMAL(18,4)) AS v
        FROM fct
    )
    SELECT month, order_status,
           CAST(CAST(SUM(v) AS DECIMAL(38,4)) AS DOUBLE) AS revenue
    FROM m GROUP BY 1, 2
    """.format(fct=_FCT_ORDERS_ORACLE),
)
def q_metric_revenue_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-layer metric query (plans/metrics): the ``revenue``
    metric — declared once as (sum, total_order_value, time_dim
    purchased_at, dims order_status) — compiled by query_metric into
    the month-grain, status-sliced aggregate over the fct_orders model.
    This is the dbt-metrics / MetricFlow surface on top of the
    reference's mart: consumers request (metric, grain, dims) and the
    layer guarantees the aggregate is assembled correctly every time
    (undeclared dims raise — the anti-fan-out contract). One Catalyst
    aggregate, map-side partials; measure math is DECIMAL-exact with a
    DOUBLE presentation cast, so the oracle matches to the bit."""
    from .plans.metrics import Metric, query_metric
    from .queries import QUERIES

    model = QUERIES["fct_orders"](spark, sf_dir)
    revenue = Metric(
        name="revenue",
        agg="sum",
        expr="total_order_value",
        time_dim="purchased_at",
        dims=("order_status", "city"),
        decimal="decimal(18,4)",
        decimal_wide="decimal(38,4)",
    )
    out = query_metric(model, revenue, grain="month", dims=["order_status"])
    # Spark date_trunc yields TIMESTAMP, DuckDB a DATE, and the two
    # stringify differently through pandas — present the grain as the
    # ISO string both engines render identically
    return out.select(
        F.date_format("month", "yyyy-MM-dd").alias("month"),
        "order_status",
        "revenue",
    )


@query(
    "metric_anomaly_daily",
    """
    WITH series AS (
        SELECT day,
               CAST(CASE WHEN date_part('day', day) = 15
                         THEN value_cents * 5 ELSE value_cents END
                    AS BIGINT) AS value_cents
        FROM (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS value_cents
            FROM orders GROUP BY 1
        )
    ),
    wnd AS (
        SELECT day, value_cents,
               COUNT(value_cents) OVER w AS n,
               SUM(CAST(value_cents AS HUGEINT)) OVER w AS s,
               SUM(CAST(value_cents AS HUGEINT)
                   * CAST(value_cents AS HUGEINT)) OVER w AS ss
        FROM series
        WINDOW w AS (ORDER BY day ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, value_cents,
           CAST(n AS BIGINT) AS baseline_n,
           CAST(s AS BIGINT) AS baseline_sum,
           CASE WHEN n < 14 THEN 'no_verdict'
                WHEN (CAST(n AS HUGEINT) * CAST(value_cents AS HUGEINT) - s)
                     * (CAST(n AS HUGEINT) * CAST(value_cents AS HUGEINT) - s)
                     > 9 * (CAST(n AS HUGEINT) * ss - s * s) THEN 'anomaly'
                ELSE 'normal'
           END AS verdict
    FROM wnd
    """,
)
def q_metric_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric anomaly monitor (operators/monitoring.metric_anomalies):
    the daily-revenue series (with a deterministic planted spike — every
    15th of the month x5 — so TRUE verdicts exist to verify) screened
    against a trailing 14-day baseline with a 3-sigma test evaluated in
    EXACT integer arithmetic ((n*x-S)^2 > 9*(n*SS-S^2)) — no float in
    any verdict, so the DuckDB oracle (HUGEINT twin of the DECIMAL(38)
    math) reproduces every boolean bit-for-bit, including the flat-
    baseline sigma=0 edge and the no-verdict NULLs of the first 14
    buckets. This is the dbt-observability layer (elementary/re_data
    shape): the monitor runs over the ALREADY-AGGREGATED metric frame
    (thousands of rows for years of days), so its ordered window is a
    single-task pass by construction — the 100 TB cost lives in the
    metric aggregate, not the monitor."""
    from .operators.monitoring import metric_anomalies

    o = _t(spark, sf_dir, "orders")
    base = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        ).cast("bigint").alias("value_cents")
    )
    series = base.select(
        "day",
        F.when(F.dayofmonth("day") == 15, F.col("value_cents") * 5)
        .otherwise(F.col("value_cents"))
        .cast("bigint")
        .alias("value_cents"),
    )
    out = metric_anomalies(series, "day", "value_cents", baseline=14, k=3)
    # NULL booleans stringify differently through the two engines'
    # pandas paths ('None' vs 'nan') — present the tri-state verdict as
    # a string
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "value_cents",
        "baseline_n",
        F.col("baseline_sum").cast("bigint").alias("baseline_sum"),
        F.when(F.col("is_anomaly").isNull(), "no_verdict")
        .when(F.col("is_anomaly"), "anomaly")
        .otherwise("normal")
        .alias("verdict"),
    )


@query(
    "skew_key_stats",
    """
    WITH keyed AS (
        SELECT CASE WHEN user_id % 3 = 0 THEN -1 ELSE user_id END AS join_key
        FROM events
    ),
    counts AS (
        SELECT join_key, COUNT(*) AS key_rows FROM keyed GROUP BY 1
    ),
    totals AS (
        SELECT CAST(SUM(key_rows) AS BIGINT) AS total_rows,
               CAST(COUNT(*) AS BIGINT) AS distinct_keys
        FROM counts
    ),
    topk AS (
        SELECT * FROM counts ORDER BY key_rows DESC, join_key LIMIT 5
    )
    SELECT t.join_key, CAST(t.key_rows AS BIGINT) AS key_rows,
           total_rows, distinct_keys,
           CAST(t.key_rows * 1000 // total_rows AS BIGINT) AS share_per_mille,
           CAST(CAST(t.key_rows AS HUGEINT) * distinct_keys // total_rows
                AS BIGINT) AS hotness_ratio,
           CAST(GREATEST(CAST(t.key_rows AS HUGEINT) * distinct_keys
                         // total_rows, 1) AS BIGINT) AS recommended_salts
    FROM topk t CROSS JOIN totals
    """,
)
def q_skew_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-planning skew advisor (operators/skew.key_skew_stats):
    a prospective join key with a PLANTED hot value (a third of all
    events fold onto key -1) is measured before any shuffle is paid —
    top-5 hottest keys with exact integer share, hotness-vs-uniform
    ratio, and the salt factor salted_join would need. The advisor is
    one map-side-combined census + TakeOrdered + a broadcast 1-row
    totals join; every number is integer `div` arithmetic (verified
    floor-identical to DuckDB HUGEINT `//`), so the oracle reproduces
    the recommendation exactly. This makes the salting decision that
    AQE takes reactively at runtime plannable AHEAD of the run — the
    pre-flight a 100 TB join deserves."""
    from .operators.skew import key_skew_stats

    keyed = _t(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 3 == 0, F.lit(-1))
        .otherwise(F.col("user_id"))
        .alias("join_key")
    )
    return key_skew_stats(keyed, ["join_key"], top=5)


@query(
    "scd2_hard_delete",
    """
    WITH base AS (SELECT c_custkey, c_mktsegment FROM customer),
    v2 AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 6 = 0 THEN 'MOVED'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer WHERE c_custkey % 4 <> 0
    )
    SELECT c_custkey, c_mktsegment,
           TIMESTAMP '2024-01-01 00:00:00' AS dbt_valid_from,
           CASE WHEN c_custkey % 4 = 0 OR c_custkey % 6 = 0
                THEN TIMESTAMP '2024-02-01 00:00:00' END AS dbt_valid_to
    FROM base
    UNION ALL
    SELECT c_custkey, c_mktsegment,
           TIMESTAMP '2024-02-01 00:00:00', NULL
    FROM v2 WHERE c_custkey % 6 = 0
    """,
)
def q_scd2_hard_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt ``hard_deletes: invalidate`` (operators/snapshots.snapshot_apply;
    dbt 1.9 snapshot config, legacy invalidate_hard_deletes=True): a key
    that VANISHES from the source closes its open SCD-2 row at
    snapshot_time instead of lingering open forever. One batch drops the
    c_custkey % 4 == 0 keys and rewrites the % 6 == 0 segments, so the
    oracle history must show: vanished keys closed, changed keys closed +
    reopened, everything else still open. Deletion detection rides the
    SAME single full-outer key join the change strategies use — no extra
    shuffle at any scale."""
    from .operators.snapshots import snapshot_apply, snapshot_init

    t0, t1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"
    base = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    snap = snapshot_init(base, ["c_custkey"], F.lit(t0))
    v2 = base.filter(F.col("c_custkey") % 4 != 0).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 6 == 0, F.lit("MOVED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    out = snapshot_apply(
        snap,
        v2,
        ["c_custkey"],
        strategy="check",
        check_cols=["c_mktsegment"],
        snapshot_time=t1,
        hard_deletes="invalidate",
    )
    return out.select(
        "c_custkey", "c_mktsegment", "dbt_valid_from", "dbt_valid_to"
    )


@query(
    "funnel_conversion",
    """
    WITH st AS (
        SELECT user_id, event_type, ts, event_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) OVER w AS fs
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    st2 AS (
        SELECT user_id, event_type, ts, fs,
               MIN(CASE WHEN event_type = 'click' AND fs IS NOT NULL
                        THEN ts END) OVER w AS fqc
        FROM st
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s1,
               MIN(CASE WHEN event_type = 'click' AND fs IS NOT NULL
                        THEN ts END) AS s2,
               MIN(CASE WHEN event_type = 'purchase' AND fqc IS NOT NULL
                        THEN ts END) AS s3
        FROM st2 GROUP BY 1
    )
    SELECT 'signup' AS stage, 1 AS stage_idx,
           COUNT(s1) AS n_users, CAST(0 AS BIGINT) AS sum_lag_ms
    FROM per_user
    UNION ALL
    SELECT 'click_after_signup', 2, COUNT(s2),
           CAST(COALESCE(SUM(epoch_ms(s2) - epoch_ms(s1)), 0) AS BIGINT)
    FROM per_user WHERE s2 IS NOT NULL
    UNION ALL
    SELECT 'purchase_after_click', 3, COUNT(s3),
           CAST(COALESCE(SUM(epoch_ms(s3) - epoch_ms(s2)), 0) AS BIGINT)
    FROM per_user WHERE s3 IS NOT NULL
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (Snowflake MATCH_RECOGNIZE territory,
    re-expressed as running-window sequence detection): signup -> first
    click AT OR AFTER the first signup -> first purchase at or after
    that click, per user, with stage populations and exact integer
    millisecond lags. ONE shuffle: both running MINs and the final
    per-user aggregate share the (user_id) partitioning, so Catalyst
    plans a single exchange + sort; ties at identical timestamps break
    by event_id on both engines. The window form (not a self-join per
    stage) is what survives 100 TB of events — each user's sequence
    streams through one sorted pass."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    is_ = lambda t: F.col("event_type") == t  # noqa: E731
    st = ev.withColumn("fs", F.min(F.when(is_("signup"), F.col("ts"))).over(w))
    st2 = st.withColumn(
        "fqc",
        F.min(
            F.when(is_("click") & F.col("fs").isNotNull(), F.col("ts"))
        ).over(w),
    )
    per_user = st2.groupBy("user_id").agg(
        F.min(F.when(is_("signup"), F.col("ts"))).alias("s1"),
        F.min(
            F.when(is_("click") & F.col("fs").isNotNull(), F.col("ts"))
        ).alias("s2"),
        F.min(
            F.when(is_("purchase") & F.col("fqc").isNotNull(), F.col("ts"))
        ).alias("s3"),
    )
    # events.ts is TIMESTAMP_NTZ; the session TZ is pinned UTC, so the
    # cast to TIMESTAMP is wall-clock-identity and epoch math matches
    # DuckDB's epoch_ms exactly
    ms = lambda c: F.unix_millis(F.col(c).cast("timestamp"))  # noqa: E731
    lag = lambda a, b: ms(b) - ms(a)  # noqa: E731
    stages = [
        per_user.agg(
            F.lit("signup").alias("stage"),
            F.lit(1).alias("stage_idx"),
            F.count("s1").alias("n_users"),
            F.lit(0).cast("long").alias("sum_lag_ms"),
        ),
        per_user.filter(F.col("s2").isNotNull()).agg(
            F.lit("click_after_signup").alias("stage"),
            F.lit(2).alias("stage_idx"),
            F.count("s2").alias("n_users"),
            F.coalesce(F.sum(lag("s1", "s2")), F.lit(0)).cast("long").alias("sum_lag_ms"),
        ),
        per_user.filter(F.col("s3").isNotNull()).agg(
            F.lit("purchase_after_click").alias("stage"),
            F.lit(3).alias("stage_idx"),
            F.count("s3").alias("n_users"),
            F.coalesce(F.sum(lag("s2", "s3")), F.lit(0)).cast("long").alias("sum_lag_ms"),
        ),
    ]
    out = stages[0]
    for s in stages[1:]:
        out = out.unionByName(s)
    return out


_SIZE_T = """
    SELECT '{name}' AS table_name, COUNT(*) AS n_rows,
           CAST({fixed} {var} AS BIGINT) AS est_row_bytes,
           CAST(COUNT(*) * ({fixed} {var}) AS BIGINT) AS est_total_bytes
    FROM {name}
"""


def _size_sql(name: str, fixed: int, strcols: list[str]) -> str:
    var = "".join(
        f" + floor(CAST(COALESCE(SUM(strlen({c})), 0) AS DOUBLE)"
        f" / GREATEST(COUNT(*), 1))"
        for c in strcols
    )
    return _SIZE_T.format(name=name, fixed=fixed, var=var)


_ADVISOR_ORACLE = (
    "WITH est AS ("
    + " UNION ALL ".join(
        [
            _size_sql("region", 4, ["r_name"]),
            _size_sql("nation", 8, ["n_name"]),
            _size_sql("supplier", 20, ["s_name"]),
            _size_sql("part", 20, ["p_name", "p_brand", "p_type"]),
            _size_sql("customer", 20, ["c_name", "c_mktsegment"]),
            _size_sql("orders", 32, ["o_orderstatus", "o_orderpriority"]),
            _size_sql("lineitem", 68, ["l_returnflag", "l_linestatus"]),
        ]
    )
    + """)
    SELECT table_name, n_rows, est_row_bytes, est_total_bytes,
           CASE WHEN est_total_bytes <= 1048576 THEN 'broadcast'
                ELSE 'shuffle' END AS strategy
    FROM est
    """
)


@query("join_strategy_advisor", _ADVISOR_ORACLE)
def q_join_strategy_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join-strategy advisor (operators/skew.table_size_advice,
    the sibling of skew_key_stats for the broadcast-vs-shuffle
    decision): every TPC-H table's row count and byte width estimated
    from one combinable aggregate each — fixed widths per scalar type,
    strings at exact floor(sum_bytes/n) mean — and classified against a
    1 MiB broadcast cutoff (the autoBroadcastJoinThreshold knob, scaled
    to the testbed SF so the verdict actually splits: dims broadcast,
    facts shuffle). Integer-exact everywhere, so the oracle reproduces
    the recommendation bit-for-bit; in production the same code runs on
    a sample or parquet footer stats."""
    from .operators.skew import table_size_advice

    tables = {
        name: _t(spark, sf_dir, name)
        for name in (
            "region", "nation", "supplier", "part",
            "customer", "orders", "lineitem",
        )
    }
    return table_size_advice(tables, broadcast_threshold_bytes=1048576)


_HIST_ORACLE = """
WITH v AS (
    SELECT CAST(ROUND(CAST(o_totalprice AS DECIMAL(38,2)) * 100, 0)
               AS BIGINT) AS v_i,
           CAST(o_totalprice AS DECIMAL(38,2)) AS v_d
    FROM orders WHERE o_totalprice IS NOT NULL
),
b AS (
    SELECT CASE WHEN v_i < 0 THEN 0
                WHEN v_i >= 50000000 THEN 26
                ELSE (v_i * 25) // 50000000 + 1 END AS bucket, v_d
    FROM v
),
agg AS (
    SELECT bucket, COUNT(*) AS n_rows,
           CAST(MIN(v_d) AS VARCHAR) AS min_val,
           CAST(MAX(v_d) AS VARCHAR) AS max_val
    FROM b GROUP BY bucket
)
SELECT CAST(s.bucket AS INT) AS bucket,
       COALESCE(n_rows, 0) AS n_rows, min_val, max_val
FROM (SELECT UNNEST(generate_series(0, 26)) AS bucket) s
LEFT JOIN agg ON agg.bucket = s.bucket
"""


@query("histogram_width_bucket", _HIST_ORACLE)
def q_histogram_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram with WIDTH_BUCKET semantics
    (operators/profiling.equi_width_histogram): 25 buckets over
    o_totalprice ∈ [0, 500000) plus under/overflow buckets 0 and 26,
    EMPTY BUCKETS INCLUDED (silently-missing bars misread as a
    different distribution). Bucket math is one integer
    cross-multiplication over exact cents — no double can move a value
    across an edge, so the DuckDB twin is bit-identical. One
    map-side-combinable aggregate (≤27 rows through the exchange) +
    a broadcast spine join; at 100 TB this is a scan and nothing else."""
    from .operators.profiling import equi_width_histogram

    o = _t(spark, sf_dir, "orders")
    return equi_width_histogram(
        o, "o_totalprice", lo=0, hi=500_000, n_buckets=25, scale=2
    )


_MAD_ORACLE = """
WITH med AS (
    SELECT event_type,
           quantile_cont(CAST(value AS DOUBLE), 0.5) AS med
    FROM events GROUP BY event_type
),
wm AS (
    SELECT e.event_id, e.event_type, e.value, m.med
    FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
    SELECT event_type,
           quantile_cont(abs(CAST(value AS DOUBLE) - med), 0.5) AS mad
    FROM wm GROUP BY event_type
)
SELECT wm.event_id, wm.event_type, wm.value,
       ROUND(wm.med, 9) AS med, ROUND(d.mad, 9) AS mad,
       abs(CAST(wm.value AS DOUBLE) - wm.med) > 3.0 * 1.4826 * d.mad
           AS is_outlier
FROM wm JOIN mad d ON wm.event_type = d.event_type
"""


@query("mad_outlier_flags", _MAD_ORACLE)
def q_mad_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection (operators/monitoring.
    mad_outliers): flag event values beyond 3·1.4826·MAD of their
    event-type median — the 50%-breakdown-point alternative to k-sigma
    for heavy-tailed metrics (one wild value inflates σ enough to hide
    itself; it barely moves the MAD). Exact interpolating medians are
    the single non-integer step, identical expression on both engines;
    the two tiny grouped aggregates broadcast back onto the stream so
    the row-level pass never shuffles."""
    from .operators.monitoring import mad_outliers

    ev = _t(spark, sf_dir, "events")
    out = mad_outliers(ev, group_col="event_type", value_col="value", k=3.0)
    return out.select(
        "event_id",
        "event_type",
        "value",
        F.round("med", 9).alias("med"),
        F.round("mad", 9).alias("mad"),
        "is_outlier",
    )


_SETALL_ORACLE = """
WITH big AS (SELECT o_custkey AS customer_id FROM orders
             WHERE o_totalprice > 200000),
     rich AS (SELECT o_custkey AS customer_id FROM orders
              WHERE o_totalprice > 300000)
SELECT customer_id, 'intersect_all' AS bucket
  FROM (SELECT * FROM big INTERSECT ALL SELECT * FROM rich)
UNION ALL
SELECT customer_id, 'except_all' AS bucket
  FROM (SELECT * FROM big EXCEPT ALL SELECT * FROM rich)
"""


@query("set_ops_all", _SETALL_ORACLE)
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — the MULTISET set operations
    (SQL:2003 / Snowflake parity; `set_ops` covers the DISTINCT
    variants). A repeat-buyer key occurring 3× in `big` and 1× in
    `rich` must survive exactly min(3,1)=1 time through INTERSECT ALL
    and 3−1=2 times through EXCEPT ALL — bag arithmetic the DISTINCT
    forms erase; Spark plans both as aggregate-counted joins, no
    row-explosion tricks."""
    o = _t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 200000).select(
        F.col("o_custkey").alias("customer_id")
    )
    rich = o.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("customer_id")
    )
    inter = big.intersectAll(rich).withColumn(
        "bucket", F.lit("intersect_all")
    )
    exc = big.exceptAll(rich).withColumn("bucket", F.lit("except_all"))
    return inter.unionByName(exc)


_POP_ORACLE = """
WITH monthly AS (
    SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
    FROM orders GROUP BY 1, 2
)
SELECT y, m, CAST(revenue AS DOUBLE) AS revenue,
       CAST(lag(revenue) OVER (ORDER BY y, m) AS VARCHAR) AS prev_month,
       CAST(lag(revenue, 12) OVER (ORDER BY y, m) AS VARCHAR) AS year_ago,
       ROUND(CAST(revenue - lag(revenue) OVER (ORDER BY y, m) AS DOUBLE)
             / CAST(lag(revenue) OVER (ORDER BY y, m) AS DOUBLE) * 100,
             6) AS mom_pct,
       ROUND(CAST(revenue - lag(revenue, 12) OVER (ORDER BY y, m) AS DOUBLE)
             / CAST(lag(revenue, 12) OVER (ORDER BY y, m) AS DOUBLE) * 100,
             6) AS yoy_pct
FROM monthly
"""


@query("metric_period_over_period", _POP_ORACLE)
def q_metric_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period metric deltas — the MoM/YoY growth columns
    every revenue dashboard carries: monthly DECIMAL-exact revenue,
    previous-month and 12-months-ago values via lag, and percentage
    changes as ONE rounded double step from exact decimals. The
    monthly series is tiny (one row per month through the exchange);
    the unpartitioned lag window sorts ≤ horizon-months rows — never
    the fact table."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue")
    )
    w = W.orderBy("y", "m")
    prev = F.lag("revenue").over(w)
    yago = F.lag("revenue", 12).over(w)
    return monthly.select(
        "y",
        "m",
        F.col("revenue").cast("double").alias("revenue"),
        prev.cast("string").alias("prev_month"),
        yago.cast("string").alias("year_ago"),
        F.round(
            (F.col("revenue") - prev).cast("double")
            / prev.cast("double")
            * 100,
            6,
        ).alias("mom_pct"),
        F.round(
            (F.col("revenue") - yago).cast("double")
            / yago.cast("double")
            * 100,
            6,
        ).alias("yoy_pct"),
    )


_BITMAP_ORACLE = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS ndv,
       COUNT(DISTINCT user_id || '|' || CAST(ts AS DATE)) AS user_days
FROM events GROUP BY event_type
"""


@query("bitmap_ndv_rollup", _BITMAP_ORACLE)
def q_bitmap_ndv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mergeable distinct counts via 64-bit bitmap words
    (operators/sketches.bitmap_ndv_partials/_rollup — the Snowflake
    BITMAP_CONSTRUCT_AGG shape): per-(event_type, day) bitmap partials
    are stored ONCE, then rolled up to event_type grain by bit_or
    union — exact NDV with no rescan of raw rows, where HLL partials
    (sketch_rollup_merge) trade precision for unbounded domains. The
    oracle IS COUNT(DISTINCT) at the rollup grain, so the hash-match
    proves bitmap union == true set union; user_days cross-checks that
    the fine-grain partials summed WITHOUT the union would overcount
    (distinct user-day pairs > distinct users)."""
    from .operators.sketches import bitmap_ndv_partials, bitmap_ndv_rollup

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    )
    # not persisted: in production the partials are a MATERIALIZED
    # table (store once, roll up forever); here the double read of a
    # tiny aggregate is cheaper than a cache entry outliving the query
    partials = bitmap_ndv_partials(ev, ["event_type", "day"], "user_id")
    rolled = bitmap_ndv_rollup(partials, ["event_type"])
    # per-day word bitcounts sum to distinct (user, day) pairs — the
    # partials are themselves exact at their own grain
    user_days = (
        partials.select(
            "event_type", F.expr("bit_count(bitmap)").alias("bc")
        )
        .groupBy("event_type")
        .agg(F.sum("bc").cast("bigint").alias("user_days"))
    )
    out = rolled.join(user_days, "event_type")
    return out.select("event_type", "ndv", "user_days")


_PIVOT_DYN_ORACLE = """
PIVOT (SELECT year(o_orderdate) AS order_year, o_orderstatus
       FROM orders)
ON o_orderstatus USING COUNT(*) GROUP BY order_year
"""


@query("pivot_dynamic", _PIVOT_DYN_ORACLE)
def q_pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC pivot — the `PIVOT ... ON col` / Snowflake `PIVOT (...
    FOR x IN (ANY))` shape where the output columns come from the DATA
    (`pivot_status_by_year` covers the fixed-list form). Spark infers
    the value set with one distinct pass then plans the same one-pass
    conditional aggregation; column names are the bare values on both
    engines. Missing combinations are zero-filled (`na.fill`) because
    engines disagree on the hole value (Spark NULL, DuckDB 0). Fixed
    lists stay preferable at 100 TB — the inference pass is an extra
    scan — which is exactly the trade this row documents."""
    o = _t(spark, sf_dir, "orders")
    wide = (
        o.groupBy(F.year("o_orderdate").alias("order_year"))
        .pivot("o_orderstatus")
        .agg(F.count(F.lit(1)))
    )
    return wide.na.fill(0)


_HIST_DEPTH_ORACLE = """
SELECT bucket, COUNT(*) AS n_rows,
       CAST(MIN(CAST(o_totalprice AS DECIMAL(38,2))) AS VARCHAR) AS min_val,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(38,2))) AS VARCHAR) AS max_val
FROM (SELECT o_totalprice,
             ntile(20) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders WHERE o_totalprice IS NOT NULL)
GROUP BY bucket
"""


@query("histogram_equi_depth", _HIST_DEPTH_ORACLE)
def q_histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (operators/profiling.equi_depth_histogram):
    20 near-equal-count buckets over o_totalprice with exact DECIMAL
    bounds — the selectivity shape optimizers keep for skewed columns,
    where equal-width bars collapse into one hot bucket (its equi-width
    sibling is histogram_width_bucket). o_orderkey tie-breaks the tile
    order so bucket membership at repeated values is deterministic on
    both engines. ntile's global sort is the stated cost; the 100-TB
    path (approx edges + map-side bucketing) is documented in the
    operator."""
    from .operators.profiling import equi_depth_histogram

    o = _t(spark, sf_dir, "orders")
    return equi_depth_histogram(
        o, "o_totalprice", n_buckets=20, order_tiebreak="o_orderkey"
    )


_ABTEST_ORACLE = """
WITH units AS (
    SELECT user_id % 2 AS variant,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
               AS converted
    FROM events GROUP BY user_id
),
agg AS (
    SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
           CAST(SUM(CASE WHEN variant = 0 AND converted THEN 1 ELSE 0 END)
               AS BIGINT) AS conv_a,
           CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
           CAST(SUM(CASE WHEN variant = 1 AND converted THEN 1 ELSE 0 END)
               AS BIGINT) AS conv_b
    FROM units
)
SELECT n_a, conv_a, n_b, conv_b,
       CASE WHEN n_a > 0 THEN conv_a * 1000000 // n_a END AS cr_a_ppm,
       CASE WHEN n_b > 0 THEN conv_b * 1000000 // n_b END AS cr_b_ppm,
       CASE WHEN n_a > 0 AND n_b > 0
             AND sqrt((CAST(conv_a + conv_b AS DOUBLE)
                       / CAST(n_a + n_b AS DOUBLE))
                 * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                       / CAST(n_a + n_b AS DOUBLE))
                 * (1.0 / CAST(n_a AS DOUBLE)
                    + 1.0 / CAST(n_b AS DOUBLE))) > 0
            THEN ROUND((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                      - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 / sqrt((CAST(conv_a + conv_b AS DOUBLE)
                         / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                         / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 / CAST(n_a AS DOUBLE)
                      + 1.0 / CAST(n_b AS DOUBLE))), 9)
       END AS z_stat,
       COALESCE(abs(CASE WHEN n_a > 0 AND n_b > 0
             AND sqrt((CAST(conv_a + conv_b AS DOUBLE)
                       / CAST(n_a + n_b AS DOUBLE))
                 * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                       / CAST(n_a + n_b AS DOUBLE))
                 * (1.0 / CAST(n_a AS DOUBLE)
                    + 1.0 / CAST(n_b AS DOUBLE))) > 0
            THEN ROUND((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                      - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 / sqrt((CAST(conv_a + conv_b AS DOUBLE)
                         / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                         / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 / CAST(n_a AS DOUBLE)
                      + 1.0 / CAST(n_b AS DOUBLE))), 9)
       END) > 1.96, FALSE) AS significant
FROM agg
"""


@query("ab_test_ztest", _ABTEST_ORACLE)
def q_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B z-test (operators/monitoring.ab_test_ztest):
    users split into variants by key parity, converted = at least 14
    purchase events (a threshold that actually splits the synthetic
    population); exact exposure/conversion counts, ppm rates, pooled z
    and the 5%-level verdict — ONE conditional aggregate, a single row
    through the exchange at any experiment size. The per-user
    conversion rollup is the only data-sized pass."""
    from .operators.monitoring import ab_test_ztest

    units = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (
                F.sum(
                    (F.col("event_type") == "purchase").cast("int")
                )
                >= 14
            ).alias("converted")
        )
        .select(
            (F.col("user_id") % 2).alias("variant"), "converted"
        )
    )
    return ab_test_ztest(units, "variant", "converted", 0, 1)


_CHECKSUM_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST('0x' || substr(md5(
                COALESCE(md5(CAST(o_orderkey AS VARCHAR)), '-') || '|' ||
                COALESCE(md5(CAST(o_custkey AS VARCHAR)), '-') || '|' ||
                COALESCE(md5(o_orderstatus), '-')), 1, 15) AS BIGINT))
            AS VARCHAR) AS checksum
FROM orders
"""


@query("table_checksum_reconcile", _CHECKSUM_ORACLE)
def q_table_checksum_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table checksum (operators/profiling.
    table_checksum): ONE commutative DECIMAL sum of portable 60-bit
    row hashes — the cross-environment reconciliation screen (compare
    two warehouses with one number each; the row-level tool is
    full_outer_reconcile). The DuckDB twin computing the identical
    number from the same parquet IS the cross-engine reconciliation
    this operator exists for. Single row through the exchange at any
    table size."""
    from .operators.profiling import table_checksum

    o = _t(spark, sf_dir, "orders")
    return table_checksum(o, ["o_orderkey", "o_custkey", "o_orderstatus"])


_ARRAY_BREADTH_ORACLE = """
WITH arrs AS (
    SELECT l_orderkey AS order_id,
           list_sort(list(CAST(l_quantity AS INT))) AS q
    FROM lineitem GROUP BY l_orderkey
)
SELECT order_id,
       array_to_string(q, ',') AS all_qty,
       array_to_string(list_sort(list_distinct(q)), ',') AS distinct_qty,
       array_to_string(q[1:3], ',') AS first3,
       CAST(COALESCE(list_position(q, 25), 0) AS BIGINT) AS pos_25,
       list_contains(q, 50) AS has_50,
       CAST(len(list_distinct(q)) AS INT) AS n_unique
FROM arrs
"""


@query("array_functions_breadth", _ARRAY_BREADTH_ORACLE)
def q_array_functions_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface parity (Snowflake ARRAY_* family): sort,
    distinct, slice, position, contains, cardinality over per-order
    quantity arrays (collect_list is order-nondeterministic, so the
    array is sorted FIRST — the discipline any deterministic
    array-column pipeline needs). Arrays render to joined strings
    because the driver compares scalars; list_position/array_position
    are both 1-based, 0/NULL-on-missing normalized via coalesce."""
    li = _t(spark, sf_dir, "lineitem")
    arrs = li.groupBy(F.col("l_orderkey").alias("order_id")).agg(
        F.array_sort(
            F.collect_list(F.col("l_quantity").cast("int"))
        ).alias("q")
    )
    return arrs.select(
        "order_id",
        F.array_join("q", ",").alias("all_qty"),
        F.array_join(F.array_distinct("q"), ",").alias("distinct_qty"),
        F.array_join(F.slice("q", 1, 3), ",").alias("first3"),
        F.expr("CAST(array_position(q, 25) AS BIGINT)").alias("pos_25"),
        F.array_contains("q", F.lit(50)).alias("has_50"),
        F.size(F.array_distinct("q")).alias("n_unique"),
    )


_RUNNING_DISTINCT_ORACLE = """
SELECT event_id, user_id,
       CAST(bit_count(bit_or(1 << CASE event_type
                WHEN 'click' THEN 0 WHEN 'view' THEN 1
                WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
                ELSE 4 END) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS INT)
           AS n_types_seen
FROM events
"""


@query("window_running_distinct", _RUNNING_DISTINCT_ORACLE)
def q_window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNNING COUNT(DISTINCT) over a window — the operation SQL
    windows famously cannot express directly (DISTINCT aggregates are
    not allowed over frames) — via the bounded-domain bitmap trick:
    each state maps to one bit, the running bit_or accumulates the set
    seen so far, bit_count reads its size. Integer-exact, one window
    sort per user, O(1) state per row; the domain bound (≤ 64 states
    per word) is the stated contract, the same one bitmap_ndv_rollup
    documents. The \"how many distinct behaviors has this user shown
    yet\" progression is the activation-funnel readout."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__rd_events")
    return spark.sql(
        """
        SELECT event_id, user_id,
               CAST(bit_count(bit_or(shiftleft(CAST(1 AS BIGINT),
                        CASE event_type
                            WHEN 'click' THEN 0 WHEN 'view' THEN 1
                            WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
                            ELSE 4 END)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                    AS INT) AS n_types_seen
        FROM __rd_events
        """
    )


_WINSOR_ORACLE = """
WITH bounds AS (
    SELECT event_type,
           quantile_cont(CAST(value AS DOUBLE), 0.05) AS lo_bound,
           quantile_cont(CAST(value AS DOUBLE), 0.95) AS hi_bound
    FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       ROUND(b.lo_bound, 9) AS lo_bound,
       ROUND(b.hi_bound, 9) AS hi_bound,
       ROUND(CASE WHEN e.value IS NULL THEN NULL
                  ELSE LEAST(GREATEST(CAST(e.value AS DOUBLE), b.lo_bound),
                             b.hi_bound) END, 9) AS clipped
FROM events e JOIN bounds b ON e.event_type = b.event_type
"""


@query("winsorize_values", _WINSOR_ORACLE)
def q_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (operators/monitoring.winsorize): clip event
    values to their event-type [5th, 95th] exact percentile band — the
    tail-taming transform where outlier DELETION would bias
    (mad_outliers flags, this clips). Grouped percentile bounds
    broadcast back; the row-level pass never shuffles."""
    from .operators.monitoring import winsorize

    ev = _t(spark, sf_dir, "events")
    out = winsorize(
        ev, group_col="event_type", value_col="value",
        lo_pct=0.05, hi_pct=0.95,
    )
    return out.select(
        "event_id",
        "event_type",
        "value",
        F.round("lo_bound", 9).alias("lo_bound"),
        F.round("hi_bound", 9).alias("hi_bound"),
        F.round("clipped", 9).alias("clipped"),
    )


_CUSUM_ORACLE = """
WITH daily AS (
    SELECT event_type AS key, CAST(ts AS DATE) AS t, COUNT(*) AS x
    FROM events GROUP BY event_type, CAST(ts AS DATE)
),
marked AS (
    SELECT key, t,
           SUM(x) OVER (PARTITION BY key ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           ROW_NUMBER() OVER (PARTITION BY key ORDER BY t) AS rn,
           SUM(x) OVER (PARTITION BY key) AS total,
           COUNT(*) OVER (PARTITION BY key) AS n
    FROM daily
),
stat AS (
    SELECT key, t, n, abs(n * cum - rn * total) AS s FROM marked
),
withmax AS (
    SELECT key, t, n, s, MAX(s) OVER (PARTITION BY key) AS ms FROM stat
)
SELECT key,
       strftime(MIN(CASE WHEN s = ms THEN t END), '%Y-%m-%d') AS t_star,
       CAST(MAX(s) AS BIGINT) AS cusum_max_scaled,
       CAST(MIN(n) AS BIGINT) AS n
FROM withmax GROUP BY key
"""


@query("metric_cusum_changepoint", _CUSUM_ORACLE)
def q_metric_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint estimate (operators/monitoring.
    cusum_changepoint): where did each event type's daily volume shift
    level? argmax_t |CUSUM_t| evaluated as |n·cum − t·total| — the
    mean multiplied through so the statistic stays in INTEGERS and no
    engine can disagree at the ulp; earliest-t tiebreak pinned. The
    level-shift sibling of metric_anomalies (point anomalies) and the
    decision input for retraining-window selection."""
    from .operators.monitoring import cusum_changepoint

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type"), F.to_date("ts").alias("day")
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    out = cusum_changepoint(
        daily, key_col="event_type", order_col="day", value_col="x"
    )
    return out.select(
        F.col("key"),
        F.date_format("t_star", "yyyy-MM-dd").alias("t_star"),
        "cusum_max_scaled",
        "n",
    )


_KMV_ORACLE = """
WITH h AS (
    SELECT DISTINCT event_type,
           CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                AS BIGINT) AS hv
    FROM events
),
r AS (
    SELECT event_type, hv,
           row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
    FROM h
),
sk AS (
    SELECT event_type, list_sort(list(hv)) AS kmv
    FROM r WHERE rn <= 64 GROUP BY event_type
),
p AS (
    SELECT a.event_type AS key_a, b.event_type AS key_b,
           a.kmv AS ka, b.kmv AS kb,
           list_sort(list_distinct(list_concat(a.kmv, b.kmv)))[1:64] AS mg,
           list_intersect(a.kmv, b.kmv) AS bh
    FROM sk a JOIN sk b ON a.event_type < b.event_type
)
SELECT key_a, key_b,
       CASE WHEN len(mg) < 64 THEN CAST(len(mg) AS DOUBLE)
            ELSE ROUND(CAST(63 AS DOUBLE) * 1152921504606846976.0
                       / CAST(mg[64] AS DOUBLE), 3) END AS union_est,
       CASE WHEN len(mg) < 64 THEN CAST(len(bh) AS DOUBLE)
            ELSE ROUND(CAST(len(list_intersect(mg, bh)) AS DOUBLE)
                       * (CAST(63 AS DOUBLE) * 1152921504606846976.0
                          / CAST(mg[64] AS DOUBLE)) / 64.0, 3) END
           AS inter_est
FROM p
"""


# varied-set KMV input (unlike the user_id sketch, where every event
# type sees the SAME 150-user set and every pairwise estimate
# degenerates to the identical value): the (user_id, event_id % 7)
# combo sets overlap partially and differently per type pair, so the
# difference / Jaccard estimates — and the unrounded-union scaling the
# round-11 advisory flagged — are exercised on genuinely distinct
# values, not on a constant that cancels rounding.
_KMV_DJ_ORACLE = """
WITH h AS (
    SELECT DISTINCT event_type,
           CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':'
                               || CAST(event_id % 7 AS VARCHAR)), 1, 15)
                AS BIGINT) AS hv
    FROM events
),
r AS (
    SELECT event_type, hv,
           row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
    FROM h
),
sk AS (
    SELECT event_type, list_sort(list(hv)) AS kmv
    FROM r WHERE rn <= 64 GROUP BY event_type
),
p AS (
    SELECT a.event_type AS key_a, b.event_type AS key_b,
           a.kmv AS ka, b.kmv AS kb,
           list_sort(list_distinct(list_concat(a.kmv, b.kmv)))[1:64] AS mg,
           list_intersect(a.kmv, b.kmv) AS bh
    FROM sk a JOIN sk b ON a.event_type < b.event_type
),
-- arrays are duplicate-free hash sets, so |mg ∩ (A∖B)| =
-- |mg ∩ A| − |mg ∩ A ∩ B| (and exact counts below k likewise)
c AS (
    SELECT key_a, key_b, mg, bh, ka, kb,
           len(list_intersect(mg, ka)) - len(list_intersect(mg, bh)) AS dab,
           len(list_intersect(mg, kb)) - len(list_intersect(mg, bh)) AS dba,
           len(list_intersect(mg, bh)) AS imh,
           CAST(63 AS DOUBLE) * 1152921504606846976.0
               / CAST(mg[64] AS DOUBLE) AS ur
    FROM p
)
SELECT key_a, key_b,
       CASE WHEN len(mg) < 64 THEN CAST(len(ka) - len(bh) AS DOUBLE)
            ELSE ROUND(CAST(dab AS DOUBLE) * ur / 64.0, 3) END AS diff_ab_est,
       CASE WHEN len(mg) < 64 THEN CAST(len(kb) - len(bh) AS DOUBLE)
            ELSE ROUND(CAST(dba AS DOUBLE) * ur / 64.0, 3) END AS diff_ba_est,
       CASE WHEN len(mg) < 64
            THEN ROUND(CAST(len(bh) AS DOUBLE) / CAST(len(mg) AS DOUBLE), 6)
            ELSE ROUND(CAST(imh AS DOUBLE) / 64.0, 6) END AS jaccard_est
FROM c
"""


@query("sketch_kmv_diff_jaccard", _KMV_DJ_ORACLE)
def q_sketch_kmv_diff_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta-sketch difference + Jaccard estimates
    (operators/sketches.kmv_diff_jaccard — round 12, completing the set
    algebra): per event-type pair over the (user, event_id%7) combo
    sets, estimated |A∖B|, |B∖A| and J(A,B) from the merged sketch.
    The merged sample partitions into inter/diff_ab/diff_ba, all
    scaled by the UNROUNDED union estimate (the round-11 advisory
    fix); Jaccard needs no scaling at all — the union factor cancels
    to |merged∩A∩B|/k. Deterministic md5 hashes end-to-end, so the
    oracle replays sketches AND estimates bit-for-bit."""
    from .operators.sketches import kmv_diff_jaccard, kmv_sketch

    ev = _t(spark, sf_dir, "events").withColumn(
        "__combo",
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            (F.col("event_id") % 7).cast("string"),
        ),
    )
    sk = kmv_sketch(ev, ["event_type"], "__combo", k=64)
    return kmv_diff_jaccard(sk, "event_type", k=64)


@query("sketch_kmv_set_ops", _KMV_ORACLE)
def q_sketch_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta-sketch SET ALGEBRA (operators/sketches.kmv_sketch +
    kmv_set_ops — round 11): per event type, the 64 smallest portable
    md5 hashes of the distinct user set; per type pair, the estimated
    |A∪B| and |A∩B| from the merged sketch — the mergeable-sketch
    operation HLL cannot do (intersections). Audience-overlap audits
    at 100 TB pay one ≤64-long array per key through the exchange
    instead of the distinct user sets. Deterministic end-to-end (md5
    hashes, IEEE-exact estimator arithmetic), so the oracle replays
    the sketches AND the estimates bit-for-bit."""
    from .operators.sketches import kmv_set_ops, kmv_sketch

    ev = _t(spark, sf_dir, "events")
    sk = kmv_sketch(ev, ["event_type"], "user_id", k=64)
    return kmv_set_ops(sk, "event_type", k=64)
