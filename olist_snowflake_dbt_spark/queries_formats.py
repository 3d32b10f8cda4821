"""Driver queries for interchange formats and sinks (sources/formats.py).

Each round-trip query WRITES a testdata table to the format under test,
READS it back schema-explicitly, and aggregates the re-read frame; the
DuckDB oracle computes the identical aggregate directly on the source
parquet. A hash match therefore proves the write+read cycle is lossless
for every column type it touches (longs, doubles, strings, timestamps)
— doubles survive because Spark serializes them shortest-round-trip,
and timestamps are pinned to explicit-offset formats.

The reference's only format surface is CSV seed ingest
(`$REF/seeds/*.csv` via dbt's agate loader — sources/seeds.py is that
twin); JSONL/ORC/partitioned sinks are engine extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import query, _t
from .sources import formats as FMT


@query(
    "fmt_jsonl_roundtrip",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           MIN(md5(text)) AS min_md5,
           COUNT(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def q_fmt_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → JSONL → schema'd FAILFAST read → per-lang aggregate.
    min(md5(text)) pins exact string round-trip (same lowercase-hex md5
    on both engines); the oracle never sees the JSONL."""
    src = _t(spark, sf_dir, "documents")
    path = FMT.scratch_dir("fmt_jsonl", "documents")
    FMT.write_jsonl(src, path)
    back = FMT.read_jsonl(spark, path, src.schema)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min(F.md5(F.col("text").cast("binary"))).alias("min_md5"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "fmt_orc_roundtrip",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS DOUBLE) AS sum_price,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS DOUBLE) AS sum_qty,
           MIN(l_shipdate) AS min_ship,
           MAX(l_shipdate) AS max_ship
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def q_fmt_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → ORC → read → pricing-summary-style aggregate. ORC keeps
    columnar stats, so the re-read still prunes to the 5 columns the
    aggregate needs (ReadSchema in the plan)."""
    src = _t(spark, sf_dir, "lineitem")
    path = FMT.scratch_dir("fmt_orc", "lineitem")
    FMT.write_orc(src, path)
    back = FMT.read_orc(spark, path)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("sum_price"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("sum_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


@query(
    "fmt_csv_roundtrip",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS DOUBLE) AS sum_total,
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order
    FROM orders GROUP BY o_orderstatus, o_orderpriority
    """,
)
def q_fmt_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → quoted CSV → typed FAILFAST read (explicit schema; the
    inferred path is the seed ingester) → per-status aggregate covering
    longs, doubles, strings, and timestamps through text serialization."""
    src = _t(spark, sf_dir, "orders")
    path = FMT.scratch_dir("fmt_csv", "orders")
    FMT.write_csv(src, path)
    back = FMT.read_csv_typed(spark, path, src.schema)
    return back.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("sum_total"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


@query(
    "sink_partitioned_pruned",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS DOUBLE) AS total_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-03' AND DATE '2024-01-05'
    GROUP BY event_type
    """,
)
def q_sink_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → Hive-partitioned parquet on event_date → date-range read.
    The range filter hits the partition column, so the scan lists 3
    directories instead of reading every row — the plan shows
    PartitionFilters and tests/test_formats.py asserts partitionFilters
    is non-empty. THE layout decision that makes a 100 TB event table
    queryable by day."""
    src = _t(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    path = FMT.scratch_dir("sink_part", "events")
    FMT.write_partitioned_parquet(src, path, ["event_date"])
    back = spark.read.parquet(path)
    return (
        back.filter(
            F.col("event_date").between(F.lit("2024-01-03"), F.lit("2024-01-05"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("total_value"),
        )
    )


@query(
    "fmt_schema_evolution",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           COUNT(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS n_with_priority,
           COUNT(DISTINCT CASE WHEN o_orderkey % 2 = 1
                               THEN o_orderpriority END) AS n_priorities,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS DOUBLE) AS sum_total
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_fmt_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: epoch-1 files lack o_orderpriority (even keys),
    epoch-2 files carry it (odd keys); a mergeSchema read reconciles by
    name, so epoch-1 rows surface NULL priority. The aggregate proves
    NULL-fill placement and value fidelity against an oracle that
    synthesizes the same NULLs from the source table."""
    src = _t(spark, sf_dir, "orders")
    v1 = src.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v2 = src.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    p1 = FMT.scratch_dir("fmt_evolution", "epoch1")
    p2 = FMT.scratch_dir("fmt_evolution", "epoch2")
    v1.write.mode("overwrite").parquet(p1)
    v2.write.mode("overwrite").parquet(p2)
    back = FMT.read_parquet_merged(spark, p1, p2)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderpriority").alias("n_with_priority"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("sum_total"),
    )


@query(
    "pyds_synthetic_corpus",
    """
    WITH gen AS (
        SELECT i AS doc_id, 'src_' || (i % 4) AS source,
               md5(CAST(i AS VARCHAR)) AS text
        FROM (SELECT UNNEST(generate_series(0, 999)) AS i)
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc,
           CAST(SUM(CAST('0x' || substr(text, 1, 8) AS BIGINT)) AS BIGINT)
               AS hash_prefix_sum
    FROM gen GROUP BY source
    """,
)
def q_pyds_synthetic_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource read (sources/pyds.py): 8 planned input
    partitions generate a 1000-doc deterministic corpus in executor
    Python workers; the aggregate (including an md5-prefix checksum over
    every generated byte of text) must equal the DuckDB twin that
    recomputes the same pure function of doc_id — proving split
    planning, fan-out, generation, and Arrow transfer are lossless."""
    from .sources import pyds

    pyds.register(spark)
    df = (
        spark.read.format("synthetic_corpus")
        .option("numDocs", 1000)
        .option("numPartitions", 8)
        .load()
    )
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
        F.sum(F.conv(F.substring("text", 1, 8), 16, 10).cast("bigint"))
        .cast("bigint")
        .alias("hash_prefix_sum"),
    )


@query(
    "pyds_jsonl_sink_roundtrip",
    """
    WITH gen AS (
        SELECT i AS doc_id, 'src_' || (i % 4) AS source,
               md5(CAST(i AS VARCHAR)) AS text
        FROM (SELECT UNNEST(generate_series(0, 499)) AS i)
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum,
           CAST(SUM(CAST('0x' || substr(text, 1, 8) AS BIGINT)) AS BIGINT)
               AS hash_prefix_sum
    FROM gen GROUP BY source
    """,
)
def q_pyds_jsonl_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE half of the Python DataSource API (sources/pyds.py
    JsonlSinkDataSource): the 500-doc deterministic corpus is written
    through the two-phase-commit jsonl sink TWICE in overwrite mode
    (staging → rename → manifest-as-commit-point → prune superseded),
    then read back and aggregated. Equality with the DuckDB twin that
    regenerates the corpus proves (a) every staged row was published,
    (b) the second overwrite replaced — not doubled — the first
    generation, (c) the manifest lists exactly the published files.

    Scale: each executor task stages its own file with zero cross-task
    coordination; commit is O(#tasks) driver-side renames — the same
    contract as Hadoop file committers."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from .sources import pyds

    pyds.register(spark)
    corpus = (
        spark.read.format("synthetic_corpus")
        .option("numDocs", 500)
        .option("numPartitions", 6)
        .load()
    )
    out_dir = _os.path.join(
        _tempfile.gettempdir(),
        f"spark_graft_jsonl_sink_roundtrip_{_os.getpid()}",
    )
    # write twice: the second overwrite must supersede the first
    for _ in range(2):
        (
            corpus.write.format("jsonl_sink")
            .mode("overwrite")
            .option("path", out_dir)
            .save()
        )
    with open(_os.path.join(out_dir, "_MANIFEST.json")) as fh:
        manifest = _json.load(fh)
    assert sum(m["rows"] for m in manifest) == 500, "manifest row count"
    back = spark.read.schema("doc_id bigint, source string, text string").json(
        _os.path.join(out_dir, "part-*.jsonl")
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("doc_id_sum"),
        F.sum(F.conv(F.substring("text", 1, 8), 16, 10).cast("bigint"))
        .cast("bigint")
        .alias("hash_prefix_sum"),
    )


@query(
    "pyds_stream_drain",
    """
    WITH gen AS (
        SELECT i AS doc_id, 'src_' || (i % 4) AS source,
               md5(CAST(i AS VARCHAR)) AS text
        FROM (SELECT UNNEST(generate_series(0, 599)) AS i)
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc,
           CAST(SUM(CAST('0x' || substr(text, 1, 8) AS BIGINT)) AS BIGINT)
               AS hash_prefix_sum
    FROM gen GROUP BY source
    """,
)
def q_pyds_stream_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING half of the Python DataSource (sources/pyds.py
    _CorpusStreamReader): the bounded 600-doc source drains through a
    real Structured Streaming query in 128-doc micro-batches (offset
    cursor advanced per batch, processAllAvailable drain) into a memory
    sink; the final aggregate must equal the batch regeneration —
    proving offset planning, per-batch reads, and exactly-once
    accounting across micro-batch boundaries."""
    from .sources import pyds
    from .streaming import run_process_all

    pyds.register(spark)
    stream = (
        spark.readStream.format("synthetic_corpus")
        .option("numDocs", 600)
        .option("batchSize", 128)
        .load()
    )
    sink = run_process_all(stream, "append")
    return sink.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
        F.sum(F.conv(F.substring("text", 1, 8), 16, 10).cast("bigint"))
        .cast("bigint")
        .alias("hash_prefix_sum"),
    )


@query(
    "fmt_copy_into_history",
    """
    SELECT c_custkey, c_name FROM customer WHERE c_custkey % 97 IN (0, 1, 2)
    """,
)
def q_fmt_copy_into_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY INTO with load history (sources/copy_into.CopyInto — the
    Snowflake stage-ingest / Snowpipe / Auto Loader contract): three
    landing-zone drops arrive across three loader runs — run 1 ingests
    batches 0+1, run 2 sees batch 2 arrive and loads ONLY it (the two
    loaded files are skipped by content fingerprint, no re-read), run 3
    is a no-op. The returned table must contain each batch's rows
    EXACTLY once — any re-load duplicates rows and breaks the hash, so
    the oracle match IS the exactly-once-per-file proof. Each run costs
    O(new files), never O(stage) — the property that matters when the
    landing zone holds years of drops."""
    import json as _json
    import os as _os
    import shutil as _sh

    from pyspark.sql import types as T

    from .sources.copy_into import CopyInto

    stage = FMT.scratch_dir("copy_into", "stage")
    target = FMT.scratch_dir("copy_into", "table")
    _sh.rmtree(stage, ignore_errors=True)
    _sh.rmtree(target, ignore_errors=True)
    _os.makedirs(stage, exist_ok=True)

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
        ]
    )

    def drop_batch(r: int) -> None:
        rows = cust.filter(F.col("c_custkey") % 97 == r).collect()
        with open(_os.path.join(stage, f"batch{r}.jsonl"), "w") as f:
            for row in rows:
                f.write(_json.dumps({"c_custkey": row.c_custkey,
                                     "c_name": row.c_name}) + "\n")

    ci = CopyInto(spark, stage, target, "*.jsonl")
    drop_batch(0)
    drop_batch(1)
    ci.run(schema)  # loads batch0 + batch1
    drop_batch(2)
    ci.run(schema)  # loads ONLY batch2
    ci.run(schema)  # no-op
    return ci.read(schema)
