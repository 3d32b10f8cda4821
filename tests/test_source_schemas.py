"""Source schemas read on the driver: ``readers.parquet_schema`` gives
exactly the schema Spark's Parquet inference gives, and
``seeds._csv_header`` exactly the names Spark's CSV header job gives,
with no Spark job. A layout the readers do not take falls back to
Spark's inference, logged."""

from __future__ import annotations

import contextlib
import logging
import os
import uuid

import pytest
from pyspark.sql import functions as F

from olist_snowflake_dbt_spark.sources import readers
from olist_snowflake_dbt_spark.sources.readers import (
    TESTDATA_TABLES,
    parquet_schema,
    read_table,
)
from olist_snowflake_dbt_spark.sources.seeds import _csv_header, _read_raw_strings
from olist_snowflake_dbt_spark.streaming.events import stream_events

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOGGER = "olist_snowflake_dbt_spark"


@contextlib.contextmanager
def spark_jobs(spark):
    """Collects the ids of the Spark jobs the body runs on this thread."""
    sc = spark.sparkContext
    group = f"source-schemas-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs run by a source read")
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids += list(sc.statusTracker().getJobIdsForGroup(group))
        sc._jsc.clearJobGroup()


def _assert_read_as_inferred(spark, path):
    """The frame read under the driver-read schema has the inferred
    frame's schema, field metadata included (both are made nullable by
    the file relation)."""
    assert parquet_schema(spark, path) is not None, path
    got = readers._read_parquet(spark, path).schema
    want = spark.read.parquet(path).schema
    assert got == want and got.json() == want.json(), path


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_inference_for_every_source(spark, sf_dir, sf):
    """Every source at three scales: the driver-read schema equals the
    inferred one, field metadata included."""
    root = os.path.join(os.path.dirname(sf_dir), sf)
    for name in TESTDATA_TABLES:
        _assert_read_as_inferred(spark, os.path.join(root, f"{name}.parquet"))


def test_spark_written_directory_reads_its_first_part_file(spark, tmp_path):
    """A flat Spark-written directory (part files plus ``_SUCCESS`` and
    ``.crc`` files) reads the first part file's footer, and with that
    the schema Spark stored there."""
    path = str(tmp_path / "t.parquet")
    (spark.range(40).selectExpr("id", "CAST(id AS DECIMAL(20, 4)) AS amount",
                                "TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ts",
                                "named_struct('k', id, 'tags', array('a')) AS nested")
     .repartition(3).write.parquet(path))
    chosen, flat = readers._schema_file(path)
    parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    assert flat and chosen == os.path.join(path, parts[0])
    _assert_read_as_inferred(spark, path)


def test_summary_file_wins_over_data_files(spark, tmp_path):
    """``_common_metadata`` is read first, as Spark's inference reads it:
    a column only the summary names is in both schemas."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "t.parquet"
    path.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), str(path / "part-0.parquet"))
    pq.write_metadata(pa.schema([("a", pa.int64()), ("only_in_summary", pa.string())]),
                      str(path / "_common_metadata"))
    _assert_read_as_inferred(spark, str(path))
    assert "only_in_summary" in parquet_schema(spark, str(path)).fieldNames()


def test_partitioned_directory_falls_back_to_inference(spark, tmp_path, caplog):
    """A partitioned layout is left to Spark's inference, which adds the
    partition column; the fallback is logged."""
    caplog.set_level(logging.INFO, logger=LOGGER)
    path = str(tmp_path / "p.parquet")
    spark.range(10).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(path)
    assert parquet_schema(spark, path) is None
    assert any(path in r.getMessage() and "partitioned" in r.getMessage()
               for r in caplog.records)
    df = readers._read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert "k" in df.columns and df.count() == 10


def test_unreadable_footer_falls_back_to_inference(spark, tmp_path, caplog):
    """A file that is not Parquet is left to Spark, which raises its own
    error; the fallback is logged."""
    caplog.set_level(logging.INFO, logger=LOGGER)
    path = tmp_path / "bad.parquet"
    path.write_bytes(b"not parquet")
    assert parquet_schema(spark, str(path)) is None
    assert any("not read" in r.getMessage() for r in caplog.records)


# ---------------------------------------------------------------------
# Seed CSV headers
# ---------------------------------------------------------------------

def _csv_by_spark(spark, path):
    """The seed CSV read with Spark's header job naming the columns."""
    return spark.read.options(
        header=True, quote='"', escape='"', encoding="UTF-8", mode="PERMISSIVE"
    ).csv(path)


def _raw_by_spark(spark, path):
    """``_read_raw_strings`` as it was, over :func:`_csv_by_spark`."""
    df = _csv_by_spark(spark, path)
    return df.select(*(
        F.when(F.lower(F.col(f"`{c}`")).isin("", "null"), None)
        .otherwise(F.col(f"`{c}`")).alias(c.lstrip("\ufeff").strip())
        for c in df.columns
    ))


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


_CSVS = {
    "bom_crlf": b"\xef\xbb\xbfname,value\r\nx,1\r\ny,null\r\n",
    "quoted_comma": b'"city, state",zip\n"sao paulo, SP",01037\n',
    "empty_name": b'a,,"",b\n1,2,3,4\n',
    "duplicates": b"a,A,b,a,c\n1,2,3,4,5\n",
    "blank_lines_first": b"\n   \n a , b \n1,2\n",
    "escaped_quote": b'"say ""hi""",b\n1,2\n',
    "cr_only": b"p,q\r1,2\r",
    "bom_duplicate": b"\xef\xbb\xbfa,a\n1,2\n",
}


def _fixture_csvs():
    demo = os.path.join(ROOT, "olist_snowflake_dbt_spark", "models", "demo_seeds")
    return [os.path.join(ROOT, "fixtures", "seed_customers.csv")] + [
        os.path.join(demo, f) for f in sorted(os.listdir(demo))]


def test_seed_headers_match_spark_on_fixtures_and_edge_cases(spark, tmp_path):
    """For every CSV fixture and each header edge case the driver-read
    names equal Spark's, and the raw frame has the same columns and
    rows as with Spark's header job."""
    paths = _fixture_csvs()
    for name, body in _CSVS.items():
        (tmp_path / f"{name}.csv").write_bytes(body)
        paths.append(str(tmp_path / f"{name}.csv"))
    for path in paths:
        assert _csv_header(spark, path) == _csv_by_spark(spark, path).columns, path
        got, want = _read_raw_strings(spark, path), _raw_by_spark(spark, path)
        assert got.schema == want.schema, path
        assert _rows(got) == _rows(want), path


def test_case_sensitive_session_keeps_case_distinct_names(spark, tmp_path):
    path = tmp_path / "cs.csv"
    path.write_bytes(b"a,A,a\n1,2,3\n")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        assert _csv_header(spark, str(path)) == ["a0", "A", "a2"]
        assert _csv_header(spark, str(path)) == _csv_by_spark(spark, str(path)).columns
    finally:
        spark.conf.unset("spark.sql.caseSensitive")


def test_csv_directory_keeps_spark_header_job(spark, tmp_path, caplog):
    caplog.set_level(logging.INFO, logger=LOGGER)
    d = tmp_path / "seed"
    d.mkdir()
    (d / "part.csv").write_bytes(b"a,b\n1,2\n")
    assert _csv_header(spark, str(d)) is None
    assert any(str(d) in r.getMessage() for r in caplog.records)
    assert _read_raw_strings(spark, str(d)).columns == ["a", "b"]


def test_headers_are_read_per_call(spark, tmp_path):
    """Nothing is cached: a file rewritten between reads is read as it
    now is."""
    path = str(tmp_path / "s.csv")
    with open(path, "w") as f:
        f.write("a,b\n1,2\n")
    assert _read_raw_strings(spark, path).columns == ["a", "b"]
    with open(path, "w") as f:
        f.write("c,d,e\n1,2,3\n")
    assert _read_raw_strings(spark, path).columns == ["c", "d", "e"]
    pq_path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(pq_path)
    assert parquet_schema(spark, pq_path).fieldNames() == ["id"]
    spark.range(3).selectExpr("id AS x").write.mode("overwrite").parquet(pq_path)
    assert parquet_schema(spark, pq_path).fieldNames() == ["x"]


# ---------------------------------------------------------------------
# No schema-inference job on a source read
# ---------------------------------------------------------------------

def test_source_reads_run_no_spark_job(spark, sf_dir):
    """``read_table(...).schema`` for every source, building
    ``stream_events`` and ``_read_raw_strings`` on each CSV fixture run
    no Spark job. The counter does see a job: Spark's own inference runs
    one."""
    with spark_jobs(spark) as inferred:
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).schema
    assert inferred, "the job counter saw no inference job"
    with spark_jobs(spark) as jobs:
        for name in TESTDATA_TABLES:
            read_table(spark, sf_dir, name).schema
        stream_events(spark, sf_dir)
        for path in _fixture_csvs():
            _read_raw_strings(spark, path).schema
    assert jobs == []
