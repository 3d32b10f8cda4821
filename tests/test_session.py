"""``get_spark``: the bounded default driver heap, and what it reports
when a live session keeps a conf it cannot change."""

from __future__ import annotations

import logging

from olist_snowflake_dbt_spark import session
from olist_snowflake_dbt_spark.session import get_spark

GIB = 2**30


def test_default_driver_heap_is_bounded_by_physical_memory(monkeypatch):
    """The default heap is half of physical memory, capped at 48g; an
    explicit ``spark.driver.memory`` still wins."""
    phys = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 15 * GIB // 4096}
    monkeypatch.setattr(session.os, "sysconf", lambda k: phys[k])
    assert session._conf({})["spark.driver.memory"] == f"{15 * 1024 // 2}m"
    phys["SC_PHYS_PAGES"] = 512 * GIB // 4096
    assert session._conf({})["spark.driver.memory"] == f"{48 * 1024}m"
    assert session._conf({"spark.driver.memory": "2g"})["spark.driver.memory"] == "2g"


def test_default_driver_heap_without_a_memory_report(monkeypatch):
    def unsupported(key):
        raise ValueError(key)

    monkeypatch.setattr(session.os, "sysconf", unsupported)
    assert session._conf({})["spark.driver.memory"] == f"{48 * 1024}m"


def test_live_session_logs_each_conf_it_keeps(spark, caplog):
    """A static SQL conf and a Spark core conf cannot change on a live
    session: each requested value the session does not take is logged
    by name, and the session keeps its own. A runtime conf is applied
    and not logged."""
    caplog.set_level(logging.WARNING, logger="olist_snowflake_dbt_spark")
    width = spark.conf.get("spark.sql.shuffle.partitions")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    ui = spark.conf.get("spark.ui.enabled")
    got = get_spark("pytest", **{
        "spark.sql.shuffle.partitions": width,
        "spark.sql.warehouse.dir": warehouse + "-elsewhere",
        "spark.ui.enabled": "true" if ui == "false" else "false",
    })
    assert got is spark
    logged = " ".join(r.getMessage() for r in caplog.records)
    assert "spark.sql.warehouse.dir" in logged and "spark.ui.enabled" in logged
    assert "spark.sql.shuffle.partitions" not in logged
    assert "spark.driver.memory" not in logged  # the default it was built with
    assert spark.conf.get("spark.sql.warehouse.dir") == warehouse
    assert spark.conf.get("spark.ui.enabled") == ui
