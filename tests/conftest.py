from __future__ import annotations

import os
import sys

import pytest

# this checkout first, whichever directory pytest runs from
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Harness-level opt-in for the container-local protobuf site (must
# precede the package import, whose __init__ consumes the env var and
# exports PYTHONPATH before the JVM launch in the spark fixture below —
# transformWithState's driver-side Python worker inherits it)
import local_env  # noqa: F401

from olist_snowflake_dbt_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", **{"spark.sql.shuffle.partitions": "4"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
