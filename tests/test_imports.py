"""Every query module imports on its own in a fresh interpreter: no
``queries_*`` module may need another to have been imported first."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "olist_snowflake_dbt_spark"
MODULES = sorted(
    f[:-3]
    for f in os.listdir(os.path.join(ROOT, PKG))
    if f.startswith("queries") and f.endswith(".py")
)


def test_every_query_module_is_listed():
    assert "queries" in MODULES and "queries_ext" in MODULES and len(MODULES) > 10


@pytest.mark.parametrize("module", MODULES)
def test_query_module_imports_alone(module):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run(
        [sys.executable, "-c", f"import {PKG}.{module}"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
