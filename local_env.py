"""Container-local harness environment (NOT part of the library).

``transformWithStateInPandas`` speaks protobuf between the JVM and its
Python state-server worker, and this container does not install protobuf
into the test interpreter. A standard PyPI copy happens to be present in
the reference checkout's vendored virtualenv. Loading code from a path
the operator didn't vet must never be a *library* default (see
``olist_snowflake_dbt_spark/compat.py`` — it honors only the documented
``SPARK_GRAFT_PROTOBUF_SITE`` env var), so the opt-in lives HERE, in the
harness layer that already hardcodes container paths (``/root/testdata``):
importing this module exports the env var if the operator hasn't set one.

It also puts this checkout first on ``PYTHONPATH``: a tool puts it on
its own ``sys.path`` only, and Spark's Python workers import the
package through the environment the JVM inherits, whatever directory
the tool was started from.

Import this BEFORE importing ``olist_snowflake_dbt_spark`` (the package
``__init__`` consumes the env var pre-JVM-launch so the driver-side
Python worker inherits ``PYTHONPATH``).
"""

from __future__ import annotations

import glob
import os


def export_protobuf_site() -> str | None:
    """Point SPARK_GRAFT_PROTOBUF_SITE at a local pure-python protobuf
    copy when the operator hasn't set one. Returns the exported value."""
    if os.environ.get("SPARK_GRAFT_PROTOBUF_SITE"):
        return os.environ["SPARK_GRAFT_PROTOBUF_SITE"]
    sites = [
        s
        for s in sorted(glob.glob("/root/reference/*/lib/python3.*/site-packages"))
        if os.path.isdir(os.path.join(s, "google", "protobuf"))
    ]
    if not sites:
        return None
    os.environ["SPARK_GRAFT_PROTOBUF_SITE"] = ":".join(sites)
    return os.environ["SPARK_GRAFT_PROTOBUF_SITE"]


def export_checkout_path() -> None:
    """Prepend this checkout to ``PYTHONPATH`` unless it is there."""
    root = os.path.dirname(os.path.abspath(__file__))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])


export_protobuf_site()
export_checkout_path()
