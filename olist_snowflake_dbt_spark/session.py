"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]``; at cluster scale
the same settings (AQE, skew-join handling, UTC session timezone, Arrow)
are the ones you'd set for a 1000-executor job — only ``master`` and the
memory knobs change.
"""

from __future__ import annotations

import logging
import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

log = logging.getLogger("olist_snowflake_dbt_spark")

# Defaults chosen for the harness box (local[32], 128 GiB). At cluster
# scale, shuffle.partitions should be ~2-3x total cores and is largely
# superseded by AQE's coalescing; these remain sane starting points.
_DEFAULTS: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # InferFiltersFromGenerate clones a generator's child expression into
    # an inferred size()>0 filter BELOW the projection; for our
    # expression-heavy exploded arrays (shingle hashes, LSH band keys)
    # that re-evaluates the whole array — interpreted, with the words
    # regex inlined per lambda reference — once more per input row.
    # Operators also use explode_outer defensively (the rule skips outer
    # generators), so this exclusion is belt-and-braces for ad-hoc use.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python UDTFs otherwise exchange rows via pickle one at a time;
    # Arrow batches them like every other pandas-UDF lane in this engine
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # ContextCleaner reclaims broadcast blocks and shuffle files only via
    # weak references, i.e. only after a JVM GC — and a large driver heap
    # (up to 48g here, bigger on a real cluster) can go tens of minutes without
    # one. Measured on this box: after ~30 queries the accumulated
    # broadcast/shuffle state degrades identical plans 10-20x (simhash
    # 54s vs 3s). The default interval is 30min; 2min keeps long-running
    # multi-query sessions (exactly the 100TB-pipeline shape) healthy.
    "spark.cleaner.periodicGC.interval": "2min",
    # money columns are DecimalType; keep Spark's exact decimal semantics
    "spark.sql.ansi.enabled": "false",
    "spark.ui.enabled": "false",
}

# The default driver heap: 48g, but no more than this share of physical
# memory. The heap grows lazily toward its cap, and off-heap memory
# (Arrow, netty, Python workers) comes on top, so a cap near the box's
# size lets one large local job take the whole machine.
_DRIVER_MEMORY_CAP_MB = 48 * 1024
_DRIVER_MEMORY_SHARE = 0.5


def _driver_memory() -> str:
    """``min(48g, _DRIVER_MEMORY_SHARE of physical memory)``, in MiB;
    48g where the platform does not report its memory."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return f"{_DRIVER_MEMORY_CAP_MB}m"
    return f"{min(_DRIVER_MEMORY_CAP_MB, int(phys * _DRIVER_MEMORY_SHARE) >> 20)}m"


def _conf(overrides: dict[str, str]) -> dict[str, str]:
    """The conf :func:`get_spark` asks for: the defaults, the
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` width, then ``overrides``."""
    conf = {**_DEFAULTS, "spark.driver.memory": _driver_memory()}
    # cluster knob: on a real deployment set SPARK_GRAFT_SHUFFLE_PARTITIONS
    # to ~2-3x total executor cores (e.g. 8000-12000 for 1000 executors x
    # 4 cores); AQE then coalesces the small ones at runtime, so erring
    # high is cheap while erring low caps parallelism and spills.
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if shuffle_parts:
        conf["spark.sql.shuffle.partitions"] = shuffle_parts
    conf.update({str(k): str(v) for k, v in overrides.items()})
    return conf


def get_spark(app_name: str = "olist_snowflake_dbt_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32).
    Keyword overrides win over defaults. On a live session only runtime
    confs can change; each requested key whose live value differs (a
    static or Spark core conf) is logged, and the session keeps it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = _conf(overrides)
    active = SparkSession.getActiveSession()
    if active is not None:
        # reuse the driver-provided session
        for k, v in conf.items():
            try:
                active.conf.set(k, v)
            except AnalysisException:
                pass  # static or Spark core conf: compared below
            live = active.conf.get(k, None)
            if live != v:
                log.warning("get_spark: live session keeps %s=%r, not the requested %r",
                            k, live, v)
        return active
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
