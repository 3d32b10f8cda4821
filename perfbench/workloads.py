"""The benchmark's workloads, each driven through the engine's public
entry points only: ``Engine.seed`` / ``run_concurrent`` / ``test`` for
the build, and the ``QUERIES`` callables plus a noop-sink action for the
query workloads.

A workload knows how to make its inputs from a seed, warm a fresh
session, check its outputs once, and run one timed pass. A traced pass
also returns its per-layer record (see ``README.md`` for the mapping of
each layer metric to the end-to-end metric it should move).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from decimal import Decimal

from . import inputs
from .measure import MB, union_s

LAYER_METRICS = {
    # name: (unit, better)
    "session.start_s": ("s", "lower"),
    "session.warm_s": ("s", "lower"),
    "session.canary_s": ("s", "lower"),
    "sources.seed_s": ("s", "lower"),
    "sources.seed_rows": ("count", "higher"),
    "sources.seed_parquet_mb": ("MB", "lower"),
    "sources.scan_mb": ("MB", "lower"),
    "plans.build_s": ("s", "lower"),
    "plans.submit_gap_s": ("s", "lower"),
    "runner.run_s": ("s", "lower"),
    "runner.nodes": ("count", "higher"),
    "runner.idle_s": ("s", "lower"),
    "materialize.files": ("count", "lower"),
    "materialize.write_mb": ("MB", "lower"),
    "materialize.stored_bytes_ratio": ("ratio", "lower"),
    "dq.test_s": ("s", "lower"),
    "dq.tests": ("count", "higher"),
    "dq.tests_failed": ("count", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.task_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.busy_ratio": ("ratio", "higher"),
    "exec.shuffle_write_mb": ("MB", "lower"),
    "exec.shuffle_read_mb": ("MB", "lower"),
    "exec.spill_mb": ("MB", "lower"),
    "exec.peak_rss_mb": ("MB", "lower"),
    "functions.python_rows": ("count", "lower"),
    "functions.python_mb": ("MB", "lower"),
    "stream.batches": ("count", "lower"),
    "stream.batch_p50_ms": ("ms", "lower"),
    "stream.add_batch_ms": ("ms", "lower"),
    "stream.wal_commit_ms": ("ms", "lower"),
    "stream.planning_ms": ("ms", "lower"),
    "stream.state_commit_ms": ("ms", "lower"),
    "stream.state_rows": ("count", "lower"),
    "stream.state_mem_mb": ("MB", "lower"),
    "pass.wall_s": ("s", "lower"),
    "pass.op_p50_s": ("s", "lower"),
    "trace.overhead_pct": ("%", "lower"),
}


def cleanup(spark, tmp_dir: str) -> None:
    """Between ops: bench.py's cache + JVM GC cleanup, then drop the op's
    temp views (memory sinks) and its temp warehouses and checkpoints."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    for entry in os.listdir(tmp_dir):
        path = os.path.join(tmp_dir, entry)
        if entry.startswith(("spark_graft_", "olist_")):
            shutil.rmtree(path, ignore_errors=True)


def _exec_layers(d: dict, wall_s: float, cores: int) -> dict:
    return {
        "exec.jobs": d["jobs"], "exec.stages": d["stages"], "exec.tasks": d["tasks"],
        "exec.task_s": d["task_s"], "exec.gc_s": d["gc_s"],
        "exec.busy_ratio": d["task_s"] / (wall_s * cores) if wall_s else 0.0,
        "exec.shuffle_write_mb": d["shuffle_write_mb"],
        "exec.shuffle_read_mb": d["shuffle_read_mb"],
        "exec.spill_mb": d["spill_mb"], "sources.scan_mb": d["scan_mb"],
        "functions.python_rows": d["python_rows"],
        "functions.python_mb": d["python_mb"],
    }


def _merge(total: dict, part: dict) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v if isinstance(v, (int, float)) else v


def _stream_layers(progress: list[str]) -> dict:
    """Per-pass streaming record from the listener's progress events."""
    trig, add, wal, plan, commit = [], 0.0, 0.0, 0.0, 0.0
    last_rows: dict[str, int] = {}
    mem = 0
    for pj in progress:
        p = json.loads(pj)
        dur = p.get("durationMs") or {}
        if "triggerExecution" in dur:
            trig.append(dur["triggerExecution"])
        add += dur.get("addBatch", 0)
        wal += dur.get("walCommit", 0)
        plan += dur.get("queryPlanning", 0)
        ops = p.get("stateOperators") or []
        commit += sum(o.get("commitTimeMs", 0) for o in ops)
        if ops:
            last_rows[p["runId"]] = sum(o.get("numRowsTotal", 0) for o in ops)
            mem = max(mem, sum(o.get("memoryUsedBytes", 0) for o in ops))
    return {
        "stream.batches": len(trig),
        "stream.batch_p50_ms": statistics.median(trig) if trig else 0.0,
        "stream.add_batch_ms": add, "stream.wal_commit_ms": wal,
        "stream.planning_ms": plan, "stream.state_commit_ms": commit,
        "stream.state_rows": sum(last_rows.values()),
        "stream.state_mem_mb": mem / MB,
    }


class QueryWorkload:
    """Closed loop, one client: each op is a ``QUERIES`` callable followed
    by a noop-sink write. Outputs are checked against the op's DuckDB
    ``ORACLE_SQL`` twin on the same generated files."""

    def __init__(self, name: str, ops: list[str], tables: list[str], make) -> None:
        self.name, self.ops, self.tables, self._make = name, ops, tables, make

    def prepare(self, data_root: str, seed: int, small: bool) -> str:
        scale = 0.1 if small else 1.0
        return inputs.cached(data_root, f"{self.name}-x{scale}-seed{seed}",
                             lambda d: self._make(d, seed, scale))

    def prerequisites(self) -> None:
        from olist_snowflake_dbt_spark.queries import ORACLE_SQL, QUERIES

        missing = [op for op in self.ops if op not in QUERIES or op not in ORACLE_SQL]
        if missing:
            raise SystemExit(f"{self.name}: ops without a callable or oracle: {missing}")
        import pandas  # noqa: F401  pandas-UDF ops need both on the workers
        import pyarrow  # noqa: F401

    def warm(self, spark, data_dir: str) -> None:
        """Parquet footer + vectorized-reader init for every input table."""
        from olist_snowflake_dbt_spark.sources.readers import read_table

        spark.range(1).count()
        for t in self.tables:
            read_table(spark, data_dir, t).limit(1).count()

    def check(self, ctx) -> tuple[int, list[str]]:
        """Run every op once (untimed, cold) with a collect, and compare
        with its DuckDB oracle using tools/check_oracle.py's multiset."""
        import duckdb
        from olist_snowflake_dbt_spark.queries import ORACLE_SQL, QUERIES

        frame_multiset = ctx.oracle.frame_multiset
        con = duckdb.connect()
        for t in self.tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(ctx.data_dir, t + '.parquet')}'")
        failures = []
        for op in self.ops:
            try:
                sdf = QUERIES[op](ctx.spark, ctx.data_dir)
                srows, scols = sdf.collect(), sdf.columns
                rel = con.sql(ORACLE_SQL[op])
                drows, dcols = rel.fetchall(), [d[0] for d in rel.description]
                if frame_multiset(scols, srows) != frame_multiset(dcols, drows):
                    failures.append(f"{op}: {len(srows)} rows differ from oracle "
                                    f"({len(drows)} rows)")
            except Exception as exc:  # a failing op is counted, not fatal
                failures.append(f"{op}: {type(exc).__name__}: {exc}"[:300])
            finally:
                cleanup(ctx.spark, ctx.tmp_dir)
        con.close()
        return len(self.ops), failures

    def run_pass(self, ctx, traced: bool) -> dict:
        from olist_snowflake_dbt_spark.queries import QUERIES

        lat, errors, layers, progress = [], [], {}, []
        t_pass = time.perf_counter()
        for op in self.ops:
            if traced:
                mark = ctx.counters.mark()
                del ctx.progress[:]
            try:
                with ctx.span("op", op=op) as op_span:
                    t0 = time.perf_counter()
                    with ctx.span("callable", op=op):
                        df = QUERIES[op](ctx.spark, ctx.data_dir)
                    t1 = time.perf_counter()
                    with ctx.span("action", op=op) as act:
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                lat.append(t2 - t0)
            except Exception as exc:  # counted in error_rate, the loop goes on
                errors.append(f"{op}: {type(exc).__name__}: {exc}"[:300])
                traced_op = False
            else:
                traced_op = traced
            if traced_op:
                d = ctx.counters.since(mark)
                progress += ctx.progress
                op_layers = {
                    "plans.build_s": t1 - t0,
                    "plans.submit_gap_s": (t2 - t1) - union_s(
                        d["exec_ms"], act["start_ms"], act["end_ms"]),
                    **_exec_layers(d, t2 - t0, ctx.cores),
                    **_stream_layers(ctx.progress),
                }
                op_span.update(op_layers)
                _merge(layers, op_layers)
            cleanup(ctx.spark, ctx.tmp_dir)
        wall = time.perf_counter() - t_pass
        if layers:
            layers["exec.busy_ratio"] = layers["exec.task_s"] / (wall * ctx.cores)
            layers["stream.batch_p50_ms"] = _stream_layers(progress)["stream.batch_p50_ms"]
        return {"wall_s": wall, "op_s": lat, "errors": errors, "layers": layers}


class OlistBuild:
    """The reference pipeline: three seeded Olist CSVs → ``Engine.seed``
    (one call per file) → ``demo_project.configure`` → ``run_concurrent``
    with ``threads = nproc`` (3 staging views, the ``fct_orders`` table)
    → ``Engine.test`` (6 tests) → gate. One pass is one build; its ops
    are the five public calls."""

    name = "olist_build"
    SEEDS = ("olist_customers_dataset", "olist_orders_dataset",
             "olist_order_items_dataset")
    ops = ("seed", "seed", "seed", "run", "test")

    def prepare(self, data_root: str, seed: int, small: bool) -> str:
        n = inputs.OLIST_ORDERS // 10 if small else inputs.OLIST_ORDERS
        return inputs.cached(data_root, f"olist-{n}-seed{seed}",
                             lambda d: inputs.olist_csvs(d, seed, n))

    def prerequisites(self) -> None:
        from olist_snowflake_dbt_spark.models import demo_project  # noqa: F401

    def warm(self, spark, data_dir: str) -> None:
        spark.range(1).count()
        for s in self.SEEDS:
            spark.read.option("header", True).csv(
                os.path.join(data_dir, f"{s}.csv")).limit(1).count()

    def _build(self, ctx, traced: bool) -> tuple[list[float], dict, list, dict]:
        from olist_snowflake_dbt_spark.models.demo_project import configure
        from olist_snowflake_dbt_spark.runner import Engine

        wh = os.path.join(ctx.run_dir, "warehouse")
        shutil.rmtree(wh, ignore_errors=True)
        eng = Engine(ctx.spark, wh)
        lat, deltas = [], {}

        def call(label: str, fn):
            mark = ctx.counters.mark() if traced else None
            with ctx.span(label, op=label) as sp:
                t0 = time.perf_counter()
                out = fn()
                lat.append(time.perf_counter() - t0)
            if traced:
                deltas[label] = (ctx.counters.since(mark), (sp["start_ms"], sp["end_ms"]))
            return out

        for s in self.SEEDS:
            call(f"seed:{s}",
                 lambda s=s: eng.seed({s: os.path.join(ctx.data_dir, f"{s}.csv")}))
        configure(eng)
        rels = call("run", lambda: eng.run_concurrent(threads=ctx.cores))
        tests = call("test", eng.test)
        layers = {}
        if traced:
            layers = self._layers(ctx, wh, lat, rels, tests, deltas)
        return lat, rels, tests, layers

    def _layers(self, ctx, wh, lat, rels, tests, deltas) -> dict:
        import pyarrow.parquet as pq

        seed_files = [f for s in self.SEEDS
                      for f in glob.glob(os.path.join(wh, s, "*.parquet"))]
        all_files = glob.glob(os.path.join(wh, "**", "*.parquet"), recursive=True)
        model_files = sorted(set(all_files) - set(seed_files))
        csv_bytes = sum(os.path.getsize(os.path.join(ctx.data_dir, f"{s}.csv"))
                        for s in self.SEEDS)
        run_d, run_win = deltas["run"]
        layers = {
            "sources.seed_s": sum(lat[:3]),
            "sources.seed_rows": sum(pq.ParquetFile(f).metadata.num_rows
                                     for f in seed_files),
            "sources.seed_parquet_mb": sum(map(os.path.getsize, seed_files)) / MB,
            "runner.run_s": lat[3], "runner.nodes": len(rels),
            "runner.idle_s": lat[3] - union_s(run_d["job_ms"], *run_win),
            "materialize.files": len(model_files),
            "materialize.write_mb": sum(map(os.path.getsize, model_files)) / MB,
            "materialize.stored_bytes_ratio":
                sum(map(os.path.getsize, all_files)) / csv_bytes,
            "dq.test_s": lat[4], "dq.tests": len(tests),
            "dq.tests_failed": sum(1 for t in tests if not t.passed),
            "plans.build_s": 0.0, "plans.submit_gap_s": 0.0,
        }
        total: dict = {}
        for d, win in deltas.values():
            _merge(total, _exec_layers(d, 0.0, ctx.cores))
            layers["plans.submit_gap_s"] += (win[1] - win[0]) / 1000.0 - union_s(
                d["exec_ms"], *win)
        layers.update(total)
        layers.update(_stream_layers([]))
        return layers

    def check(self, ctx) -> tuple[int, list[str]]:
        """First (cold) build: the 6 tests must pass and ``fct_orders``
        must match the generator's row count and revenue total."""
        from pyspark.sql import functions as F

        with open(os.path.join(ctx.data_dir, "expected.json")) as fh:
            want = json.load(fh)
        failures = []
        try:
            _, rels, tests, _ = self._build(ctx, traced=False)
            failures += [f"test {t.name}: {t.failures} failing rows"
                         for t in tests if not t.passed]
            if len(tests) != 6:
                failures.append(f"expected 6 tests, ran {len(tests)}")
            row = ctx.spark.read.parquet(rels["fct_orders"].path).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("total_order_value").alias("revenue")).collect()[0]
            if row["n"] != want["fct_orders_rows"]:
                failures.append(f"fct_orders rows {row['n']} != {want['fct_orders_rows']}")
            if Decimal(row["revenue"]) != Decimal(want["revenue_cents"]) / 100:
                failures.append(f"fct_orders revenue {row['revenue']} != "
                                f"{Decimal(want['revenue_cents']) / 100}")
        except Exception as exc:
            failures.append(f"build: {type(exc).__name__}: {exc}"[:300])
        finally:
            cleanup(ctx.spark, ctx.tmp_dir)
        return len(self.ops), ["; ".join(failures)] if failures else []

    def run_pass(self, ctx, traced: bool) -> dict:
        errors = []
        t0 = time.perf_counter()
        try:
            lat, _, tests, layers = self._build(ctx, traced)
            failing = [t.name for t in tests if not t.passed]
            if failing:
                errors.append(f"tests failed: {failing}")
        except Exception as exc:
            lat, layers = [], {}
            errors.append(f"build: {type(exc).__name__}: {exc}"[:300])
        wall = time.perf_counter() - t0
        cleanup(ctx.spark, ctx.tmp_dir)
        if traced and layers:
            layers["exec.busy_ratio"] = layers["exec.task_s"] / (wall * ctx.cores)
        return {"wall_s": wall, "op_s": lat, "errors": errors, "layers": layers}


def _events_docs(d: str, seed: int, scale: float) -> None:
    inputs.events_documents(d, seed, int(inputs.N_EVENTS * scale),
                            max(50, int(inputs.N_DOCS * scale)))


WORKLOADS = {
    "olist_build": OlistBuild(),
    "stream_drain": QueryWorkload(
        "stream_drain",
        ["stream_window_counts", "stream_stateful_totals"],
        ["events", "documents"], _events_docs),
}
