"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload olist_build --seed 1 --seconds 12 --trace 0

Order of a run, from the checkout root:

1. Make the seeded inputs under ``perfbench/.work/data`` (cached per
   seed, excluded from every metric).
2. Set up the engine session ``SETUPS`` times (``get_spark`` through the
   workload's warm-up); ``setup_s`` is the median. The first set-up also
   launches the JVM; the later ones restart the session inside it.
3. Check outputs once, untimed: every op against its DuckDB oracle, or
   the build's tests and generator totals. This cold pass is also the
   warm-up.
4. Run timed passes, closed loop with one client, while the next pass
   fits in ``--seconds`` by the median pass so far (at least one pass).
   ``cpu_s`` is the median over these passes of the CPU time they cost.
   With ``--trace 1`` passes alternate traced/untraced; traced passes
   record spans and per-layer counters, untraced ones give the wall
   time of a pass and of an op, and the two wall medians give the
   tracing overhead.

Prints one ``{"env": ...}`` line describing the pinned environment, then
as the last line ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics untraced, the per-layer metrics traced.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import types
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
SETUPS = 3

END_TO_END = {"setup_s": "s", "cpu_s": "s"}


class Ctx:
    """What a workload pass needs: the session, its directories, and in
    traced passes the tracer, status counters and streaming progress."""

    def __init__(self, spark, data_dir: str, run_dir: str, tmp_dir: str, cores: int,
                 oracle) -> None:
        self.spark, self.data_dir, self.run_dir = spark, data_dir, run_dir
        self.tmp_dir, self.cores, self.oracle = tmp_dir, cores, oracle
        self.tracer = self.counters = None
        self.progress: list[str] = []
        self.traced = False

    def span(self, name: str, **attrs):
        if self.traced:
            return self.tracer.span(name, **attrs)
        return nullcontext({})


def _load_oracle_compare():
    """Import tools/check_oracle.py for its multiset compare. Its module
    body imports ``local_env`` (a protobuf opt-in only the excluded
    transformWithState op needs); a blank module stands in for it, and
    the sys.path entry it adds is dropped again."""
    sys.modules.setdefault("local_env", types.ModuleType("local_env"))
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.path[:] = saved
    return mod


def _stop_jvm(spark) -> None:
    """Stop the session, then the py4j gateway and its JVM, and wait for
    the JVM (and the Python workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="tenth-size inputs (smoke test)")
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "olist_snowflake_dbt_spark"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py"))):
        print("perfbench: engine sources not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import LAYER_METRICS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {sorted(WORKLOADS)})", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    # pinned environment: local[nproc], the checkout root on the Python
    # workers' path, and every temp/local/warehouse dir inside the run dir
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # no hsperfdata files in /tmp from the launcher or driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TMPDIR"] = tempfile.tempdir = tmp_dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    phases = [("start", time.perf_counter())]
    oracle = _load_oracle_compare()
    wl.prerequisites()
    data_dir = wl.prepare(os.path.join(WORK, "data"), args.seed, args.small)
    phases.append(("inputs", time.perf_counter()))

    import pyspark
    from olist_snowflake_dbt_spark.session import get_spark
    from pyspark import SparkContext

    from perfbench.measure import (RssSampler, StatusCounters, Tracer, cpu_s,
                                   progress_listener)

    # C1 only: C2 keeps compiling through a run's first six builds, so the
    # CPU time of a pass would depend on how many passes came before it
    jvm_opts = "-XX:-UsePerfData -XX:TieredStopAtLevel=1"
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} {jvm_opts}",
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse")}
    setups = []
    spark = None
    tracer = Tracer() if args.trace else None
    span = tracer.span if tracer else (lambda name, **kw: nullcontext({}))
    try:
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            with span("get_spark", op=f"setup{i}"):
                spark = get_spark("perfbench", **conf)
            t1 = time.perf_counter()
            with span("warm", op=f"setup{i}"):
                wl.warm(spark, data_dir)
            setups.append((t1 - t0, time.perf_counter() - t1))
        phases.append(("setup", time.perf_counter()))

        ctx = Ctx(spark, data_dir, run_dir, tmp_dir, cores, oracle)
        env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": cores, "master": spark.sparkContext.master,
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark.driver.memory": spark.conf.get("spark.driver.memory"),
            "driver_jvm_options": jvm_opts,
            "data_dir": os.path.relpath(data_dir, ROOT),
        }
        canary_s = 0.0
        if args.trace:
            for _ in range(2):  # bench.py's canary; the first pays codegen
                t0 = time.perf_counter()
                (spark.range(0, 20_000_000).selectExpr("id % 997 AS k", "id AS v")
                 .groupBy("k").agg({"v": "sum"}).write.format("noop")
                 .mode("overwrite").save())
                canary_s = time.perf_counter() - t0
            ctx.tracer, ctx.counters = tracer, StatusCounters(spark)
            spark.streams.addListener(progress_listener(ctx.progress))

        attempted, failures = wl.check(ctx)
        phases.append(("check", time.perf_counter()))
        passes = []
        t_end = time.perf_counter() + args.seconds
        jvm_pid = SparkContext._gateway.proc.pid
        # the sampler only runs in traced runs, which alone report its peak
        with RssSampler(jvm_pid) if args.trace else nullcontext() as rss:
            while True:
                # traced first: the later pass runs warmer, so the
                # overhead estimate errs high rather than low
                ctx.traced = bool(args.trace) and len(passes) % 2 == 0
                c0 = cpu_s(jvm_pid)
                p = wl.run_pass(ctx, ctx.traced)
                p["cpu_s"] = cpu_s(jvm_pid) - c0
                p["traced"] = ctx.traced
                passes.append(p)
                attempted += len(wl.ops)
                failures += p["errors"]
                # stop once a pass as long as the median one so far would
                # end past --seconds, so a run overshoots by little
                left = t_end - time.perf_counter()
                if (len(passes) >= 1 + args.trace
                        and left < statistics.median(q["wall_s"] for q in passes)):
                    break
        phases.append(("timed", time.perf_counter()))
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    phases.append(("stop", time.perf_counter()))
    env["phase_s"] = {b[0]: b[1] - a[1] for a, b in zip(phases, phases[1:])}
    env["pass_s"] = [p["wall_s"] for p in passes]
    env["pass_cpu_s"] = [p["cpu_s"] for p in passes]

    plain = [p for p in passes if not p["traced"]]
    if args.trace:
        traced = [p for p in passes if p["traced"]]
        layers = {name: statistics.median(p["layers"].get(name, 0.0) for p in traced)
                  for name in LAYER_METRICS}
        layers["session.start_s"] = statistics.median(s for s, _ in setups)
        layers["session.warm_s"] = statistics.median(w for _, w in setups)
        layers["session.canary_s"] = canary_s
        layers["exec.peak_rss_mb"] = rss.peak_mb
        plain_wall = statistics.median(p["wall_s"] for p in plain)
        op_s = [t for p in plain for t in p["op_s"]]
        layers["pass.wall_s"] = plain_wall
        # every op failing leaves no latency; the result says incorrect
        layers["pass.op_p50_s"] = statistics.median(op_s) if op_s else 0.0
        layers["trace.overhead_pct"] = 100.0 * (
            statistics.median(p["wall_s"] for p in traced) - plain_wall) / plain_wall
        metrics = {k: {"value": v, "unit": LAYER_METRICS[k][0]} for k, v in layers.items()}
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        with open(os.path.join(WORK, "trace",
                               f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"env": env, "setups": setups, "passes": passes,
                       "spans": ctx.tracer.spans}, fh, indent=1, default=str)
    else:
        values = {
            "setup_s": statistics.median(s + w for s, w in setups),
            "cpu_s": statistics.median(p["cpu_s"] for p in plain),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}

    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
