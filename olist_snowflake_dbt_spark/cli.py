"""dbt-style command-line surface for the engine.

The reference orchestrates everything through CLI invocations —
``automate_pipeline.py:10-26`` shells out to ``dbt seed`` / ``dbt run``
/ ``dbt test`` and gates on their exit codes. This module gives the
Spark engine the same operational surface:

    python -m olist_snowflake_dbt_spark seed
    python -m olist_snowflake_dbt_spark run   [--select S] [--threads N]
    python -m olist_snowflake_dbt_spark test  [--select S]
    python -m olist_snowflake_dbt_spark build [--select S]   # seed+run+test+gate
    python -m olist_snowflake_dbt_spark ls    [--select S]
    python -m olist_snowflake_dbt_spark docs
    python -m olist_snowflake_dbt_spark snapshot [--select NAME]

``--project module[:function]`` points at any callable that registers
models + tests on an :class:`~.runner.Engine` (default: the bundled
demo project, the reference pipeline over packaged synthetic seeds).
``--threads N`` caps how many DAG nodes the scheduler keeps in flight
(1 = serial DAG order) — the analogue of dbt's ``--threads``. Exit codes
follow dbt: 0 green, 1 failed build/tests — so the reference's
orchestrator pattern (gate on exit code) ports unchanged.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import os
import sys


def _load_project(spec: str):
    mod_name, _, fn_name = spec.partition(":")
    mod = importlib.import_module(mod_name)
    return getattr(mod, fn_name or "configure")


def _discover_seeds(seed_dir: str) -> dict[str, str]:
    return {
        os.path.splitext(os.path.basename(p))[0]: p
        for p in sorted(glob.glob(os.path.join(seed_dir, "*.csv")))
    }


def main(argv: list[str] | None = None, spark=None) -> int:
    from .models.demo_project import SEED_DIR

    ap = argparse.ArgumentParser(prog="olist_snowflake_dbt_spark")
    ap.add_argument(
        "command",
        choices=["seed", "run", "test", "build", "ls", "docs", "snapshot",
                 "clone", "compile", "show", "run-operation",
                 "source-freshness"],
    )
    ap.add_argument(
        "operation",
        nargs="?",
        default=None,
        help="with run-operation: the registered operation name",
    )
    ap.add_argument(
        "--args",
        dest="op_args",
        default="{}",
        help="with run-operation: JSON dict of keyword arguments "
        "(dbt run-operation --args)",
    )
    ap.add_argument(
        "--project",
        default="olist_snowflake_dbt_spark.models.demo_project:configure",
        help="module[:function] that registers models + tests on the Engine",
    )
    ap.add_argument("--warehouse", default="spark-warehouse/cli")
    ap.add_argument("--seed-dir", default=SEED_DIR)
    ap.add_argument("--select", default=None)
    ap.add_argument("--exclude", default=None)
    ap.add_argument(
        "--selector",
        default=None,
        help="named selector defined by the project via "
        "Engine.define_selector (dbt selectors.yml; mutually "
        "exclusive with --select/--exclude)",
    )
    ap.add_argument(
        "--threads",
        type=int,
        default=1,
        help=">1 materializes independent DAG nodes concurrently (dbt --threads)",
    )
    ap.add_argument(
        "--state",
        default=None,
        help="path to a state.json manifest for state:modified/state:new selection",
    )
    ap.add_argument(
        "--defer",
        dest="defer_wh",
        default=None,
        help="warehouse dir of another environment; refs to unselected "
        "models resolve to its artifacts (dbt --defer)",
    )
    ap.add_argument(
        "--favor-state",
        dest="favor_state",
        action="store_true",
        help="with --defer: the deferred artifact wins even when the "
        "local warehouse has one (dbt --favor-state; default favors local)",
    )
    ap.add_argument(
        "--empty",
        action="store_true",
        help="dbt --empty: build with LIMIT 0 inputs — full compile, "
        "materialization, and contract checks, zero data volume",
    )
    ap.add_argument(
        "--full-refresh",
        dest="full_refresh",
        action="store_true",
        help="run: incremental models rebuild from scratch (dbt "
        "--full-refresh); clone: re-clone over existing local relations",
    )
    ap.add_argument(
        "--limit",
        type=int,
        default=5,
        help="with show: number of preview rows (dbt show --limit)",
    )
    ap.add_argument(
        "--resource-type",
        dest="resource_type",
        choices=["model", "test", "source", "all"],
        default="model",
        help="with ls: which resource class to list (dbt ls --resource-type)",
    )
    ap.add_argument(
        "--vars",
        dest="cli_vars",
        default="{}",
        help="JSON dict of project variables rendered by {{ var('k') }} "
        "(dbt --vars; overrides project defaults)",
    )
    args = ap.parse_args(argv)

    from .runner import Engine

    if spark is None:
        from .session import get_spark

        spark = get_spark("cli")
    eng = Engine(spark, args.warehouse)
    cli_vars: dict = {}
    if args.cli_vars and args.cli_vars != "{}":
        import json as _json

        cli_vars = _json.loads(args.cli_vars)
        if not isinstance(cli_vars, dict):
            print("--vars must be a JSON object")
            return 2

    # sources first (every downstream command resolves refs against them),
    # then the project's model/test registrations
    seeds = _discover_seeds(args.seed_dir)
    if args.command == "seed" and args.select:
        # dbt seed --select: load only the named seeds (comma/space
        # separated names — seeds have no graph edges to expand)
        wanted = {s for tok in args.select.split() for s in tok.split(",") if s}
        unknown = wanted - set(seeds)
        if unknown:
            print(f"unknown seeds: {sorted(unknown)}")
            return 2
        seeds = {k: v for k, v in seeds.items() if k in wanted}
    if seeds:
        eng.seed(seeds)
    _load_project(args.project)(eng)
    # dbt --vars precedence: CLI values override project defaults, so
    # they must land AFTER the project's configure() (which may seed
    # registry.variables with its own vars: block) but before any
    # command compiles a model
    if cli_vars:
        eng.registry.variables.update(cli_vars)

    if args.command == "seed":
        for name in seeds:
            print(f"seeded {name} -> {eng.warehouse_dir}/{name}")
        return 0

    if args.command == "ls":
        names: list[str] = []
        state = eng.load_state(args.state) if args.state else None
        if args.resource_type in ("model", "all"):
            names += eng.ls(args.select, exclude=args.exclude,
                            selector=args.selector, state=state)
        if args.resource_type in ("test", "all"):
            # dbt ls --resource-type test --select S: tests attached to
            # the models S resolves to (tests hang off their model node)
            selected_models = set(
                eng.ls(args.select, exclude=args.exclude,
                       selector=args.selector, state=state)
            )
            names += sorted(
                f"test:{spec.name}" if args.resource_type == "all" else spec.name
                for spec in eng.tests
                if spec.model in selected_models
            )
        if args.resource_type in ("source", "all"):
            # sources sit outside the model graph, so ONLY explicit
            # `source:x` tokens match them (dbt's source: method) —
            # graph-operator forms (`+model`, `tag:x`) and bare model
            # names select models/tests, never sources. A --select with
            # no source: token therefore lists no sources; no --select
            # lists all of them.
            def _source_tokens(arg: str | None) -> set[str] | None:
                if not arg:
                    return None
                return {
                    t.removeprefix("source:")
                    for tok in arg.split()
                    for t in tok.split(",")
                    if t.startswith("source:")
                }

            src_sel = _source_tokens(args.select)
            src_exc = _source_tokens(args.exclude) or set()
            names += sorted(
                f"source:{s}" if args.resource_type == "all" else s
                for s in eng.registry._sources
                if (src_sel is None or s in src_sel) and s not in src_exc
            )
        for name in names:
            print(name)
        return 0

    if args.command == "docs":
        eng.generate_docs(write=True)
        path = os.path.join(eng.warehouse_dir, "docs.json")
        print(f"wrote {path}")
        return 0

    if args.command == "snapshot":
        # dbt snapshot [--select name]: advance (or initialize) the
        # registered SCD-2 history tables; exit 0 on success
        rels = eng.snapshot(args.select)
        if not rels:
            print("no snapshots registered")
        for name, rel in rels.items():
            print(f"snapshotted {name} -> {rel.path}")
        return 0

    if args.command == "source-freshness":
        # dbt source freshness: evaluate every registered contract;
        # exit 1 when any source errors (stale beyond error_after)
        results = eng.check_source_freshness()
        if not results:
            print("no source freshness contracts registered")
            return 0
        worst_error = False
        for name, res in results.items():
            status = res.status.value if hasattr(res.status, "value") else str(res.status)
            age = "n/a" if res.age_seconds is None else f"{res.age_seconds:.0f}s"
            print(f"{status.upper():5s}  {name} (age {age})")
            # dbt exit semantics: WARN prints but passes; ERROR fails
            worst_error = worst_error or status.upper() == "ERROR"
        return 1 if worst_error else 0

    if args.command == "run-operation":
        if not args.operation:
            print("run-operation requires an operation name")
            return 2
        import json as _json

        try:
            result = eng.run_operation(args.operation, **_json.loads(args.op_args))
        except KeyError as exc:
            print(str(exc))
            return 2
        if result is not None:
            print(result)
        return 0

    if args.command == "compile":
        for name, sql in eng.compile(
            args.select, exclude=args.exclude, selector=args.selector
        ).items():
            print(f"-- model: {name}")
            print(sql if sql is not None else "-- (python model, no SQL)")
        return 0

    if args.command == "show":
        if not args.select:
            print("show requires --select <model>")
            return 2
        df = eng.show(args.select, limit=args.limit)
        print(" | ".join(df.columns))
        for r in df.collect():
            print(" | ".join("NULL" if v is None else str(v) for v in r))
        return 0

    if args.command == "clone":
        # dbt clone --state <artifacts>: here the other environment IS
        # its warehouse dir, which --defer already names (same meaning
        # as for slim-CI defer: "resolve relations from over there")
        if not args.defer_wh:
            print("clone requires --defer <other environment's warehouse dir>")
            return 2
        cloned = eng.clone(
            args.defer_wh, select=args.select, exclude=args.exclude,
            selector=args.selector, full_refresh=args.full_refresh,
        )
        if not cloned:
            print("nothing cloned (no artifacts matched, or targets exist)")
        for name, path in cloned.items():
            print(f"cloned {name} -> {path}")
        return 0

    if args.command == "run":
        state = eng.load_state(args.state) if args.state else None
        # dbt run --full-refresh: incremental models discard the standing
        # table and rebuild from this run's batch (Engine reads the flag
        # in _materialize_node's incremental branch)
        eng.full_refresh = args.full_refresh
        rels = eng.run_concurrent(
            args.select, exclude=args.exclude, threads=args.threads,
            state=state, defer=args.defer_wh,
            favor_state=args.favor_state, selector=args.selector,
            empty=args.empty,
        )
        for name, rel in rels.items():
            print(f"built {name} ({rel.materialization})")
        return 0

    # test / build: run models (build scope) then evaluate tests + gate,
    # automate_pipeline.py's run→test→gate flow with dbt exit semantics.
    # The full flag surface dbt build supports is forwarded — selection,
    # --state/--defer/--favor-state, --empty, --threads, --full-refresh
    result = eng.pipeline(
        args.select, exclude=args.exclude, selector=args.selector,
        state=eng.load_state(args.state) if args.state else None,
        defer=args.defer_wh, favor_state=args.favor_state,
        empty=args.empty, threads=args.threads,
        full_refresh=args.full_refresh,
    )
    for t in result.tests:
        status = "PASS" if t.passed else f"FAIL ({t.failures} failing rows)"
        print(f"{status}  {t.name}")
    print(
        f"{'OK' if result.ok else 'FAILED'}: "
        f"{len(result.relations)} models, "
        f"{sum(1 for t in result.tests if t.passed)}/{len(result.tests)} tests passed"
    )
    return 0 if result.ok else 1


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
