"""Pipeline orchestration: seed / run / test with pass-fail gating.

The Spark rendering of the reference's entry points (SURVEY.md §3):
``dbt seed`` → :meth:`Engine.seed`, ``dbt run --select X`` →
:meth:`Engine.run`, ``dbt test --select X`` → :meth:`Engine.test`, and
``automate_pipeline.py``'s build-then-test-with-gating (reference:
automate_pipeline.py:10-26) → :meth:`Engine.pipeline`.

Execution is topological over the ref() DAG, driven by one scheduler
(``Engine._schedule``, dbt's GraphQueue + thread pool): ``threads``
caps how many nodes are in flight, and a freed slot always goes to the
ready node that comes first in topological order — so ``threads=1``
runs the DAG serially in that order, and ``threads>1`` submits
independent subtree writes from concurrent threads into the same
SparkSession, while Spark parallelizes *within* each action. View
models cost nothing until a table/test materializes them.
"""

from __future__ import annotations

import heapq
from collections.abc import Callable, Sequence
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .functions.local_frame import arrow_local_df

from .operators.dq import (
    TestResult,
    TestStatus,
    accepted_values_failures,
    evaluate_test,
    not_null_failures,
    relationship_failures,
    unique_failures,
)
from .plans.materialize import (
    DynamicTable,
    MaterializedRelation,
    clone_table,
    materialize_table,
    materialize_view,
)
from .plans.registry import ModelRegistry
from .sources.seeds import seed_to_parquet


@dataclass
class TestSpec:
    """A declared data-quality test bound to a model (schema.yml analogue)."""

    name: str
    model: str
    builder: Callable[[DataFrame, "Engine"], DataFrame]  # → failing rows
    # int N = legacy "> N"; str = dbt condition grammar ("!=0", ">10" …)
    warn_if: "int | str" = 0
    error_if: "int | str" = 0
    store_failures: bool = False
    fail_calc: str = "count(*)"  # dbt fail_calc config
    limit: int | None = None  # dbt limit config (caps failing rows)


@dataclass
class PipelineResult:
    relations: dict[str, MaterializedRelation]
    tests: list[TestResult]
    built_ok: bool
    tests_ok: bool

    @property
    def ok(self) -> bool:
        return self.built_ok and self.tests_ok


class Engine:
    """Facade over registry + materialization + tests + seeds."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.registry = ModelRegistry(spark)
        self.tests: list[TestSpec] = []
        self.relations: dict[str, MaterializedRelation] = {}
        self.exposures: dict[str, dict] = {}
        self.snapshot_configs: dict[str, dict] = {}
        # dbt grants (model config ``grants: {privilege: [roles]}``):
        # the warehouse-side ACL state per relation, plus an append-only
        # audit of every GRANT/REVOKE the engine issued (what Snowflake
        # would show in its access-history view)
        self.grants_state: dict[str, dict[str, set[str]]] = {}
        self.grants_log: list[tuple[str, str, str, str]] = []
        # dbt selectors.yml: named reusable selector definitions
        self.selectors: dict[str, dict] = {}
        self.default_selector: str | None = None
        # Observation-API metrics captured during each table node's own
        # write action (model config ``observe``): name → {metric: value}
        self.run_metrics: dict[str, dict] = {}

    # -- named selectors (dbt selectors.yml) ---------------------------
    def define_selector(
        self, name: str, definition: str, exclude: str | None = None,
        default: bool = False,
    ) -> None:
        """dbt ``selectors.yml``: a NAMED, reusable selector definition
        (our definition is the same select/exclude grammar the YAML
        compiles down to — unions, intersections, graph walks, tags,
        ``state:``). ``default=True`` mirrors dbt's ``default: true``:
        runs with NO explicit selection use this selector instead of
        the whole project."""
        self.selectors[name] = {"select": definition, "exclude": exclude}
        if default:
            self.default_selector = name

    def _resolve_selection(
        self, select: str | None, exclude: str | None, selector: str | None
    ) -> tuple[str | None, str | None]:
        """Apply dbt's precedence: ``--selector`` is mutually exclusive
        with ``--select``/``--exclude``; with nothing given, the default
        selector (if any) applies."""
        if selector is not None:
            if select is not None or exclude is not None:
                raise ValueError(
                    "selector= is mutually exclusive with select=/exclude= "
                    "(dbt: cannot pass --selector with --select/--exclude)"
                )
            if selector not in self.selectors:
                raise KeyError(
                    f"unknown selector {selector!r} "
                    f"(defined: {sorted(self.selectors)})"
                )
            d = self.selectors[selector]
            return d["select"], d["exclude"]
        if select is None and exclude is None and self.default_selector:
            d = self.selectors[self.default_selector]
            return d["select"], d["exclude"]
        return select, exclude

    # -- exposures (dbt exposures: downstream consumers declared in the
    # DAG so `what breaks if I change X?` is answerable) ----------------
    def register_exposure(
        self,
        name: str,
        depends_on: "Sequence[str]",
        owner: str = "",
        exposure_type: str = "dashboard",
        url: str = "",
    ) -> None:
        """Declare a downstream consumer (dashboard, ML pipeline,
        notebook) of one or more models. Exposures participate in
        impact analysis — ``impacted_exposures('model')`` — and appear
        in the docs manifest, the dbt exposure semantics."""
        missing = [d for d in depends_on if d not in self.registry.models()]
        if missing:
            raise ValueError(f"exposure {name!r} depends on unknown models {missing}")
        self.exposures[name] = {
            "depends_on": sorted(depends_on),
            "owner": owner,
            "type": exposure_type,
            "url": url,
        }

    def impacted_exposures(self, model: str) -> list[str]:
        """Which declared exposures sit downstream of ``model``? The
        impact-analysis query a change review asks before touching a
        shared mart."""
        downstream = self.registry.select(f"{model}+")
        return sorted(
            n
            for n, e in self.exposures.items()
            if any(d in downstream for d in e["depends_on"])
        )

    # -- seeds (dbt seed; SURVEY §3 entry point 2) --------------------
    def seed(self, seeds: dict[str, str], schemas: dict | None = None) -> None:
        for name, csv_path in seeds.items():
            schema = (schemas or {}).get(name)
            df = seed_to_parquet(self.spark, csv_path, self.warehouse_dir, name, schema)
            self.registry.register_source(name, df)

    # -- hooks (dbt pre/post-hook + on-run-start/end; reference:
    # $DBT/dbt/include/global_project/macros/materializations/hooks.sql) --
    def _run_hooks(self, hooks: object) -> None:
        """Execute model/run hooks: SQL strings via ``spark.sql`` (the
        dbt shape), callables with ``(spark, engine)``. A single hook or
        a list both work, mirroring dbt's config normalization."""
        if hooks is None:
            return
        items = hooks if isinstance(hooks, (list, tuple)) else [hooks]
        for h in items:
            if callable(h):
                h(self.spark, self)
            else:
                self.spark.sql(str(h))

    # -- models (dbt run) ---------------------------------------------
    def run(
        self,
        select: str | None = None,
        exclude: str | None = None,
        state: dict | None = None,
        defer: str | None = None,
        favor_state: bool = False,
        selector: str | None = None,
        empty: bool = False,
    ) -> dict[str, MaterializedRelation]:
        """Build the selected models in DAG order.

        ``empty`` is dbt 1.8's ``--empty``: every ref()/source() input
        edge resolves to a LIMIT 0 slice, so each selected model
        compiles, materializes, and contract-checks end-to-end with
        zero data volume — the schema dry run to make before pointing
        the DAG at 100 TB. Relations built this way are empty; rerun
        without ``empty`` for the real backfill.

        ``defer`` is dbt's ``--defer``: a path to ANOTHER environment's
        warehouse (typically prod, alongside the ``state`` manifest used
        for ``state:modified`` selection). Refs from selected models to
        UNSELECTED parents then resolve to an existing artifact instead
        of re-executing upstream lineage — by default the CURRENT
        warehouse's relation wins when one exists (dbt favor-local);
        ``favor_state=True`` (dbt ``--favor-state``) makes the deferred
        environment's artifact always win."""
        return self._schedule(
            select, exclude, selector, state=state, defer=defer,
            favor_state=favor_state, empty=empty,
        )

    def run_concurrent(
        self,
        select: str | None = None,
        exclude: str | None = None,
        threads: int = 4,
        state: dict | None = None,
        defer: str | None = None,
        favor_state: bool = False,
        selector: str | None = None,
        empty: bool = False,
    ) -> dict[str, MaterializedRelation]:
        """:meth:`run` with dbt's node scheduling: up to ``threads``
        independent DAG nodes materialize CONCURRENTLY, and a node
        becomes ready the moment its last selected parent finishes —
        dbt's GraphQueue + ThreadPool executor
        ($DBT/dbt/task/runnable.py:437-440). Spark sessions are
        thread-safe for concurrent job submission — on a real cluster
        this overlaps the cluster-idle gaps between dependent stages,
        which serial execution leaves on the table whenever the DAG has
        parallel branches (each table write uses only its own shuffle's
        worth of executors). When a slot frees, the ready node that
        comes first in :meth:`run`'s topological order starts, so
        ``threads=1`` is exactly :meth:`run`.

        Failure semantics mirror :meth:`run` (fail-fast): the first
        node error propagates; already-running siblings finish, nothing
        new is submitted (use :meth:`run_keep_going` for dbt's
        mark-descendants-skipped mode). Results are identical to a
        serial :meth:`run` — the scheduler only ever reorders nodes the
        DAG declares independent.

        ``defer`` / ``favor_state`` mirror :meth:`run` exactly — a
        threaded slim-CI run resolves unselected parents from the other
        environment's warehouse too (dbt applies --defer uniformly
        regardless of --threads). The armed defer state is read-only
        during the pass, so worker threads share it safely."""
        return self._schedule(
            select, exclude, selector, state=state, defer=defer,
            favor_state=favor_state, empty=empty, threads=threads,
        )

    def _schedule(
        self,
        select: str | None,
        exclude: str | None,
        selector: str | None = None,
        state: dict | None = None,
        defer: str | None = None,
        favor_state: bool = False,
        empty: bool = False,
        threads: int = 1,
        keep_going: bool = False,
        post_step: Callable[[str, MaterializedRelation], str | None] | None = None,
    ) -> dict:
        """The one DAG scheduler behind :meth:`run`,
        :meth:`run_concurrent`, :meth:`run_keep_going` and :meth:`build`.

        At most ``threads`` nodes are in flight; when a slot frees, the
        ready node that comes first in the topological order starts, so
        ``threads=1`` runs nodes one at a time on the calling thread in
        that order. ``post_step(name, rel)`` runs after each node's
        write; a returned message marks the node ``fail``.

        Fail-fast (default): after the first error nothing new starts,
        in-flight nodes finish and are recorded, the error is re-raised
        and ``on_run_end`` does not fire; returns the built relations.
        ``keep_going``: an ``error`` or ``fail`` node's descendants are
        marked ``skipped`` while independent branches build; returns
        :class:`NodeResult` per node, also kept for :meth:`retry`."""
        select, exclude = self._resolve_selection(select, exclude, selector)
        selected = self.registry.select(select, exclude=exclude, state=state)
        self.registry.invalidate()
        order = [
            n
            for n in self.registry.topological_order(
                selected if (select or exclude) else None
            )
            if n in selected
        ]
        rank = {n: i for i, n in enumerate(order)}
        graph = self.registry.graph()
        waiting = {n: {p for p in graph[n] if p in selected} for n in order}
        children: dict[str, list[str]] = {n: [] for n in order}
        for n in order:
            for p in waiting[n]:
                children[p].append(n)
        ready = [rank[n] for n in order if not waiting[n]]  # heap of ranks

        def work(name: str) -> tuple[MaterializedRelation, str | None]:
            rel = self._materialize_node(name)
            return rel, post_step(name, rel) if post_step else None

        built: dict[str, MaterializedRelation] = {}
        results: dict[str, NodeResult] = {}
        failure: Exception | None = None
        running: dict[Future, str] = {}
        if defer is not None:
            self.registry.set_defer(
                defer, selected,
                favor_state=favor_state, local_dir=self.warehouse_dir,
            )
        if empty:
            self.registry.set_empty(True)
        threads = max(threads, 1)
        # a serial run stays on the calling thread: Spark local properties
        # (job group, scheduler pool) are per thread, and run() keeps them
        pool = ThreadPoolExecutor(max_workers=threads) if threads > 1 else None
        try:
            self._run_hooks(getattr(self, "on_run_start", None))
            while running or (ready and failure is None):
                while ready and len(running) < threads and failure is None:
                    name = order[heapq.heappop(ready)]
                    fut = pool.submit(work, name) if pool else _call_now(work, name)
                    running[fut] = name
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in sorted(done, key=lambda f: rank[running[f]]):
                    name = running.pop(fut)
                    try:
                        rel, failed = fut.result()
                    except Exception as exc:
                        if not keep_going:
                            failure = failure or exc
                        results[name] = NodeResult(
                            name, "error", f"{type(exc).__name__}: {exc}"[:200]
                        )
                        continue
                    built[name] = self.relations[name] = rel
                    if failed:
                        results[name] = NodeResult(name, "fail", failed[:200])
                        continue
                    results[name] = NodeResult(name, "success", None)
                    for c in children[name]:
                        waiting[c].discard(name)
                        if not waiting[c]:
                            heapq.heappush(ready, rank[c])
        finally:
            if pool is not None:
                pool.shutdown()
            if defer is not None:
                self.registry.clear_defer()
            if empty:
                # disarm AND drop memoized empty frames — a later real
                # run must rebuild, never consume a dry-run slice
                self.registry.clear_empty()
                self.registry.invalidate()
        if failure is not None:
            raise failure
        self._run_hooks(getattr(self, "on_run_end", None))
        if not keep_going:
            return {n: built[n] for n in order if n in built}
        # nodes never dispatched sit below a failure; dbt keeps this
        # run-results artifact so `dbt retry` replays errored/skipped nodes
        results = {n: results.get(n, NodeResult(n, "skipped", None)) for n in order}
        self._last_run_results = dict(results)
        return results

    def register_operation(self, name: str, fn: Callable) -> None:
        """Register a named operation (dbt macro analogue) invocable via
        :meth:`run_operation` / CLI ``run-operation``. The callable
        receives the Engine as its first argument plus the invocation's
        keyword args — the shape dbt macros get via context."""
        if not hasattr(self, "_operations"):
            self._operations: dict[str, Callable] = {}
        self._operations[name] = fn

    def run_operation(self, name: str, **kwargs):
        """dbt ``run-operation``: invoke a registered operation by name
        with keyword args (dbt ``--args`` dict). Raises KeyError listing
        the known operations when the name is unknown — the compile-time
        error dbt gives for an unknown macro."""
        ops = getattr(self, "_operations", {})
        if name not in ops:
            raise KeyError(
                f"no operation named {name!r}; registered: {sorted(ops)}"
            )
        return ops[name](self, **kwargs)

    def compile(
        self,
        select: str | None = None,
        exclude: str | None = None,
        selector: str | None = None,
    ) -> dict[str, str | None]:
        """dbt ``compile``: the selected models' SQL with refs and vars
        rendered, nothing executed. Python models map to None."""
        select, exclude = self._resolve_selection(select, exclude, selector)
        selected = self.registry.select(select, exclude=exclude)
        order = self.registry.topological_order(
            selected if (select or exclude) else None
        )
        return {
            n: self.registry.compile_sql(n) for n in order if n in selected
        }

    def show(self, model: str, limit: int = 5) -> DataFrame:
        """dbt ``show``: build (or reuse the memoized build of) one model
        and return its first ``limit`` rows as a bounded DataFrame — the
        preview surface; the LIMIT folds into the plan, so a preview of
        a 100 TB model reads only what the limit needs.

        ``model`` accepts the same selection grammar as every other
        command (``+model``, ``tag:x`` …) but must resolve to EXACTLY
        one model — dbt show previews a single relation."""
        if limit <= 0:
            raise ValueError(f"limit must be positive, got {limit}")
        if model not in self.registry._models:
            # graph selector: resolve, then require a unique match
            matched = sorted(self.registry.select(model))
            if len(matched) != 1:
                raise ValueError(
                    f"show needs exactly one model; {model!r} matched "
                    f"{len(matched)}: {matched[:10]}"
                )
            model = matched[0]
        return self.registry.build(model).limit(limit)

    def clone(
        self,
        state_warehouse: str,
        select: str | None = None,
        exclude: str | None = None,
        selector: str | None = None,
        full_refresh: bool = False,
    ) -> dict[str, str]:
        """dbt ``clone`` task (dbt-core 1.6, ``dbt/task/clone.py`` shape):
        copy the selected relations from ANOTHER environment's warehouse
        into this one WITHOUT executing any model SQL — each persisted
        artifact is zero-copy cloned (hardlinked parquet, Snowflake
        ``CREATE TABLE … CLONE`` pointer semantics via
        :func:`clone_table`). The standard use is seeding a dev/CI
        schema from prod in seconds: at 100 TB nothing moves but
        directory entries.

        dbt semantics kept faithfully: nodes with no artifact in the
        state environment are skipped (views/ephemerals have nothing to
        clone); an existing local relation is left untouched unless
        ``full_refresh=True`` (dbt ``--full-refresh`` re-clones over it).
        Returns ``{model: cloned_path}`` for what was actually cloned;
        cloned relations register as refs for subsequent runs/tests.
        """
        import os
        import shutil

        select, exclude = self._resolve_selection(select, exclude, selector)
        selected = self.registry.select(select, exclude=exclude)
        cloned: dict[str, str] = {}
        for name in sorted(selected):
            src = os.path.join(state_warehouse, name)
            if not os.path.isdir(src):
                continue  # no persisted artifact in the state environment
            dst = os.path.join(self.warehouse_dir, name)
            if os.path.exists(dst):
                if not full_refresh:
                    continue  # dbt clone: existing relations win
                shutil.rmtree(dst)
            clone_table(src, dst)
            df = self.spark.read.parquet(dst)
            df.createOrReplaceTempView(name)
            rel = MaterializedRelation(name, "table", dst, df)
            self.relations[name] = rel
            self.registry._built[name] = df
            cloned[name] = dst
        return cloned

    def _materialize_node(self, name: str) -> MaterializedRelation:
        """Build + materialize ONE model (pre-hook → build → write →
        post-hook), memoizing the built frame so children consume the
        WRITTEN relation for table-like materializations."""
        model = self.registry.models()[name]
        self._run_hooks(model.config.get("pre_hook"))
        df = self.registry.build(name)
        contract = model.config.get("contract")
        if contract:
            self._enforce_contract(name, df, contract)
        observation = None
        observe_spec = model.config.get("observe")
        if observe_spec and model.materialized == "table":
            # Pipeline instrumentation via Spark's Observation API: the
            # declared metrics are computed AS A SIDE EFFECT of the
            # materialization's own write action — accumulator-backed,
            # so a 100 TB model gets row counts / sums / null tallies
            # with ZERO additional scan (vs dbt shops re-querying the
            # built relation for audit counts). Only table-like nodes
            # observe: a view has no action of its own to piggyback.
            from pyspark.sql import Observation

            import uuid as _uuid

            observation = Observation(f"__obs_{name}_{_uuid.uuid4().hex[:8]}")
            df = df.observe(
                observation, *[c.alias(k) for k, c in observe_spec.items()]
            )
        if model.materialized == "table":
            rel = materialize_table(
                self.spark,
                name,
                df,
                self.warehouse_dir,
                partition_by=tuple(model.config.get("partition_by", ())),
            )
            # downstream consumers read the *written* table, like a
            # warehouse CTAS (and so does the memoized registry entry)
            self.registry._built[name] = rel.df
        elif model.materialized == "incremental":
            # dbt `materialized='incremental'`: the model body yields
            # THIS run's batch; the engine merges it into the standing
            # table per the configured strategy (B1)
            from .operators.incremental import IncrementalTable

            import os

            t = IncrementalTable(
                self.spark,
                os.path.join(self.warehouse_dir, name),
                tuple(model.config.get("partition_by", ())),
            )
            out_df = t.apply(
                df,
                strategy=model.config.get("strategy", "merge"),
                unique_key=tuple(model.config.get("unique_key", ())),
                dedupe_order=model.config.get("dedupe_order"),
                event_time=model.config.get("event_time"),
                full_refresh=bool(getattr(self, "full_refresh", False)),
                on_schema_change=model.config.get("on_schema_change", "ignore"),
                incremental_predicates=model.config.get(
                    "incremental_predicates", ()
                ),
                merge_update_columns=model.config.get(
                    "merge_update_columns", ()
                ),
                merge_exclude_columns=model.config.get(
                    "merge_exclude_columns", ()
                ),
            )
            out_df.createOrReplaceTempView(name)
            rel = MaterializedRelation(name, "incremental", t.path, out_df)
            self.registry._built[name] = out_df
        elif model.materialized == "dynamic_table":
            # B3: the model body yields a STREAMING DataFrame; each run
            # refreshes the standing table (durable `checkpoint` config
            # = incremental TARGET_LAG refresh; absent = full refresh)
            import os

            dt = DynamicTable(
                self.spark,
                os.path.join(self.warehouse_dir, name),
                list(model.config.get("unique_key", ())),
                tuple(model.config.get("partition_by", ())),
            )
            dt.refresh(df, checkpoint=model.config.get("checkpoint"))
            out_df = dt.read()
            out_df.createOrReplaceTempView(name)
            rel = MaterializedRelation(name, "dynamic_table", dt.path, out_df)
            self.registry._built[name] = out_df
        elif model.materialized == "ephemeral":
            rel = MaterializedRelation(name, "ephemeral", None, df)
        else:
            rel = materialize_view(name, df)
        if observation is not None:
            # the write above was the action; get() returns immediately
            self.run_metrics[name] = dict(observation.get)
        self._run_hooks(model.config.get("post_hook"))
        self._apply_grants(name, model.config.get("grants"))
        return rel

    # -- grants (dbt model config ``grants:``; reference behavior:
    # dbt-core apply_grants macro — show grants on the relation, diff
    # against the config, issue only the delta of GRANT/REVOKE) --------
    def _apply_grants(self, name: str, grants: dict | None) -> None:
        """Reconcile the relation's ACL with the model's ``grants``
        config. dbt semantics: the config is AUTHORITATIVE — roles
        granted in a previous run but absent from the config now are
        REVOKED (dbt only skips revokes under ``copy_grants``, out of
        scope for a parquet warehouse). Only the delta is issued, and
        every issued statement lands in ``grants_log`` so a run is
        auditable. A model with no grants config keeps whatever state
        it has (dbt: grants unmanaged unless configured)."""
        if grants is None:
            return
        current = self.grants_state.setdefault(name, {})
        for priv in sorted(set(grants) | set(current)):
            want = set(grants.get(priv, ()))
            have = current.get(priv, set())
            for role in sorted(want - have):
                self.grants_log.append((name, "grant", priv, role))
            for role in sorted(have - want):
                self.grants_log.append((name, "revoke", priv, role))
            if want:
                current[priv] = want
            else:
                current.pop(priv, None)

    def read_as(self, role: str, model: str) -> DataFrame:
        """Privilege-checked read: the governance surface a warehouse
        enforces server-side. Raises ``PermissionError`` unless ``role``
        holds ``select`` on the relation (or the relation's grants are
        unmanaged, which a parquet warehouse treats as open — matching
        dbt, where unconfigured grants are whatever the warehouse
        already had)."""
        acl = self.grants_state.get(model)
        if acl is not None and "select" in acl and role not in acl["select"]:
            raise PermissionError(
                f"role {role!r} lacks select on {model!r} "
                f"(granted: {sorted(acl['select'])})"
            )
        return self.registry.build(model)

    def grants_audit(self) -> DataFrame:
        """The GRANT/REVOKE audit as a DataFrame (deterministic order:
        issue sequence)."""
        from pyspark.sql.types import (
            IntegerType,
            StringType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("seq", IntegerType(), False),
                StructField("model", StringType(), False),
                StructField("action", StringType(), False),
                StructField("privilege", StringType(), False),
                StructField("role", StringType(), False),
            ]
        )
        rows = [(i, *e) for i, e in enumerate(self.grants_log)]
        return arrow_local_df(self.spark, rows, schema)

    @staticmethod
    def _enforce_contract(name: str, df: DataFrame, contract: dict) -> None:
        """dbt model contracts (``contract: {enforced: true}`` +
        declared columns): the model's ACTUAL schema must match the
        declared column names and types exactly — order-insensitive,
        no undeclared extras, no missing declarations, no type drift —
        and the build fails BEFORE anything materializes (dbt-core
        contract enforcement: compiled-schema vs yaml-declared columns).
        ``contract`` shape: ``{"columns": {name: ddl_type, ...}}``
        (plus optional ``enforced: False`` to register without
        checking)."""
        if contract.get("enforced", True) is False:
            return
        declared = {
            c: str(t).strip().lower()
            for c, t in dict(contract.get("columns", {})).items()
        }
        actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        missing = sorted(set(declared) - set(actual))
        extra = sorted(set(actual) - set(declared))
        drift = sorted(
            f"{c}: declared {declared[c]}, got {actual[c]}"
            for c in set(declared) & set(actual)
            if declared[c] != actual[c]
        )
        if missing or extra or drift:
            raise ValueError(
                f"contract violation on model {name!r}: "
                f"missing={missing} undeclared={extra} type_drift={drift}"
            )

    # -- snapshots (dbt snapshot: B2 orchestration over the SCD-2
    # operators — register configs, then each `snapshot()` run either
    # initializes the history table or advances it with the current
    # source batch and republishes atomically) ------------------------
    def register_snapshot(
        self,
        name: str,
        source: str | Callable,
        key: Sequence[str],
        strategy: str = "timestamp",
        updated_at: str | None = None,
        check_cols: Sequence[str] | None = None,
        hard_deletes: str = "ignore",
    ) -> None:
        """Declare a snapshot, dbt's ``snapshots/*.sql`` block: ``source``
        is a registered model/source name (rebuilt fresh each run) or a
        callable ``(spark, engine) -> DataFrame``; the remaining config
        mirrors dbt's (strategy/updated_at/check_cols/hard_deletes) and
        is validated lazily by snapshot_apply."""
        self.snapshot_configs[name] = {
            "source": source,
            "key": list(key),
            "strategy": strategy,
            "updated_at": updated_at,
            "check_cols": list(check_cols) if check_cols else None,
            "hard_deletes": hard_deletes,
        }

    def snapshot(
        self,
        select: str | None = None,
        snapshot_time=None,
    ) -> dict[str, MaterializedRelation]:
        """Run registered snapshots (all, or one by name via ``select``),
        the ``dbt snapshot`` command:

        - first run: every source row becomes an open SCD-2 version
          (``snapshot_init``; valid_from = ``updated_at`` for the
          timestamp strategy, ``snapshot_time`` for check);
        - later runs: read the standing history table from the
          warehouse, advance it with ``snapshot_apply`` (closing
          changed/deleted versions, inserting new ones), and republish.

        The publish is the shared tmp-write → atomic-swap, and the new
        history is fully computed into the tmp dir BEFORE the swap, so
        a crash mid-run leaves the previous history intact and a
        re-run simply advances from it (idempotent when the source
        hasn't changed). State lives only in the warehouse — a fresh
        Engine pointed at the same directory continues the history.
        """
        import os
        from datetime import datetime, timezone

        if snapshot_time is None:
            # dbt stamps snapshots with the run's wall clock; pass an
            # explicit snapshot_time for deterministic backfills/tests
            snapshot_time = datetime.now(timezone.utc).strftime(
                "%Y-%m-%d %H:%M:%S"
            )
        configs = self.snapshot_configs
        if select is not None:
            if select not in configs:
                raise ValueError(f"unknown snapshot: {select!r}")
            configs = {select: configs[select]}
        from .operators.snapshots import snapshot_apply, snapshot_init

        out: dict[str, MaterializedRelation] = {}
        for name, cfg in configs.items():
            src = cfg["source"]
            src_df = (
                self.registry.build(src)
                if isinstance(src, str)
                else src(self.spark, self)
            )
            path = os.path.join(self.warehouse_dir, name)
            if os.path.exists(path):
                standing = self.spark.read.parquet(path)
                advanced = snapshot_apply(
                    standing,
                    src_df,
                    cfg["key"],
                    strategy=cfg["strategy"],
                    updated_at=cfg["updated_at"],
                    check_cols=cfg["check_cols"],
                    snapshot_time=snapshot_time,
                    hard_deletes=cfg["hard_deletes"],
                )
            else:
                vf = (
                    F.col(cfg["updated_at"])
                    if cfg["updated_at"]
                    else F.lit(snapshot_time).cast("timestamp")
                )
                advanced = snapshot_init(src_df, cfg["key"], vf)
            rel = materialize_table(self.spark, name, advanced, self.warehouse_dir)
            self.registry.register_source(name, rel.df)
            self.relations[name] = rel
            out[name] = rel
        return out

    # -- tests (dbt test) ---------------------------------------------
    def unit_test(
        self,
        model: str,
        given: dict[str, DataFrame],
        expect: DataFrame,
        name: str | None = None,
    ) -> "TestResult":
        """dbt 1.8 unit test (``unit_tests:`` schema: ``given`` fixture
        inputs + ``expect`` output rows): compile ``model`` with its
        inputs mocked by the fixtures
        (:meth:`~..plans.registry.ModelRegistry.build_with_mocks`),
        then verdict via the B6 symmetric multiset diff — pass iff the
        model's output over the fixtures equals ``expect`` EXACTLY
        (duplicates counted). Runs at fixture scale in milliseconds no
        matter how large the real inputs are — the point of unit tests
        vs data tests."""
        from .operators.dq import evaluate_unit_test

        actual = self.registry.build_with_mocks(model, given)
        return evaluate_unit_test(name or f"unit_{model}", actual, expect)

    def add_test(self, spec: TestSpec) -> None:
        self.tests.append(spec)

    def test_unique(self, model: str, column: str, **kw) -> None:
        self.add_test(TestSpec(f"unique_{model}_{column}", model,
                               lambda df, _e: unique_failures(df, column), **kw))

    def test_not_null(self, model: str, column: str, **kw) -> None:
        self.add_test(TestSpec(f"not_null_{model}_{column}", model,
                               lambda df, _e: not_null_failures(df, column), **kw))

    def test_relationships(self, model: str, column: str, to: str, fieldname: str, **kw) -> None:
        def build(df: DataFrame, eng: "Engine") -> DataFrame:
            parent = eng.registry.build(to)
            return relationship_failures(df, column, parent, fieldname)

        self.add_test(TestSpec(f"relationships_{model}_{column}__{to}", model, build, **kw))

    def test_accepted_values(self, model: str, column: str, values: Sequence, **kw) -> None:
        self.add_test(TestSpec(f"accepted_values_{model}_{column}", model,
                               lambda df, _e: accepted_values_failures(df, column, values), **kw))

    def test_singular(self, name: str, model: str,
                      predicate: Callable[[DataFrame], DataFrame], **kw) -> None:
        self.add_test(TestSpec(name, model, lambda df, _e: predicate(df), **kw))

    def test(
        self,
        select: str | None = None,
        exclude: str | None = None,
        state: dict | None = None,
        selector: str | None = None,
    ) -> list[TestResult]:
        select, exclude = self._resolve_selection(select, exclude, selector)
        selected = self.registry.select(select, exclude=exclude, state=state)
        return [
            self._evaluate_spec(spec, self.registry.build(spec.model))
            for spec in self.tests
            if spec.model in selected
        ]

    def _evaluate_spec(self, spec: TestSpec, df: DataFrame) -> TestResult:
        """One declared test over its model's frame: the failing rows
        (stored under ``_test_failures/<name>`` when ``store_failures``
        is set), then the warn/error verdict under ``fail_calc`` and
        ``limit``. Shared by :meth:`test` and :meth:`build`."""
        store = (
            f"{self.warehouse_dir}/_test_failures/{spec.name}"
            if spec.store_failures
            else None
        )
        return evaluate_test(
            spec.name, spec.builder(df, self), spec.warn_if, spec.error_if,
            store, fail_calc=spec.fail_calc, limit=spec.limit,
        )

    # -- keep-going run (dbt's default node scheduling: a failed node
    # marks its DESCENDANTS skipped but unrelated subtrees still build;
    # $DBT/dbt/task/runnable.py:437-440 + graph/queue.py semantics) ----
    def run_keep_going(
        self, select: str | None = None, exclude: str | None = None
    ) -> dict[str, "NodeResult"]:
        """Like :meth:`run` but a node failure doesn't abort the
        invocation: the failed node records its error, every transitive
        descendant is marked ``skipped``, and independent branches keep
        building. Returns per-node status — the dbt run-results shape
        (also retained for :meth:`retry`)."""
        return self._schedule(select, exclude, keep_going=True)

    def build(
        self, select: str | None = None, exclude: str | None = None,
        selector: str | None = None,
    ) -> dict[str, "NodeResult"]:
        """``dbt build``: INTERLEAVED materialize-then-test per node, in
        DAG order — the key difference from :meth:`pipeline`'s
        run-everything-then-test-everything: each node's tests run
        IMMEDIATELY after it materializes, and a failure (build error OR
        failing test) marks every transitive descendant ``skipped``
        before it can consume bad data. Independent branches keep going.
        This is dbt-core's build task semantics (tests as first-class
        DAG nodes gating their model's children). Statuses: ``success``
        / ``error`` (the build or a test's evaluation raised) / ``fail``
        (a test failed) / ``skipped``."""

        def gate(name: str, rel: MaterializedRelation) -> str | None:
            failed = []
            for spec in self.tests:
                if spec.model != name:
                    continue
                res = self._evaluate_spec(spec, rel.df)
                if res.status == TestStatus.ERROR:
                    failed.append(f"{spec.name} ({res.failures} failing rows)")
            return "; ".join(failed) or None

        return self._schedule(
            select, exclude, selector, keep_going=True, post_step=gate
        )

    def retry(self) -> dict[str, "NodeResult"]:
        """``dbt retry``: re-run exactly the nodes the previous
        :meth:`run_keep_going` or :meth:`build` left ``error`` or
        ``skipped`` — completed successes are not rebuilt (dbt-core
        task/retry.py semantics, driven by the retained run-results).
        The replay is a :meth:`run_keep_going` of that subset. Returns
        the new per-node results and folds them into the retained
        artifact so ``retry()`` can be chained until green."""
        last = getattr(self, "_last_run_results", None)
        if not last:
            raise ValueError("retry() requires a prior run_keep_going() or build()")
        redo = sorted(
            n for n, r in last.items() if r.status in ("error", "skipped")
        )
        if not redo:
            return {}
        results = self.run_keep_going(select=" ".join(redo))
        merged = dict(last)
        merged.update(results)
        self._last_run_results = merged
        return results

    # -- full pipeline with gating (automate_pipeline.py:10-26) -------
    def pipeline(
        self,
        select: str | None = None,
        exclude: str | None = None,
        selector: str | None = None,
        state: dict | None = None,
        defer: str | None = None,
        favor_state: bool = False,
        empty: bool = False,
        threads: int = 1,
        full_refresh: bool = False,
    ) -> PipelineResult:
        """run-then-test with the full ``dbt build`` flag surface:
        selection (incl. named selectors and state:modified), --defer/
        --favor-state, --empty dry runs, --threads concurrency, and
        --full-refresh — the same knobs :meth:`run` takes, so the CLI
        build/test commands don't silently drop them."""
        prev_fr = getattr(self, "full_refresh", False)
        self.full_refresh = full_refresh or prev_fr
        try:
            relations = self.run_concurrent(
                select, exclude, threads, state=state, defer=defer,
                favor_state=favor_state, selector=selector, empty=empty,
            )
        finally:
            self.full_refresh = prev_fr
        tests = self.test(select, exclude=exclude, state=state, selector=selector)
        tests_ok = all(t.status != TestStatus.ERROR for t in tests)
        return PipelineResult(relations, tests, built_ok=True, tests_ok=tests_ok)

    # -- node listing (dbt ls) ----------------------------------------
    def ls(
        self,
        select: str | None = None,
        exclude: str | None = None,
        state: dict | None = None,
        selector: str | None = None,
    ) -> list[str]:
        """``dbt ls``: resolve a selector to the sorted node list without
        building anything — the dry-run answer to "what would this
        selector touch?" (same grammar as run/test, including
        state:modified against a saved manifest)."""
        select, exclude = self._resolve_selection(select, exclude, selector)
        return sorted(self.registry.select(select, exclude=exclude, state=state))

    # -- state artifacts (dbt --state / slim CI) ----------------------
    def write_state(self, path: str | None = None) -> str:
        """Persist model definition checksums — the ``--state`` artifact
        a later invocation's ``state:modified`` selection compares
        against (dbt slim-CI workflow: save on main, select against it
        in CI)."""
        import json
        import os

        path = path or os.path.join(self.warehouse_dir, "state.json")
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            # per-aspect detail (body/configs/contract/relation/all) so a
            # later run can use dbt's state:modified.<aspect>
            # sub-selectors; legacy flat manifests still load (the
            # selector falls back to the combined checksum)
            json.dump(
                self.registry.checksums_detail(), fh, indent=1, sort_keys=True
            )
        return path

    def load_state(self, path: str | None = None) -> dict:
        import json
        import os

        path = path or os.path.join(self.warehouse_dir, "state.json")
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)

    # -- source freshness (dbt source freshness; dbt-core
    # dbt/task/freshness.py semantics: max(loaded_at) age vs
    # warn_after/error_after) --------------------------------------------
    def register_source_freshness(
        self,
        source: str,
        loaded_at_field: str,
        warn_after_seconds: float,
        error_after_seconds: float,
    ) -> None:
        """Declare a source's freshness contract (dbt sources-yml
        ``freshness:`` + ``loaded_at_field``), consumed by
        :meth:`check_source_freshness` / CLI ``source-freshness``."""
        if not hasattr(self, "_freshness_specs"):
            self._freshness_specs: dict[str, tuple] = {}
        self._freshness_specs[source] = (
            loaded_at_field, warn_after_seconds, error_after_seconds,
        )

    def check_source_freshness(self, as_of=None) -> dict[str, "FreshnessResult"]:
        """dbt ``source freshness`` task: evaluate every registered
        freshness contract. ``as_of`` defaults to now(UTC) — pass an
        explicit anchor for deterministic tests."""
        import datetime as _dt

        if as_of is None:
            as_of = _dt.datetime.now(tz=_dt.timezone.utc)
        out: dict[str, FreshnessResult] = {}
        for source, (field, warn_s, err_s) in sorted(
            getattr(self, "_freshness_specs", {}).items()
        ):
            out[source] = self.source_freshness(
                source, field, warn_s, err_s, as_of=as_of
            )
        return out

    def source_freshness(
        self,
        source: str,
        loaded_at_field: str,
        warn_after_seconds: float,
        error_after_seconds: float,
        as_of: "object" = None,
    ) -> "FreshnessResult":
        """Distributed freshness probe: one MAX aggregate over the
        source's loaded-at column (parquet scans answer it from footer
        stats — no full read), age measured against ``as_of``.

        ``as_of`` is explicit rather than wall-clock so the check is
        deterministic and testable; pass ``datetime.now(tz=UTC)`` in
        production."""
        import datetime as _dt

        df = self.registry.source(source)
        row = df.agg(F.max(F.col(loaded_at_field)).alias("max_loaded_at")).first()
        max_loaded = row["max_loaded_at"]
        if as_of is None:
            raise ValueError("source_freshness requires an explicit as_of")
        if max_loaded is None:
            return FreshnessResult(source, None, None, TestStatus.ERROR)
        anchor = as_of
        if isinstance(max_loaded, _dt.datetime):
            # naive/aware may mismatch in EITHER direction: parquet
            # timestamps usually collect naive, but TIMESTAMP-with-tz
            # sources under a tz-aware session return aware datetimes.
            # Normalize symmetrically (strip tz from whichever side has
            # it when the other lacks it) so the subtraction never
            # raises TypeError.
            ml_aware = max_loaded.tzinfo is not None
            ao_aware = getattr(as_of, "tzinfo", None) is not None
            if ml_aware and not ao_aware:
                max_loaded = max_loaded.replace(tzinfo=None)
            elif ao_aware and not ml_aware:
                anchor = as_of.replace(tzinfo=None)
        age = (anchor - max_loaded).total_seconds()
        if age > error_after_seconds:
            status = TestStatus.ERROR
        elif age > warn_after_seconds:
            status = TestStatus.WARN
        else:
            status = TestStatus.PASS
        return FreshnessResult(source, max_loaded, age, status)

    # -- docs generation (dbt docs generate; dbt/task/docs/generate.py
    # manifest shape: nodes, columns, depends_on, tests) -----------------
    def generate_docs(self, write: bool = True) -> dict:
        """Manifest-style documentation: every model with its
        materialization, config, ref DAG edges, column names/dtypes
        (from the analyzed plan — no execution), plus declared tests
        and sources. Optionally written to ``<warehouse>/docs.json``."""
        import json
        import os

        models_doc: dict[str, dict] = {}
        for name, model in self.registry.models().items():
            try:
                schema = [
                    {"name": f.name, "dtype": f.dataType.simpleString()}
                    for f in self.registry.build(name).schema.fields
                ]
            except Exception as exc:  # unresolvable model still documents
                schema = [{"error": str(exc)[:120]}]
            models_doc[name] = {
                "materialized": model.materialized,
                "depends_on": sorted(self.registry.graph().get(name, ())),
                "tags": list(model.tags),
                "config": {
                    k: v
                    for k, v in model.config.items()
                    if isinstance(v, (str, int, float, bool, list, tuple))
                },
                "columns": schema,
            }
        manifest = {
            "models": models_doc,
            "exposures": self.exposures,
            "sources": sorted(self.registry._sources),
            "tests": [
                {"name": t.name, "model": t.model,
                 "severity": {"warn_if": t.warn_if, "error_if": t.error_if},
                 "store_failures": t.store_failures}
                for t in self.tests
            ],
            # dbt 1.5 model versions: base name → latest + concrete nodes
            "versions": {
                base: {
                    "latest": meta["latest"],
                    "versions": dict(meta["versions"]),
                    "deprecation": dict(meta["deprecation"]),
                }
                for base, meta in self.registry._versions.items()
            },
            # grants as currently applied (config-authoritative state)
            "grants": {
                m: {p: sorted(roles) for p, roles in acl.items()}
                for m, acl in self.grants_state.items()
            },
            "selectors": {
                **self.selectors,
                **({"__default__": self.default_selector}
                   if self.default_selector else {}),
            },
        }
        if write:
            path = os.path.join(self.warehouse_dir, "docs.json")
            os.makedirs(self.warehouse_dir, exist_ok=True)
            with open(path, "w", encoding="utf-8") as fh:
                json.dump(manifest, fh, indent=1, sort_keys=True)
        return manifest


def _call_now(fn: Callable, *args) -> Future:
    """Run ``fn`` on the calling thread and return its outcome as a
    completed future — the scheduler's dispatch when ``threads=1``."""
    fut: Future = Future()
    try:
        fut.set_result(fn(*args))
    except Exception as exc:
        fut.set_exception(exc)
    return fut


@dataclass
class NodeResult:
    """Per-node outcome of :meth:`Engine.run_keep_going` and
    :meth:`Engine.build`."""

    node: str
    status: str  # success | error | skipped, and fail (build: a test failed)
    error: str | None


@dataclass
class FreshnessResult:
    """``dbt source freshness`` verdict for one source."""

    source: str
    max_loaded_at: "object"
    age_seconds: float | None
    status: TestStatus

    @property
    def fresh(self) -> bool:
        return self.status == TestStatus.PASS
