"""Model registry: a DAG of named relations linked by ``ref()``.

Spark-first re-expression of the reference runtime's parse→manifest→graph→
compile lifecycle (dbt-core: ManifestLoader ``dbt/parser/manifest.py:238``,
``Compiler.compile``/``link_graph`` ``dbt/compilation.py:676,190-220``,
``GraphQueue`` ``dbt/graph/queue.py:20``). Instead of compiling Jinja to SQL
text for a remote warehouse, a model here is either

- a Python function ``fn(ctx) -> DataFrame`` that calls ``ctx.ref(name)``
  to pull parent DataFrames, or
- a Spark SQL string using ``{{ ref('name') }}`` placeholders, resolved by
  substituting the parent's registered temp-view name.

Unresolvable refs are a compile-time error (the reference's broken
``ref('stg_customers')`` at models/marts/schema.yml:18 motivates this —
see SURVEY.md §3 note). Cycles are detected before execution, matching
dbt's ``link_graph`` cycle check.

At 100 TB the registry itself is trivially cheap (driver-side metadata
only); execution parallelism comes from Spark's scheduler, not from
running DAG nodes on threads — Catalyst fuses view-materialized parents
into children, so a chain of staging views compiles into ONE distributed
plan with pushdown through every layer.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import CycleError as _GraphCycleError
from graphlib import TopologicalSorter
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class CompilationError(Exception):
    """Base class for registry compile-time errors."""


class RefNotFoundError(CompilationError):
    """A model references a node that does not exist (first-class error;
    mirrors dbt's 'depends on a node named X which was not found')."""


class CycleError(CompilationError):
    """The ref() graph contains a cycle (dbt: compilation.py:190-220)."""


_REF_RE = re.compile(
    r"\{\{\s*ref\(\s*['\"]([A-Za-z0-9_.]+)['\"]"
    r"(?:\s*,\s*(?:v|version)\s*=\s*(\d+))?\s*\)\s*\}\}"
)
# Opens a {{ var('name' ... }} call; the optional default is parsed by a
# small scanner (ModelRegistry._render_vars), not the regex — a quoted
# default may contain ')' or ',' (e.g. {{ var('x', '(a)') }}), which no
# paren-free capture group can delimit.
_VAR_OPEN_RE = re.compile(
    r"\{\{\s*(var|env_var)\(\s*(['\"])([A-Za-z0-9_]+)\2\s*"
)
_VAR_CLOSE_RE = re.compile(r"\s*\)\s*\}\}")
# Bare env_var name scan for state checksums: a model whose SQL reads an
# environment variable must change checksum when that variable's VALUE
# changes (dbt-core tracks manifest.env_vars for exactly this —
# state:modified picks up env drift, not just SQL edits)
_ENV_NAME_RE = re.compile(r"env_var\(\s*['\"]([A-Za-z0-9_]+)['\"]")
# dbt-core: DBT_ENV_SECRET_* values are allowed only in connection and
# package config, NEVER in model SQL (they would leak into compiled
# artifacts and logs); rendering one in a model is a compile-time error
_ENV_SECRET_PREFIX = "DBT_ENV_SECRET_"


@dataclass
class Model:
    """One node of the DAG.

    ``builder`` is either a Spark SQL string with ``{{ ref('x') }}``
    placeholders or a callable ``fn(ctx) -> DataFrame``.
    ``materialized`` is one of ``view`` / ``table`` / ``ephemeral`` /
    ``incremental`` (see plans/materialize.py).
    """

    name: str
    builder: str | Callable[["ModelContext"], DataFrame]
    materialized: str = "view"
    depends_on: tuple[str, ...] = ()
    tags: tuple[str, ...] = ()
    config: dict[str, Any] = field(default_factory=dict)

    def static_ref_pairs(self) -> tuple[tuple[str, int | None], ...]:
        """Statically extract ``(ref_name, pinned_version | None)`` edges
        (dbt uses the Rust dbt_extractor at dbt/parser/models.py:28,414; a
        regex suffices for our grammar). ``{{ ref('m', v=2) }}`` is dbt
        1.5+ model-version pinning; an unpinned ref to a versioned model
        resolves to its latest version at the registry layer."""
        if isinstance(self.builder, str):
            pairs = [
                (nm, int(ver) if ver else None)
                for nm, ver in _REF_RE.findall(self.builder)
            ]
            return tuple(dict.fromkeys(pairs))
        return tuple((p, None) for p in self.depends_on)

    def static_refs(self) -> tuple[str, ...]:
        return tuple(dict.fromkeys(nm for nm, _ in self.static_ref_pairs()))


class ModelContext:
    """What a Python-function model sees: ``ctx.ref(name)`` and the session."""

    def __init__(self, registry: "ModelRegistry", spark: SparkSession, consumer: str):
        self._registry = registry
        self.spark = spark
        self._consumer = consumer

    def ref(self, name: str, v: int | None = None) -> DataFrame:
        """``ctx.ref('m')`` (latest version when versioned) or
        ``ctx.ref('m', v=1)`` (dbt 1.5+ version pinning)."""
        resolved = self._registry.resolve_ref(name, v, _requester=self._consumer)
        df = self._registry.build(resolved, _requester=self._consumer)
        if self._registry._empty_mode:
            # dbt --empty: input edges are LIMIT 0 slices (see set_empty)
            df = df.limit(0)
        return df

    def source(self, name: str) -> DataFrame:
        """A raw (Bronze) input registered via ``register_source``."""
        return self._registry.source(name)


class ModelRegistry:
    """Name → Model mapping with ref() resolution and topological build.

    Build results are memoized per-registry (a model body executes once per
    ``run()`` even when multiple children ref it — for ``view`` nodes the
    memoized object is an *unmaterialized* DataFrame, so Catalyst still
    inlines it into every consumer's physical plan).
    """

    def __init__(self, spark: SparkSession, variables: dict | None = None):
        self.spark = spark
        # dbt --vars: {{ var('name') }} / {{ var('name', default) }} in
        # SQL model bodies renders to a SQL literal at compile time
        self.variables: dict = dict(variables or {})
        self._models: dict[str, Model] = {}
        self._sources: dict[str, Callable[[SparkSession], DataFrame] | DataFrame] = {}
        self._built: dict[str, DataFrame] = {}
        # recursion stack for cycle reporting — PER THREAD: a cycle is a
        # property of one build recursion, and Engine.run_concurrent
        # builds independent nodes on a thread pool, so a shared stack
        # would see cross-thread pushes as false cycles (and pop the
        # wrong thread's frame on unwind)
        import threading

        self._building_tls = threading.local()
        # dbt --defer: when set, refs to models OUTSIDE the current
        # selection resolve to the deferred environment's artifact (if
        # one exists there) instead of building locally
        self._defer_dir: str | None = None
        self._defer_selected: set[str] = set()
        self._defer_favor_state: bool = False
        self._defer_local_dir: str | None = None
        # dbt 1.5+ model versions: base name → {"latest": int,
        # "versions": {n: concrete_model_name}, "deprecation": {n: date}}
        self._versions: dict[str, dict] = {}
        # Human-readable warnings raised during ref resolution (dbt emits
        # UnpinnedRefNewVersionAvailable / deprecation warnings; callers
        # read these after a build pass)
        self.version_warnings: list[str] = []
        # env_var() audit: name → rendered value (dbt manifest.env_vars);
        # populated as models compile, consumed by docs/state tooling
        self.env_vars_used: dict[str, str] = {}
        # dbt --empty (dbt-core 1.8 run/build flag): when armed, every
        # ref()/source() INPUT edge resolves to a LIMIT 0 slice of the
        # parent — the model's full plan compiles and materializes (so
        # schemas and contracts are validated end-to-end) but no data
        # volume moves. The dry-run a 100 TB deploy wants before the
        # real backfill.
        self._empty_mode: bool = False

    @property
    def _building(self) -> list:
        stack = getattr(self._building_tls, "stack", None)
        if stack is None:
            stack = self._building_tls.stack = []
        return stack

    # -- registration -------------------------------------------------
    def register(
        self,
        name: str,
        builder: str | Callable[[ModelContext], DataFrame],
        materialized: str = "view",
        depends_on: tuple[str, ...] = (),
        tags: tuple[str, ...] = (),
        **config: Any,
    ) -> Model:
        if name in self._models:
            raise CompilationError(f"duplicate model name: {name!r}")
        model = Model(name, builder, materialized, tuple(depends_on), tuple(tags), config)
        self._models[name] = model
        return model

    def model(self, name: str | None = None, materialized: str = "view", **config: Any):
        """Decorator form: ``@registry.model(materialized='table')``."""

        def deco(fn: Callable[[ModelContext], DataFrame]):
            self.register(name or fn.__name__, fn, materialized=materialized, **config)
            return fn

        return deco

    def register_source(
        self, name: str, loader: Callable[[SparkSession], DataFrame] | DataFrame
    ) -> None:
        self._sources[name] = loader

    def register_versioned(
        self,
        name: str,
        versions: dict[int, str | Callable[[ModelContext], DataFrame]],
        latest: int | None = None,
        deprecation: dict[int, str] | None = None,
        materialized: str = "view",
        **config: Any,
    ) -> dict[int, Model]:
        """dbt 1.5+ model versions (dbt-core ``versions:`` schema config):
        each version is its own DAG node named ``<name>_v<n>`` (dbt's
        default versioned relation identity), ``latest`` mirrors
        ``latest_version`` (defaults to the highest version number), and
        ``deprecation`` carries per-version ``deprecation_date`` strings.

        Ref resolution (``resolve_ref``): an UNPINNED ``ref('name')``
        resolves to the latest version; ``ref('name', v=N)`` pins.
        Pinning to a non-latest or deprecated version records a warning
        in ``version_warnings`` (dbt's deprecation / unpinned-ref
        warning surface) — a warning, never an error, matching dbt."""
        if name in self._models:
            raise CompilationError(
                f"cannot version {name!r}: an unversioned model of that name exists"
            )
        if not versions:
            raise CompilationError(f"versioned model {name!r} needs >=1 version")
        out: dict[int, Model] = {}
        concrete: dict[int, str] = {}
        for n, builder in sorted(versions.items()):
            cname = f"{name}_v{n}"
            out[n] = self.register(cname, builder, materialized=materialized, **config)
            concrete[n] = cname
        self._versions[name] = {
            "latest": latest if latest is not None else max(versions),
            "versions": concrete,
            "deprecation": dict(deprecation or {}),
        }
        return out

    def resolve_ref(
        self,
        name: str,
        version: int | None = None,
        _requester: str | None = None,
        _warn: bool = True,
    ) -> str:
        """Map a ``ref()`` target to a concrete model name, applying
        model-version resolution. Non-versioned names pass through."""
        meta = self._versions.get(name)
        if meta is None:
            if version is not None:
                raise RefNotFoundError(
                    f"ref({name!r}, v={version}) pins a version but {name!r} "
                    "is not a versioned model"
                )
            return name
        v = version if version is not None else meta["latest"]
        if v not in meta["versions"]:
            raise RefNotFoundError(
                f"ref({name!r}, v={v}): no such version "
                f"(have {sorted(meta['versions'])})"
            )
        who = _requester or "<caller>"
        if not _warn:
            return meta["versions"][v]
        if v in meta["deprecation"]:
            self.version_warnings.append(
                f"{who}: ref('{name}', v={v}) targets a version deprecated "
                f"on {meta['deprecation'][v]}"
            )
        elif version is not None and v != meta["latest"]:
            self.version_warnings.append(
                f"{who}: ref('{name}', v={v}) is pinned behind latest "
                f"(v{meta['latest']})"
            )
        return meta["versions"][v]

    # -- graph --------------------------------------------------------
    def models(self) -> dict[str, Model]:
        return dict(self._models)

    def graph(self) -> dict[str, tuple[str, ...]]:
        """node → parents, validating every edge (compile-time ref check)."""
        edges: dict[str, tuple[str, ...]] = {}
        for name, model in self._models.items():
            parents = tuple(
                dict.fromkeys(
                    self.resolve_ref(nm, ver, _requester=name, _warn=False)
                    if (nm in self._versions)
                    else nm
                    for nm, ver in model.static_ref_pairs()
                )
            )
            for p in parents:
                if p not in self._models and p not in self._sources:
                    raise RefNotFoundError(
                        f"model {name!r} depends on a node named {p!r} which was not found"
                    )
            edges[name] = tuple(p for p in parents if p in self._models)
        return edges

    def topological_order(self, subset: set[str] | None = None) -> list[str]:
        edges = self.graph()
        if subset is not None:
            edges = {n: tuple(p for p in ps if p in subset) for n, ps in edges.items() if n in subset}
        ts = TopologicalSorter(edges)
        try:
            return list(ts.static_order())
        except _GraphCycleError as e:
            raise CycleError(f"ref() cycle detected: {e.args[1] if len(e.args) > 1 else e}") from e

    def select(
        self,
        selector: str | None,
        exclude: str | None = None,
        state: dict[str, str] | None = None,
    ) -> set[str]:
        """dbt node-selection syntax (dbt-core graph selector semantics):

        - atoms: ``model``, ``+model`` (ancestors), ``model+``
          (descendants), ``+model+``, ``tag:x`` (composable with +),
          ``@model`` (the at-operator: model, its descendants, AND the
          ancestors of those descendants — everything needed to build
          and test downstream of the model), ``state:modified`` /
          ``state:new`` (definition checksum differs from / absent in a
          saved ``state`` manifest — dbt ``--state`` slim-CI selection;
          composable with + for the canonical ``state:modified+``);
        - SPACE-separated terms are a UNION (dbt ``--select a b``);
        - COMMA-separated atoms within a term are an INTERSECTION
          (dbt ``--select "tag:nightly,marts"``);
        - ``exclude`` subtracts its own selection from the result
          (dbt ``--exclude``)."""
        if selector is None:
            out = set(self._models)
        else:
            edges = self.graph()
            children: dict[str, set[str]] = {n: set() for n in edges}
            for n, ps in edges.items():
                for p in ps:
                    children[p].add(n)
            out = set()
            for term in selector.split():
                atoms = [a for a in term.split(",") if a]
                if not atoms:
                    continue
                sets = [
                    self._select_atom(a, edges, children, state) for a in atoms
                ]
                out |= set.intersection(*sets)
        if exclude:
            out -= self.select(exclude, state=state)
        return out

    def checksums(self) -> dict[str, str]:
        """Stable definition checksum per model — md5 over the builder's
        text (SQL body, or a Python builder's source), materialization,
        and config. The dbt analogue is the manifest node checksum
        slim-CI state selection compares (dbt-core contracts/graph/nodes
        checksum field). The ``all`` aspect of :meth:`checksums_detail`."""
        return {name: d["all"] for name, d in self.checksums_detail().items()}

    def checksums_detail(self) -> dict[str, dict[str, str]]:
        """Per-ASPECT definition checksums — dbt's ``state:modified``
        sub-selector granularity (dbt-core state methods): ``body`` (the
        builder text, plus the CURRENT values of any env_var() it reads
        — env drift is body drift), ``configs`` (config minus contract),
        ``contract`` (the contract config alone), ``relation`` (the
        materialization type), and ``all`` (the combined checksum that
        :meth:`checksums` returns)."""
        import hashlib
        import inspect
        import json as _json
        import os as _os

        def h(obj) -> str:
            # json.dumps(sort_keys, default=str) canonicalizes nested
            # dicts and non-JSON types alike
            return hashlib.md5(
                _json.dumps(obj, sort_keys=True, default=str).encode()
            ).hexdigest()

        out: dict[str, dict[str, str]] = {}
        for name, m in self._models.items():
            if isinstance(m.builder, str):
                body = m.builder
            else:
                try:
                    body = inspect.getsource(m.builder)
                except (OSError, TypeError):  # builtins/lambdas in REPLs
                    body = repr(m.builder)
            # env_var drift participates (dbt manifest.env_vars): a model
            # reading env_var('K') changes checksum when K's VALUE
            # changes, so state:modified slim-CI picks it up without any
            # SQL edit. Secret-prefixed names contribute presence only,
            # never the value.
            env = {
                k: (
                    "<secret-set>"
                    if k.startswith(_ENV_SECRET_PREFIX) and k in _os.environ
                    else _os.environ.get(k)
                )
                for k in sorted(set(_ENV_NAME_RE.findall(body)))
            }
            cfg = {k: v for k, v in m.config.items() if k != "contract"}
            out[name] = {
                # ALL config values participate — dbt's manifest checksum
                # covers contract/config changes, so a contract-only edit
                # (a dict value) must flip it for state:modified
                "all": h({
                    "body": body,
                    "materialized": m.materialized,
                    "config": dict(sorted(m.config.items())),
                    "tags": sorted(m.tags),
                    "env": env,
                }),
                "body": h({"body": body, "env": env}),
                "configs": h({"config": dict(sorted(cfg.items())),
                              "tags": sorted(m.tags)}),
                "contract": h(m.config.get("contract")),
                "relation": h(m.materialized),
            }
        return out

    def _select_atom(
        self,
        atom: str,
        edges: dict[str, tuple[str, ...]],
        children: dict[str, set[str]],
        state: dict[str, str] | None = None,
    ) -> set[str]:
        """Expand one selection atom to its node set."""
        if atom.startswith("@"):
            core = atom[1:]
            if core not in self._models:
                raise RefNotFoundError(
                    f"selector {atom!r}: no model named {core!r}"
                )
            down: set[str] = {core}
            self._walk_selection(core, False, True, edges, children, down)
            out = set(down)
            for n in down:
                self._walk_selection(n, True, False, edges, children, out)
            return out
        up = atom.startswith("+")
        down_suffix = atom.endswith("+")
        core = atom.strip("+")
        if core.startswith("state:"):
            if state is None:
                raise CompilationError(
                    f"selector {atom!r} requires a saved state manifest "
                    "(pass state=... / Engine state_path)"
                )
            mode = core[6:]

            def _aspect_of(entry, aspect: str):
                # state manifest compatibility: legacy files store a
                # flat name→hash (the "all" checksum); detail files
                # store name→{aspect: hash}
                if isinstance(entry, dict):
                    return entry.get(aspect)
                return entry if aspect == "all" else None

            if mode == "new":
                current = self.checksums()
                cores = [n for n in current if n not in state]
            elif mode == "modified" or mode.startswith("modified."):
                # dbt state:modified[.<aspect>] — sub-selectors narrow
                # the comparison to one definition aspect (body /
                # configs / contract / relation); new nodes (absent
                # from the saved state) count as modified under every
                # aspect, matching dbt
                aspect = mode[9:].lstrip(".") or "all"
                if aspect not in (
                    "all", "body", "configs", "contract", "relation"
                ):
                    raise CompilationError(
                        f"unknown state:modified aspect {aspect!r} "
                        "(body / configs / contract / relation)"
                    )
                detail = self.checksums_detail()
                cores = []
                for n, d in detail.items():
                    saved = state.get(n)
                    if saved is None:
                        cores.append(n)  # new node: modified per dbt
                    elif isinstance(saved, dict) and aspect in saved:
                        if saved[aspect] != d[aspect]:
                            cores.append(n)
                    # legacy flat manifest: only the combined checksum
                    # exists — fall back to comparing it (conservative:
                    # any change selects, never a silent miss)
                    elif _aspect_of(saved, "all") != d["all"]:
                        cores.append(n)
            else:
                raise CompilationError(
                    f"unknown state selector {core!r} (state:modified / state:new)"
                )
            out: set[str] = set()
            for c in cores:
                out.add(c)
                self._walk_selection(c, up, down_suffix, edges, children, out)
            return out
        if core.startswith("tag:"):
            tag = core[4:]
            cores = [n for n, m in self._models.items() if tag in m.tags]
            if not cores:
                raise RefNotFoundError(
                    f"selector {atom!r}: no model carries tag {tag!r}"
                )
        elif core not in self._models:
            raise RefNotFoundError(f"selector {atom!r}: no model named {core!r}")
        else:
            cores = [core]
        out: set[str] = set()
        for c in cores:
            out.add(c)
            self._walk_selection(c, up, down_suffix, edges, children, out)
        return out

    def _walk_selection(self, core, up, down, edges, children, out) -> None:
        """Expand one selection core along ancestor/descendant edges."""
        if up:
            stack = [core]
            while stack:
                for p in edges.get(stack.pop(), ()):
                    if p not in out:
                        out.add(p)
                        stack.append(p)
        if down:
            stack = [core]
            while stack:
                for c in children.get(stack.pop(), ()):
                    if c not in out:
                        out.add(c)
                        stack.append(c)

    # -- compile/build ------------------------------------------------
    def source(self, name: str) -> DataFrame:
        if name not in self._sources:
            raise RefNotFoundError(f"no source named {name!r}")
        loader = self._sources[name]
        if isinstance(loader, DataFrame):
            return loader.limit(0) if self._empty_mode else loader
        df = loader(self.spark)
        self._sources[name] = df  # memoize (the raw frame, never the slice)
        if self._empty_mode:
            return df.limit(0)
        return df

    def build(self, name: str, _requester: str | None = None) -> DataFrame:
        """Compile one model to a DataFrame, recursively resolving refs.

        For SQL models the parents are registered as temp views named
        ``__model_<parent>`` and the ``{{ ref() }}`` placeholders rewritten
        to those view names — the Spark analogue of dbt rendering
        ``ref('x')`` → ``db.schema.x`` (dbt/compilation.py:745).
        """
        if name in self._versions:
            name = self.resolve_ref(name, None, _requester=_requester)
        if name in self._built:
            return self._built[name]
        if name in self._building:
            cyc = " -> ".join(self._building + [name])
            raise CycleError(f"ref() cycle detected: {cyc}")
        if name not in self._models:
            if name in self._sources:
                return self.source(name)
            who = f" (ref'd from {_requester!r})" if _requester else ""
            raise RefNotFoundError(f"no model named {name!r}{who}")

        if self._defer_dir is not None and name not in self._defer_selected:
            # dbt --defer (task/run.py defer_to_manifest semantics): an
            # UNSELECTED parent resolves to an existing artifact instead
            # of rebuilding. Precedence matches dbt: by DEFAULT the
            # CURRENT environment's relation wins when one exists
            # (favor-local); ``--favor-state`` flips that so the
            # deferred environment's artifact always wins. Either way
            # the slim-CI run never re-executes upstream lineage.
            import os as _os

            if not self._defer_favor_state and self._defer_local_dir:
                local = _os.path.join(self._defer_local_dir, name)
                if _os.path.exists(local):
                    df = self.spark.read.parquet(local)
                    self._built[name] = df
                    return df
            deferred = _os.path.join(self._defer_dir, name)
            if _os.path.exists(deferred):
                df = self.spark.read.parquet(deferred)
                self._built[name] = df
                return df

        model = self._models[name]
        self._building.append(name)
        try:
            if callable(model.builder):
                df = model.builder(ModelContext(self, self.spark, name))
            else:
                sql = model.builder

                def _sub(m: re.Match[str]) -> str:
                    raw, pin = m.group(1), m.group(2)
                    parent = self.resolve_ref(
                        raw, int(pin) if pin else None, _requester=name
                    )
                    pdf = self.build(parent, _requester=name)
                    if self._empty_mode:
                        pdf = pdf.limit(0)
                    view = f"__model_{parent}"
                    pdf.createOrReplaceTempView(view)
                    return view

                sql = _REF_RE.sub(_sub, sql)
                sql = self._render_vars(sql)
                df = self.spark.sql(sql)
        finally:
            self._building.pop()
        self._built[name] = df
        return df

    def build_with_mocks(
        self, name: str, mocks: dict[str, DataFrame]
    ) -> DataFrame:
        """Compile ``name`` with some of its inputs REPLACED by fixture
        frames — the execution core of dbt 1.8 unit tests
        (``unit_tests:`` with ``given:`` inputs): the model's own logic
        runs unchanged, but every ref/source named in ``mocks`` resolves
        to the fixture instead of real data, so the test exercises the
        transformation in isolation at fixture scale (milliseconds,
        regardless of warehouse size).

        Mechanics: the mocks seed a TEMPORARY build memo (both model
        refs and sources resolve through it), the target compiles
        against them, and the real memo is restored afterwards — no
        fixture ever leaks into a production build. Mock keys use
        concrete node names (``m_v2`` for versioned models). Unmocked
        parents build normally, matching dbt (inputs default to empty
        only if you pass them explicitly as empty fixtures)."""
        unknown = [
            m
            for m in mocks
            if m not in self._models and m not in self._sources
        ]
        if unknown:
            raise RefNotFoundError(
                f"unit-test mocks for unknown nodes: {unknown}"
            )
        saved_built, saved_sources = self._built, self._sources
        self._built = dict(mocks)
        self._sources = {**saved_sources, **mocks}
        try:
            return self.build(name)
        finally:
            self._built = saved_built
            self._sources = saved_sources

    def set_defer(
        self,
        defer_dir: str,
        selected: set[str],
        favor_state: bool = False,
        local_dir: str | None = None,
    ) -> None:
        """Arm dbt ``--defer`` for the next build pass: refs to models
        NOT in ``selected`` resolve to an existing artifact instead of
        rebuilding. Default precedence is dbt's favor-local: an artifact
        in the CURRENT environment (``local_dir/<name>``) wins over the
        deferred one; ``favor_state=True`` is dbt ``--favor-state`` —
        ``<defer_dir>/<name>`` always wins when it exists. With neither
        artifact present, the parent falls back to building locally."""
        self._defer_dir = defer_dir
        self._defer_selected = set(selected)
        self._defer_favor_state = favor_state
        self._defer_local_dir = local_dir

    def clear_defer(self) -> None:
        self._defer_dir = None
        self._defer_selected = set()
        self._defer_favor_state = False
        self._defer_local_dir = None

    # -- dbt --empty (schema-only dry run) ------------------------------
    def set_empty(self, flag: bool = True) -> None:
        """Arm/disarm dbt's ``--empty`` mode: every ref()/source() INPUT
        edge resolves to ``parent.limit(0)``. The consuming model's full
        plan still compiles, materializes, and passes contract checks —
        with zero data volume. Catalyst folds ``LIMIT 0`` into an empty
        LocalRelation, so even the scans vanish from the physical plan."""
        self._empty_mode = bool(flag)

    def clear_empty(self) -> None:
        self._empty_mode = False

    def compile_sql(self, name: str) -> str | None:
        """dbt ``compile``: render a SQL model's body with ``ref()``
        resolved to relation names (version-pinned refs resolve through
        the version map, exactly as at build time) and ``var()`` /
        ``env_var()`` rendered to literals — WITHOUT executing anything.
        Python-function models have no SQL to compile; returns None
        (dbt compiles them to their source, which ``generate_docs``
        already captures)."""
        if name in self._versions:
            name = self.resolve_ref(name, None)
        if name not in self._models:
            raise RefNotFoundError(f"no model named {name!r}")
        model = self._models[name]
        if callable(model.builder):
            return None

        def _sub(m: re.Match[str]) -> str:
            raw, pin = m.group(1), m.group(2)
            return self.resolve_ref(
                raw, int(pin) if pin else None, _requester=name
            )

        return self._render_vars(_REF_RE.sub(_sub, model.builder))

    def _render_vars(self, sql: str) -> str:
        """Render every ``{{ var('k'[, default]) }}`` to a SQL literal
        (dbt-core context var() semantics): strings quote (with ''
        escaping), numbers/booleans render bare, an unknown var without
        a default is a compile-time error.

        Defaults are parsed by a scanner, not a regex: a quoted string
        default may contain ``)`` or ``,``, and a quoted default is
        routed through the same literal renderer as resolved variables —
        so ``{{ var('x', 'abc') }}`` becomes the SQL string ``'abc'``,
        never a bare identifier. Unquoted defaults (numbers, TRUE/FALSE,
        simple expressions) splice verbatim, balanced-paren delimited."""
        out: list[str] = []
        pos = 0
        while True:
            m = _VAR_OPEN_RE.search(sql, pos)
            if m is None:
                out.append(sql[pos:])
                return "".join(out)
            out.append(sql[pos : m.start()])
            fn, key = m.group(1), m.group(3)
            i = m.end()
            has_default = False
            default_str: str | None = None  # parsed quoted-string default
            default_raw: str | None = None  # verbatim unquoted default
            if i < len(sql) and sql[i] == ",":
                has_default = True
                i += 1
                while i < len(sql) and sql[i].isspace():
                    i += 1
                if i < len(sql) and sql[i] in "'\"":
                    quote = sql[i]
                    i += 1
                    buf: list[str] = []
                    closed = False
                    while i < len(sql):
                        c = sql[i]
                        if c == "\\" and i + 1 < len(sql):
                            buf.append(sql[i + 1])
                            i += 2
                            continue
                        if c == quote:
                            i += 1
                            closed = True
                            break
                        buf.append(c)
                        i += 1
                    if not closed:
                        raise CompilationError(
                            f"unterminated string default for var {key!r}"
                        )
                    default_str = "".join(buf)
                else:
                    depth = 0
                    j = i
                    while j < len(sql):
                        c = sql[j]
                        if c == "(":
                            depth += 1
                        elif c == ")":
                            if depth == 0:
                                break
                            depth -= 1
                        j += 1
                    default_raw = sql[i:j].strip()
                    i = j
            tm = _VAR_CLOSE_RE.match(sql, i)
            if tm is None:
                raise CompilationError(f"malformed var() call for {key!r}")
            if fn == "env_var":
                # dbt context env_var(): resolves from the process
                # environment (always a string), default only when the
                # variable is unset, required-but-missing is an error,
                # and secret-prefixed names are banned from model SQL.
                import os as _os

                if key.startswith(_ENV_SECRET_PREFIX):
                    raise CompilationError(
                        f"secret env var {key!r} is not allowed in model "
                        "SQL (dbt permits DBT_ENV_SECRET_* only in "
                        "connection/package config, never in compiled "
                        "artifacts)"
                    )
                if key in _os.environ:
                    val = _os.environ[key]
                    self.env_vars_used[key] = val
                    out.append(self._render_literal(val))
                elif has_default:
                    if default_raw is not None:
                        self.env_vars_used[key] = default_raw
                        out.append(default_raw)
                    else:
                        self.env_vars_used[key] = default_str or ""
                        out.append(self._render_literal(default_str))
                else:
                    raise CompilationError(
                        f"env var required but not provided: {key!r}"
                    )
                pos = tm.end()
                continue
            if key in self.variables:
                out.append(self._render_literal(self.variables[key]))
            elif has_default:
                out.append(
                    default_raw if default_raw is not None
                    else self._render_literal(default_str)
                )
            else:
                raise CompilationError(
                    f"undefined var {key!r} and no default given"
                )
            pos = tm.end()

    @staticmethod
    def _render_literal(val: Any) -> str:
        if isinstance(val, bool):
            return "TRUE" if val else "FALSE"
        if isinstance(val, (int, float)):
            return repr(val)
        return "'" + str(val).replace("'", "''") + "'"

    def invalidate(self, name: str | None = None) -> None:
        if name is None:
            self._built.clear()
        else:
            self._built.pop(name, None)
