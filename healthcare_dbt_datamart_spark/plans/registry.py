"""Model registry and DAG-ordered runner.

The reference's execution model (SURVEY §3): dbt parses ``ref()`` calls
into a manifest DAG, then executes materializations in topological order.
Here the DAG is discovered by *demand-driven memoized resolution*: a model
body calls ``ctx.ref('upstream')``, which builds the upstream first (with
cycle detection). Parse/compile/materialize collapse into Python building
lazy DataFrames; Catalyst replaces the warehouse optimizer; the
driver→executor boundary replaces dbt's client→warehouse boundary.

View-materialized models stay *lazy* (temp views inline into downstream
plans — the reference's single-query CTE pipelining, and Catalyst
optimizes across model boundaries). Table/incremental/snapshot models
execute an action.

``run()`` is dbt's ``--threads`` executor: it releases each selected
model to a worker pool once the selected upstreams its body refs are
built, so independent branches run their Spark jobs side by side. The
upstreams are the string literals passed to ``ctx.ref`` in the body's
bytecode, read without calling it. A ref that hint misses (a name in a
variable, a ref inside a helper) still builds correctly through
``build()``'s demand resolution and per-node lock: a miss costs
ordering, not correctness. ``run_results``, ``run()``'s dict and
``run_tests()``'s results keep registration/declaration order. The
``execute_seconds`` of concurrent models overlap, so their sum can
exceed the run's wall time.
"""

from __future__ import annotations

import dis
import threading
import time
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession


class _UpstreamFailed(RuntimeError):
    """A model needed one that already failed (dbt "skipped")."""


def _ref_literals(code) -> set[str]:
    """The string literals a body passes to ``.ref(...)``, read from its
    bytecode and every nested code object (lambdas, comprehensions,
    inner functions) without calling it."""
    names: set[str] = set()
    prev = None
    for ins in dis.get_instructions(code):
        if (
            prev is not None
            and prev.opname in ("LOAD_ATTR", "LOAD_METHOD")
            and prev.argval == "ref"
            and ins.opname == "LOAD_CONST"
            and isinstance(ins.argval, str)
        ):
            names.add(ins.argval)
        prev = ins
    for c in code.co_consts:
        if hasattr(c, "co_code"):
            names |= _ref_literals(c)
    return names


def _closure(seeds, step: Callable[[set], set]) -> set:
    """``seeds`` plus everything reachable by repeatedly applying ``step``
    to the newest frontier."""
    closure, frontier = set(seeds), set(seeds)
    while frontier:
        frontier = step(frontier) - closure
        closure |= frontier
    return closure


def _declarative_config(mdef: "_ModelDef") -> dict:
    """The declarative (non-callable) slice of a model's config — ONE
    definition shared by manifest() and _node_checksum(): these two MUST
    see the same config view, or state:modified compares checksums
    computed over different inputs than the manifest stores."""
    return {
        k: v
        for k, v in mdef.config.items()
        if not callable(v)
        and not (isinstance(v, list) and any(callable(x) for x in v))
    }


@dataclass
class _ModelDef:
    fn: Callable[["ModelContext"], DataFrame]
    materialized: str = "view"
    config: dict[str, Any] = field(default_factory=dict)


class ModelContext:
    """What a model body sees — ``ref``/``source``/``this``/
    ``is_incremental`` (``is_incremental.sql:2-13``)."""

    def __init__(self, registry: "ModelRegistry", name: str):
        self._r = registry
        self.name = name
        self.spark = registry.spark
        # microbatch backfill bounds (dbt's __dbt_internal event-time
        # vars): set per batch by the registry's backfill driver
        self.batch_start = None
        self.batch_end = None

    def ref(self, name: str) -> DataFrame:
        return self._r.build(name)

    def source(self, name: str) -> DataFrame:
        return self._r.get_source(name)

    @property
    def this(self) -> DataFrame | None:
        rel = self._r._relation(self.name)
        if self.spark.catalog.tableExists(rel):
            return self.spark.table(rel)
        return None

    def is_incremental(self) -> bool:
        from ..operators.incremental import is_incremental

        return is_incremental(
            self.spark, self._r._relation(self.name), self._r.full_refresh
        )


class ModelRegistry:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._models: dict[str, _ModelDef] = {}
        self._sources: dict[str, DataFrame] = {}
        self._freshness: dict[str, dict] = {}
        self._built: dict[str, DataFrame] = {}
        # cycle guard is PER-THREAD: run() workers each carry their own
        # in-flight stack, so only genuine same-thread recursion trips
        # "model cycle" — a ref the scheduler's hints missed, building
        # concurrently in another worker, must WAIT on the node lock
        # below, not error
        self._tlocal = threading.local()
        self._node_locks: dict[str, threading.Lock] = {}
        self._locks_guard = threading.Lock()
        # wait-for graph for cross-thread cycle detection (see build()):
        # node -> thread ident currently building it; thread ident ->
        # node it is blocked waiting for. Both guarded by _locks_guard.
        self._lock_owner: dict[str, int] = {}
        self._waiting_for: dict[int, str] = {}
        self.full_refresh = False
        # dbt generate_schema_name (dbt-adapters get_custom_schema.sql,
        # default macro): None -> the default rule
        # ``<target_schema>_<custom_schema>``; assign a callable
        # ``(target_schema, custom_schema) -> str`` to override, exactly
        # like overriding the macro in a dbt project
        self.generate_schema_name: "Callable[[str, str], str] | None" = None
        self._selected: set[str] | None = None
        self.batch_range: tuple | None = None  # microbatch backfill bounds
        self.run_results: list[dict] = []
        # model -> its error: one attempt per model until the next run(),
        # the failure twin of the _built memo
        self._failed: dict[str, Exception] = {}
        self._exposures: dict[str, dict] = {}
        self._unit_tests: dict[str, dict] = {}

    def _reject_rewrite_layouts(
        self, name: str, mdef: "_ModelDef", kind: str
    ) -> None:
        """Incremental/snapshot targets rewrite through the swap, which
        supports the SORT layouts (cluster_by / zorder_by) but not
        bucket_by (Spark cannot insertInto bucketed tables — the append
        strategy would break) or partition_by (hive partition metadata
        does not survive the rename swap). Declaring one of those on a
        rewriting materialization must fail LOUDLY — before this check
        they were silently ignored, writing plain parquet while the
        model claimed a layout."""
        for k in ("bucket_by", "partition_by"):
            if mdef.config.get(k):
                raise ValueError(
                    f"{kind} model '{name}' declares {k}, which the"
                    f" {kind} rewrite path cannot honor (use cluster_by"
                    " / zorder_by, or a table materialization)"
                )

    # -- declaration ------------------------------------------------------

    def model(self, name: str | None = None, materialized: str = "view", **config):
        """Decorator: ``@r.model(materialized='table', cluster_by=[...])``."""

        def deco(fn: Callable[[ModelContext], DataFrame]):
            self._models[name or fn.__name__] = _ModelDef(fn, materialized, config)
            return fn

        return deco

    def add_source(
        self,
        name: str,
        df: DataFrame,
        loaded_at_field: str | None = None,
        warn_after_seconds: float | None = None,
        error_after_seconds: float | None = None,
        freshness_filter: str | None = None,
    ) -> None:
        """Register a source; the optional freshness arguments mirror the
        source-yml freshness contract (``dbt-adapters/macros/adapters/
        freshness.sql:7-36`` — the reference's ``models/sources/src_*.yml``
        are declared-empty placeholders for exactly this)."""
        self._sources[name] = df
        if loaded_at_field is not None:
            self._freshness[name] = {
                "loaded_at_field": loaded_at_field,
                "warn_after_seconds": warn_after_seconds,
                "error_after_seconds": error_after_seconds,
                "filter_expr": freshness_filter,
            }

    def add_exposure(
        self,
        name: str,
        depends_on: list[str],
        kind: str = "dashboard",
        owner: str | None = None,
        url: str | None = None,
    ) -> None:
        """dbt exposure (downstream consumer declared in yml — the
        reference's yml files are placeholders for this class of
        metadata): a named dashboard/report/ML feed whose upstream
        models appear in the manifest, so impact analysis ("what does
        this model feed?") reads straight off the lineage artifact.
        Unknown upstreams raise at declaration — a dangling exposure is
        a lineage lie."""
        missing = [d for d in depends_on if d not in self._models]
        if missing:
            raise ValueError(f"exposure {name!r} depends on unknown models: {missing}")
        self._exposures[name] = {
            "kind": kind,
            "depends_on": sorted(depends_on),
            "owner": owner,
            "url": url,
        }

    def get_source(self, name: str) -> DataFrame:
        return self._sources[name]

    def check_freshness(self, now=None) -> dict[str, dict]:
        """``dbt source freshness``: run the max(loaded_at)-vs-now check
        for every source declaring a freshness contract. ``now`` is
        injectable for deterministic tests. Returns {source: result}
        with status pass/warn/error."""
        from ..operators.testing import freshness_check

        out = {}
        for name, cfg in self._freshness.items():
            out[name] = freshness_check(
                self._sources[name],
                cfg["loaded_at_field"],
                warn_after_seconds=cfg["warn_after_seconds"],
                error_after_seconds=cfg["error_after_seconds"],
                filter_expr=cfg["filter_expr"],
                now=now,
            )
        return out

    def run_tests(self, select: str | None = None) -> dict[str, list]:
        """``dbt test``: run every schema test declared on the selected
        models (the reference's schema-yml surface — its ``_members.yml``
        / ``_claims.yml`` files are declared placeholders; the test
        bodies live in ``dbt-adapters/macros/generic_test_sql/``).

        Tests are declared in model config as dbt-shaped tuples::

            @r.model(materialized="table", tests=[
                ("unique", "member_id"),
                ("not_null", "member_id"),
                ("accepted_values", "gap_flag", [0, 1]),
                ("relationships", "member_id", "dim_member", "member_id"),
            ])

        An optional trailing dict per tuple passes harness config through
        (``where`` / ``warn_if`` / ``error_if`` / ``fail_calc`` /
        ``limit``, ``tests/helpers.sql:7-16``). Relationships resolve the
        parent through the registry — ref() lineage, not a raw table
        read. Returns ``{model: [TestResult, ...]}`` for models that
        declare tests; like dbt, tests run against the BUILT relation.
        The checks run side by side on a worker pool (see ``_pool``);
        the dict and each model's list keep declaration order.
        """
        from ..operators import testing as T

        # a selector that names no model is not a schema-test error: the
        # CLI `test` command passes the SAME select to run_unit_tests,
        # where a bare unit-test name is valid — schema tests simply
        # match nothing then (the CLI errors if BOTH halves are empty).
        # Pre-check membership rather than catching KeyError: deps()
        # raises KeyError for an unknown ref() INSIDE a model body, and
        # swallowing that would misreport a broken DAG as
        # "selector matched nothing".
        if select:
            if select.strip("+") in self._models:
                names = self.select_nodes(select)
            else:
                names = set()
        else:
            names = set(self._models)
        checks: list[tuple[str, str, DataFrame, dict]] = []
        for name, mdef in self._models.items():
            if name not in names:
                continue
            specs = mdef.config.get("tests") or []
            if not specs:
                continue
            df = self._tested_relation(name)
            for spec in specs:
                opts = dict(spec[-1]) if isinstance(spec[-1], dict) else {}
                args = spec[1:-1] if isinstance(spec[-1], dict) else spec[1:]
                kind = spec[0]
                # dbt `where` config: wraps the tested MODEL before the
                # test SQL runs (where_subquery.sql:1-16) — NOT a filter
                # on the violations output
                where = opts.pop("where", None)
                tdf = df.filter(where) if where else df
                if kind == "unique":
                    v = T.unique_test(tdf, args[0])
                elif kind == "not_null":
                    v = T.not_null_test(tdf, args[0])
                elif kind == "accepted_values":
                    v = T.accepted_values_test(tdf, args[0], list(args[1]))
                elif kind == "relationships":
                    v = T.relationships_test(
                        tdf, args[0], self._tested_relation(args[1]), args[2]
                    )
                else:
                    raise ValueError(f"unknown test kind: {kind!r}")
                checks.append((name, f"{kind}_{name}_{args[0]}", v, opts))
        pool, inherit = self._pool(len(checks))
        with pool:
            results = list(pool.map(
                inherit(lambda c: T.run_test(c[2], name=c[1], **c[3])), checks
            ))
        out: dict[str, list] = {}
        for (name, *_), res in zip(checks, results):
            out.setdefault(name, []).append(res)
        return out

    def _pool(
        self, tasks: int, threads: int | None = None
    ) -> tuple[ThreadPoolExecutor, Callable]:
        """A pool of ``threads`` workers (default: one per task, up to
        Spark's default parallelism) and the wrapper every task goes
        through, which carries the calling thread's job group, job
        description and session tags, captured now, into the worker."""
        workers = threads or min(tasks, self.spark.sparkContext.defaultParallelism)
        return (
            ThreadPoolExecutor(max_workers=max(1, workers)),
            inheritable_thread_target(self.spark),
        )

    def _tested_relation(self, name: str) -> DataFrame:
        """dbt test semantics: tests read the EXISTING built relation —
        a table-backed model that is already materialized is read, not
        rebuilt (a test command must not rewrite production tables).
        Only a never-built model (or a view, which is a lazy plan, not
        state) is built on demand."""
        rel = self._relation(name)
        if self._is_materialized_table(rel):
            return self.spark.table(rel)
        return self.build(name)

    def _relation(self, name: str) -> str:
        """The catalog relation a model materializes into — dbt's
        ``generate_schema_name`` resolution (``dbt-adapters/macros/
        get_custom_name/get_custom_schema.sql``: default macro returns
        ``<target_schema>_<custom_schema>`` when the model declares a
        custom ``schema``, the per-layer namespacing the reference's
        ``dbt_project.yml:24-33`` uses for STAGE/INTERMEDIATE/MARTS).
        Applies to CATALOG-backed materializations (table/incremental/
        snapshot/materialized_view); view models are session temp views,
        which Spark cannot database-qualify — they keep the short name
        so Catalyst keeps inlining them (the documented trade), with the
        layer tag still visible in the manifest."""
        mdef = self._models.get(name)
        custom = mdef.config.get("schema") if mdef else None
        if not custom or (mdef and mdef.materialized == "view"):
            return name
        base = self.spark.catalog.currentDatabase()
        if self.generate_schema_name is not None:
            schema = self.generate_schema_name(base, custom)
        else:
            schema = f"{base}_{custom}"
        return f"{schema}.{name}"

    def manifest(self) -> dict:
        """The engine's manifest.json analog: every node with its
        materialization, config, discovered upstream edges, and a
        process-stable code CHECKSUM (dbt's manifest is the lineage +
        state artifact downstream tooling consumes; here dependencies
        are OBSERVED by running model bodies against a recording context
        rather than parsed from Jinja, and the checksum fingerprints the
        body's compiled bytecode the way dbt checksums compiled SQL)."""
        edges = self.deps()
        return {
            "sources": sorted(self._sources),
            "exposures": dict(sorted(self._exposures.items())),
            "unit_tests": {
                tname: t["model"] for tname, t in sorted(self._unit_tests.items())
            },
            "nodes": {
                name: {
                    "materialized": mdef.materialized,
                    "relation": self._relation(name),
                    "config": _declarative_config(mdef),
                    "depends_on": sorted(edges.get(name, ())),
                    "checksum": self._node_checksum(mdef),
                }
                for name, mdef in self._models.items()
            },
        }

    def _node_checksum(self, mdef) -> str:
        """md5 over the model's materialization, declarative config, and
        a RECURSIVE bytecode fingerprint of its body — ``repr`` of a code
        object embeds a memory address, so nested code objects (lambdas,
        comprehensions) are replaced by their own fingerprints.

        The fingerprint also covers every function of the body's own
        top-level package that the body reaches through module globals,
        transitively (``int_gap_col_status`` → ``gap_status`` →
        ``gap_status_multi``), so an edit to a called helper marks the
        model modified. Modules, builtins and functions of other
        packages are not followed. The result is stable across
        processes for unchanged source."""
        import hashlib
        import types

        def fp(code) -> str:
            consts = tuple(
                fp(c) if hasattr(c, "co_code") else repr(c)
                for c in code.co_consts
            )
            return hashlib.md5(
                repr((code.co_code, consts, code.co_names)).encode()
            ).hexdigest()

        def names(code):
            yield from code.co_names
            for c in code.co_consts:
                if hasattr(c, "co_code"):
                    yield from names(c)

        def package(fn) -> str:
            return (fn.__module__ or "").split(".")[0]

        root = package(mdef.fn)
        seen, todo, parts = {mdef.fn}, [mdef.fn], []
        while todo:
            fn = todo.pop()
            parts.append((fn.__module__, fn.__qualname__, fp(fn.__code__)))
            for name in names(fn.__code__):
                ref = fn.__globals__.get(name)
                if (
                    isinstance(ref, types.FunctionType)
                    and ref not in seen
                    and package(ref) == root
                ):
                    seen.add(ref)
                    todo.append(ref)

        cfg = dict(sorted(_declarative_config(mdef).items()))
        return hashlib.md5(
            repr((mdef.materialized, cfg, sorted(parts))).encode()
        ).hexdigest()

    def modified_nodes(self, state: dict) -> set[str]:
        """dbt ``state:modified``: models whose checksum differs from the
        saved manifest, plus models the old state has never seen —
        the slim-CI selector (pair with ``clone`` for the defer
        workflow: clone production relations, rebuild only what
        changed)."""
        old = state.get("nodes", {})
        return {
            name
            for name, mdef in self._models.items()
            if old.get(name, {}).get("checksum") != self._node_checksum(mdef)
        }

    # -- execution --------------------------------------------------------

    @property
    def _building(self) -> list[str]:
        """This THREAD's in-flight model stack (cycle guard). Thread-local
        so run() workers never see each other's frames: a shared
        stack made a cross-thread in-flight node look like same-thread
        recursion and raised a spurious 'model cycle'."""
        stack = getattr(self._tlocal, "stack", None)
        if stack is None:
            stack = self._tlocal.stack = []
        return stack

    def _node_lock(self, name: str) -> threading.Lock:
        with self._locks_guard:
            return self._node_locks.setdefault(name, threading.Lock())

    def build(self, name: str) -> DataFrame:
        """Build one model (and transitively its upstreams), memoized.

        Thread safety: a per-NODE lock serializes concurrent builds of the
        same model (second arrival waits, then reads the memo), while the
        per-THREAD ``_building`` stack catches genuine same-thread
        recursion. ``run()`` releases nodes only once their hinted
        upstreams are memoized, so the lock matters for refs the hints
        miss. A failure is memoized like a success: until the next
        ``run()``, the model is not attempted again, and a thread that
        waited on its lock raises the recorded failure.

        A circular ref SPLIT ACROSS THREADS (X refs Y while another
        thread building Y refs X — invisible to both thread-local
        stacks) would deadlock both node locks silently, so blocked
        waiters maintain a wait-for graph (``_lock_owner`` +
        ``_waiting_for``) and re-walk it on a timeout loop: once a
        deadlock exists the graph is static, the next walk finds the
        cycle, and the waiter raises the same 'model cycle' diagnostic
        the single-thread guard gives instead of hanging forever.
        """
        if name in self._built:
            return self._built[name]
        if name in self._sources:
            return self._sources[name]
        if name in self._building:
            cycle = " -> ".join(self._building + [name])
            raise ValueError(f"model cycle: {cycle}")
        lock = self._node_lock(name)
        ident = threading.get_ident()
        if not lock.acquire(blocking=False):
            with self._locks_guard:
                self._waiting_for[ident] = name
            try:
                while not lock.acquire(timeout=5.0):
                    self._check_wait_cycle(name, ident)
            finally:
                with self._locks_guard:
                    self._waiting_for.pop(ident, None)
        try:
            with self._locks_guard:
                self._lock_owner[name] = ident
            return self._build_locked(name)
        except Exception as exc:
            # recorded before the lock is released, so a waiter on this
            # node sees the failure instead of attempting the build again
            self._failed.setdefault(name, exc)
            raise
        finally:
            with self._locks_guard:
                self._lock_owner.pop(name, None)
            lock.release()

    def _check_wait_cycle(self, name: str, ident: int) -> None:
        """Walk the wait-for graph from the node this thread wants:
        node -> its building thread -> the node THAT thread waits for ->
        … If the walk returns to this thread, every participant is
        blocked on a lock the next one holds — a genuine cross-thread
        model cycle; raise with the chain. Any gap in the chain (owner
        finished, waiter got its lock) means progress is possible and
        the caller just keeps waiting."""
        with self._locks_guard:
            chain = [name]
            cur = name
            for _ in range(len(self._node_locks) + 1):
                owner = self._lock_owner.get(cur)
                if owner is None:
                    return
                if owner == ident:
                    raise ValueError(
                        "model cycle across threads: " + " -> ".join(chain)
                    )
                nxt = self._waiting_for.get(owner)
                if nxt is None:
                    return
                chain.append(nxt)
                cur = nxt

    def _build_locked(self, name: str) -> DataFrame:
        if name in self._built:  # built by another thread while we waited
            return self._built[name]
        if name in self._failed:
            raise _UpstreamFailed(
                f"model {name!r} already failed"
            ) from self._failed[name]
        if (
            self._selected is not None
            and name not in self._selected
            and self._is_materialized_table(self._relation(name))
        ):
            # unselected, already-materialized upstream: read, don't rebuild.
            # Must be a REAL table — tableExists() is also true for the
            # temp view a prior run's view-materialization registered, and
            # reading that would resolve to the previous run's lazy plan
            # over stale sources; view models rebuild lazily instead
            out = self.spark.table(self._relation(name))
            self._built[name] = out
            return out
        mdef = self._models[name]
        self._building.append(name)
        try:
            # pre-hooks run STRICTLY before the model body — dbt's
            # run_hooks ordering (dbt-adapters/macros/materializations/
            # hooks.sql; called from e.g. incremental.sql:28-31). Bodies
            # may take eager actions (kmeans-style fit collects), so the
            # hook cannot come after compile. Documented trade-off: in
            # dbt, Jinja compile happens at parse time, so a compile
            # error never reaches the hooks; here body compile and
            # execution are one Python call, so a failing body runs
            # AFTER its pre-hook's side effects. Keep pre-hooks
            # idempotent (they may also re-run on retry).
            self._run_hooks(mdef.config.get("pre_hook"), name)
            if (
                mdef.materialized == "incremental"
                and mdef.config.get("incremental_strategy") == "microbatch"
                and self.batch_range is not None
            ):
                # dbt microbatch backfill (--event-time-start/end): the
                # body runs once PER period batch with its bounds on the
                # context, and the returned frame is additionally
                # clamped to the batch window (dbt auto-injects the
                # event_time filter on microbatch inputs, so a body that
                # ignores its bounds is still correct — using them just
                # buys per-batch scan pruning)
                rel = self._relation(name)
                if "." in rel:
                    self.spark.sql(
                        f"CREATE DATABASE IF NOT EXISTS {rel.split('.', 1)[0]}"
                    )
                out = self._microbatch_backfill(name, mdef)
                self._persist_docs(name, mdef, rel)
                self._run_hooks(mdef.config.get("post_hook"), name)
                self._built[name] = out
                return out
            df = mdef.fn(ModelContext(self, name))
        finally:
            # the stack is THREAD-LOCAL (see _building), so only this
            # thread's frames are here; remove by value stays robust to
            # re-entrant bodies pushing after us on the same thread
            self._building.remove(name)

        from ..operators import materialize as mat
        from ..operators.incremental import incremental_run
        from ..operators.snapshot import snapshot_run
        m = mdef.materialized
        rel = self._relation(name)
        if "." in rel:
            # dbt create_schema: the custom layer database must exist
            # before the CTAS that writes into it
            self.spark.sql(
                f"CREATE DATABASE IF NOT EXISTS {rel.split('.', 1)[0]}"
            )
        if m == "view":
            mat.materialize_view(self.spark, name, df)
            out = df  # stay lazy: downstream plans inline this subtree
        elif m in ("table", "materialized_view"):
            # dbt's layout configs pass straight to the sink: partition_by
            # (hive dirs -> plan-time pruning), cluster_by (1-D sort),
            # zorder_by (2-D Morton sort), bucket_by (co-located joins)
            mat.materialize_table(
                self.spark,
                rel,
                df,
                cluster_by=mdef.config.get("cluster_by"),
                partition_by=mdef.config.get("partition_by"),
                bucket_by=mdef.config.get("bucket_by"),
                zorder_by=mdef.config.get("zorder_by"),
            )
            out = self.spark.table(rel)
        elif m == "incremental":
            self._reject_rewrite_layouts(name, mdef, "incremental")
            incremental_run(
                self.spark,
                rel,
                df,
                strategy=mdef.config.get("incremental_strategy", "merge"),
                unique_key=mdef.config.get("unique_key"),
                full_refresh=self.full_refresh,
                on_schema_change=mdef.config.get("on_schema_change", "ignore"),
                event_time=mdef.config.get("event_time"),
                batch_start=mdef.config.get("batch_start"),
                batch_end=mdef.config.get("batch_end"),
                cluster_by=mdef.config.get("cluster_by"),
                zorder_by=mdef.config.get("zorder_by"),
            )
            out = self.spark.table(rel)
        elif m == "snapshot":
            self._reject_rewrite_layouts(name, mdef, "snapshot")
            snapshot_run(
                self.spark,
                rel,
                df,
                unique_key=mdef.config["unique_key"],
                strategy=mdef.config.get("strategy", "timestamp"),
                updated_at=mdef.config.get("updated_at"),
                check_cols=mdef.config.get("check_cols", "all"),
                hard_deletes=mdef.config.get("hard_deletes", "ignore"),
                run_ts=mdef.config.get("run_ts"),
                cluster_by=mdef.config.get("cluster_by"),
                zorder_by=mdef.config.get("zorder_by"),
            )
            out = self.spark.table(rel)
        else:
            raise ValueError(f"unknown materialization: {m}")
        self._persist_docs(name, mdef, rel)
        self._run_hooks(mdef.config.get("post_hook"), name)
        self._built[name] = out
        return out

    def _persist_docs(self, name: str, mdef, rel: str) -> None:
        """Apply dbt ``persist_docs`` after every successful CATALOG
        materialization (comments do not survive the CTAS swap, so dbt
        re-issues them per build — same here). View models skip: a temp
        view has no catalog entry to comment; their docs live in the
        manifest."""
        pd_cfg = mdef.config.get("persist_docs")
        if not pd_cfg or mdef.materialized == "view":
            return
        from ..operators.materialize import persist_docs

        persist_docs(
            self.spark,
            rel,
            description=(
                mdef.config.get("description")
                if pd_cfg.get("relation", True)
                else None
            ),
            column_descriptions=(
                mdef.config.get("column_descriptions")
                if pd_cfg.get("columns", True)
                else None
            ),
        )

    def _microbatch_backfill(self, name: str, mdef) -> DataFrame:
        """Delegates to operators/incremental.py::microbatch_backfill —
        ONE backfill driver; the adapter sets the batch bounds on the
        model context (per-batch clamping lives in incremental_run's
        microbatch branch, which filters the source to the window)."""
        from ..operators.incremental import microbatch_backfill

        def model_fn(spark, b_start, b_end):
            ctx = ModelContext(self, name)
            ctx.batch_start, ctx.batch_end = b_start, b_end
            return mdef.fn(ctx)

        start, end = self.batch_range
        rel = self._relation(name)
        event_time = mdef.config.get("event_time")
        if not event_time:
            # match the non-backfill path's explicit error instead of an
            # opaque KeyError from bare config indexing
            raise ValueError(
                f"microbatch model '{name}' needs event_time config to"
                " backfill (the column the batch window filters on)"
            )
        microbatch_backfill(
            self.spark,
            rel,
            model_fn,
            event_time,
            start,
            end,
            period=mdef.config.get("batch_size", "day"),
            full_refresh=self.full_refresh,
        )
        return self.spark.table(rel)

    def _is_materialized_table(self, name: str) -> bool:
        """True only for a real managed/external table — NOT for temp
        views (``tableExists`` counts those too)."""
        try:
            t = self.spark.catalog.getTable(name)
        except Exception:
            return False
        return (t.tableType or "").upper() not in ("TEMPORARY", "TEMP_VIEW", "VIEW")

    def _run_hooks(self, hooks, model_name: str) -> None:
        """Execute pre/post hooks (``hooks.sql`` run_hooks): each hook is
        a SQL string (run via ``spark.sql``) or a Python callable taking
        the model's ``ModelContext`` — the engine's "Jinja hook" analog.
        A single hook or a list both work, like dbt's config."""
        if hooks is None:
            return
        if isinstance(hooks, (str,)) or callable(hooks):
            hooks = [hooks]
        for h in hooks:
            if callable(h):
                h(ModelContext(self, model_name))
            else:
                self.spark.sql(h)

    def add_unit_test(
        self,
        test_name: str,
        model: str,
        given: dict,
        expect,
    ) -> None:
        """DECLARE a dbt unit test (dbt 1.8 yml unit tests: model name,
        ``given`` fixture relations, ``expect`` rows) so the project's
        ``test``/``build`` commands run it alongside schema tests.
        Fixture values may be DataFrames or lazy ``callable(spark) ->
        DataFrame`` builders (the yml-fixture analog — built only when
        the test runs)."""
        self._unit_tests[test_name] = {
            "model": model,
            "given": given,
            "expect": expect,
        }

    def run_unit_tests(self, select: str | None = None) -> dict[str, dict]:
        """Run declared unit tests (optionally only those on model
        ``select`` / named ``select``). Graph selectors (``model+`` /
        ``+model``) resolve through ``select_nodes`` exactly as schema
        tests do — dbt runs BOTH test kinds for a selector, so a
        ``model+`` that ran schema tests but silently skipped unit tests
        was a selector-surface hole. A bare ``select`` that is not a
        model name still matches a test by its own name. Returns
        per-test ``{model, status, diff_rows, diff}`` where ``diff`` is
        the tagged actual/expected mismatch frame (empty = pass)."""
        models: set[str] | None = None
        if select:
            # membership pre-check (not try/except KeyError): a broken
            # ref() inside a model body raises KeyError from deps() and
            # must propagate, not read as "not a model selector"
            if select.strip("+") in self._models:
                models = self.select_nodes(select)
            else:
                models = None  # not a model selector; match by test name
        out: dict[str, dict] = {}
        for tname, t in self._unit_tests.items():
            if select and not (
                (models is not None and t["model"] in models) or select == tname
            ):
                continue
            given = {
                k: (v(self.spark) if callable(v) else v)
                for k, v in t["given"].items()
            }
            expect = (
                t["expect"](self.spark)
                if callable(t["expect"])
                else t["expect"]
            )
            diff = self.unit_test(t["model"], given, expect)
            n = diff.count()
            out[tname] = {
                "model": t["model"],
                "status": "pass" if n == 0 else "fail",
                "diff_rows": n,
                "diff": diff,
            }
        return out

    def unit_test(
        self,
        name: str,
        given: dict[str, DataFrame],
        expect: DataFrame,
    ) -> DataFrame:
        """dbt unit test (``dbt-adapters/macros/unit_test_sql/
        get_fixture_sql.sql`` + ``default__get_unit_test_sql``): build
        model ``name`` with its refs/sources REPLACED by the ``given``
        fixture relations (anything not overridden resolves normally,
        compile-style — nothing materializes), then compare against the
        ``expect`` fixture. Returns the tagged actual/expected diff —
        empty means the unit test passes."""
        from ..operators.testing import unit_test as compare

        memo: dict[str, DataFrame] = {}
        registry = self

        class _Fixture(ModelContext):
            def ref(self, n: str) -> DataFrame:  # type: ignore[override]
                return build(n)

            def source(self, n: str) -> DataFrame:  # type: ignore[override]
                return given[n] if n in given else registry.get_source(n)

        def build(n: str) -> DataFrame:
            if n in given:
                return given[n]
            if n in memo:
                return memo[n]
            if n in registry._sources:
                return registry._sources[n]
            memo[n] = registry._models[n].fn(_Fixture(registry, n))
            return memo[n]

        return compare(build(name), expect)

    def run(
        self,
        full_refresh: bool = False,
        select: str | None = None,
        event_time_start=None,
        event_time_end=None,
        state: dict | None = None,
        threads: int | None = None,
    ) -> dict[str, DataFrame]:
        """Build every registered model, or — with ``select`` — a dbt-style
        graph selection:

        - ``"name"``  just that model
        - ``"+name"`` the model and its upstream closure
        - ``"name+"`` the model and its downstream closure
        - ``"+name+"`` both
        - ``"state:modified"`` / ``"state:modified+"`` models whose code
          checksum differs from the ``state`` manifest (dbt slim CI),
          optionally with their downstream closure

        Unselected upstreams that already exist as tables are READ, not
        rebuilt (dbt ``--select`` semantics); unselected view-materialized
        upstreams rebuild lazily — they are inlined plan fragments, not
        materialized state, so "reusing" them is the same as building them.

        ``threads`` (dbt ``--threads``) sizes the worker pool (``_pool``).
        On the first error, unstarted models never start, running ones
        finish and the first error is re-raised; a model whose upstream
        failed gets no row (dbt's "skipped"), so ``retry()`` reruns it.
        """
        self.full_refresh = full_refresh
        self._built.clear()
        self._failed.clear()
        if (event_time_start is None) != (event_time_end is None):
            raise ValueError(
                "microbatch backfill needs BOTH event_time_start and"
                " event_time_end (a lone bound would silently run an"
                " unbounded build)"
            )
        self.batch_range = (
            (event_time_start, event_time_end)
            if event_time_start is not None
            else None
        )
        if select in ("state:modified", "state:modified+"):
            if state is None:
                raise ValueError("state:modified requires state=<saved manifest>")
            selected = self.modified_nodes(state)
            if select.endswith("+") and selected:
                selected = self._downstream(selected)
        elif isinstance(select, (set, frozenset, list, tuple)):
            # explicit node set (retry()'s path; also a programmatic API)
            unknown = set(select) - set(self._models)
            if unknown:
                raise KeyError(f"unknown models in selection: {sorted(unknown)}")
            selected = set(select)
        else:
            selected = self.select_nodes(select) if select else None
        self._selected = selected
        rows: dict[str, dict] = {}
        out: dict[str, DataFrame] = {}
        errors: list[Exception] = []

        def build_one(name: str) -> DataFrame:
            t0 = time.monotonic()
            status = "error"
            try:
                df = self.build(name)
                status = "success"
                return df
            except _UpstreamFailed:
                status = None  # dbt's "skipped": no row
                raise
            finally:
                if status:
                    rows[name] = {
                        "model": name,
                        "materialized": self._models[name].materialized,
                        "status": status,
                        "execute_seconds": round(time.monotonic() - t0, 3),
                    }

        running: dict = {}
        try:
            ups = self._upstream_hints(selected)
            pool, inherit = self._pool(len(ups), threads)
            task = inherit(build_one)
            with pool:
                while ups or running:
                    if not errors:
                        ready = [n for n, u in ups.items() if u <= out.keys()]
                        if not ready and not running:
                            # the hints form a cycle: release the first node
                            # and let build()'s guard report (or resolve) it
                            ready = [next(iter(ups))]
                        for n in ready:
                            del ups[n]
                            running[pool.submit(task, n)] = n
                    if not running:
                        break  # after an error, unstarted models never start
                    finished, _ = wait(running, return_when=FIRST_COMPLETED)
                    for f in finished:
                        n = running.pop(f)
                        try:
                            out[n] = f.result()
                        except Exception as exc:  # noqa: BLE001 - re-raised below
                            errors.append(exc)
            if errors:
                raise next(
                    (e for e in errors if not isinstance(e, _UpstreamFailed)),
                    errors[0],
                )
            return {n: out[n] for n in self._models if n in out}
        finally:
            self._selected = None
            self.batch_range = None  # a later build()/run_tests() must
            # not silently re-enter the backfill's table writes
            self.full_refresh = False  # per-INVOCATION flag: leaking it
            # into a later direct build() would CTAS over an incremental
            # target's accumulated history
            # run_results.json analog (dbt's per-run artifact: one row per
            # attempted node with status + timing, registration order)
            self.run_results = [rows[n] for n in self._models if n in rows]

    def run_threaded(
        self, threads: int = 4, full_refresh: bool = False
    ) -> dict[str, DataFrame]:
        """Alias of ``run(threads=…, full_refresh=…)``."""
        return self.run(full_refresh=full_refresh, threads=threads)

    def _upstream_hints(self, selected: set[str] | None) -> dict[str, set[str]]:
        """Each selected model (registration order) mapped to the selected
        models its body refs by literal name, directly or through
        unselected models (which ``build()`` resolves on demand)."""
        hints = {
            n: _ref_literals(m.fn.__code__) & self._models.keys()
            for n, m in self._models.items()
        }
        chosen = set(self._models) if selected is None else selected

        def through_unselected(front: set) -> set:
            return set().union(*(hints[u] for u in front if u not in chosen))

        return {
            n: _closure(hints[n], through_unselected) & chosen
            for n in self._models
            if n in chosen
        }

    def retry(
        self, select: str | None = None, **run_kwargs
    ) -> dict[str, DataFrame]:
        """``dbt retry`` analog: resume the previous ``run()`` from its
        failure point. Reruns (1) every model whose last run_results row
        is an error, (2) every registered model with NO row — the nodes
        fail-fast never reached (dbt's skipped class), and (3) the
        downstream closure of the errored nodes, since their outputs
        changed. Models that succeeded are NOT rebuilt: table-backed
        ones are read from the warehouse (the ``select`` reuse rule) and
        view models inline lazily as always.

        Pass the FAILED run's flags back in — dbt retry reuses the prior
        invocation's args: its ``select`` (or the "no row" rule rebuilds
        models the original run deliberately excluded — they also have
        no row), its microbatch ``event_time_start``/``event_time_end``
        (or a failed backfill resumes as an unbounded run), and its
        ``state`` manifest for ``state:modified`` selections. The CLI
        round-trips ALL of these through the artifact automatically.

        Cross-PROCESS retry additionally needs a stable warehouse
        (``SPARK_WAREHOUSE`` or the CLI's ./spark-warehouse default):
        succeeded table-backed models are READ from the warehouse, and a
        per-process temp warehouse would have discarded them.

        After the retry, ``run_results`` holds the MERGED artifact: the
        prior run's success rows for models not re-run plus this run's
        rows — so a retry-of-a-retry still sees every completed model."""
        if not self.run_results:
            raise RuntimeError(
                "retry() needs a previous run()'s run_results artifact"
            )
        done = {r["model"] for r in self.run_results if r["status"] == "success"}
        failed = {r["model"] for r in self.run_results if r["status"] == "error"}
        if not failed:
            # the previous run completed — nothing to resume (dbt retry
            # on a successful run is a no-op; "not in the artifact" only
            # means skipped when the run actually failed)
            return {}
        todo = {n for n in self._models if n not in done}
        todo |= self._downstream(failed)
        if select in ("state:modified", "state:modified+"):
            state = run_kwargs.get("state")
            if state is None:
                raise ValueError(
                    "retrying a state:modified run needs the same state"
                    " manifest the original run used"
                )
            sel = self.modified_nodes(state)
            if select.endswith("+") and sel:
                sel = self._downstream(sel)
            todo &= sel
        elif select is not None:
            todo &= self.select_nodes(select)
        if not todo:
            return {}
        prior = list(self.run_results)
        try:
            return self.run(select=todo, **run_kwargs)
        finally:
            # merge, don't overwrite: run() set run_results to just the
            # retried subset; models that succeeded in the PRIOR run and
            # were not re-run keep their success rows, so an artifact
            # written after a failed retry doesn't misclassify them as
            # never-reached on the next retry
            have = {r["model"] for r in self.run_results}
            kept = [
                r for r in prior
                if r["status"] == "success" and r["model"] not in have
            ]
            self.run_results = kept + self.run_results

    def compile(self, name: str) -> DataFrame:
        """Compile-without-running (the reference's ``analyses/`` concept —
        ``analyses/sanity_checks.sql`` is a declared placeholder: queries
        dbt compiles but never executes). Returns the model's lazy
        DataFrame with upstreams resolved in-memory; nothing is
        materialized. ``.explain()`` on the result is the compiled-SQL
        inspection analog."""
        memo: dict[str, DataFrame] = {}
        registry = self

        class _Compile(ModelContext):
            def ref(self, name: str) -> DataFrame:  # type: ignore[override]
                return build(name)

        def build(n: str) -> DataFrame:
            if n in memo:
                return memo[n]
            if n in registry._sources:
                return registry._sources[n]
            memo[n] = registry._models[n].fn(_Compile(registry, n))
            return memo[n]

        return build(name)

    # -- graph selection ---------------------------------------------------

    def deps(self) -> dict[str, set[str]]:
        """Model -> direct upstream models, discovered by running each
        model body with a recording, non-materializing context (the
        engine's analog of dbt's manifest parse: bodies are Python, so
        dependencies are observed rather than parsed).

        KNOWN TRADE-OFFS of observed (vs parsed) discovery, accepted and
        documented: (1) bodies that take eager actions pay them during
        discovery — keep bodies lazy (the registry's general contract;
        eager fits belong in pre-hooks or materialized upstreams);
        (2) a body branching on runtime state (``if ctx.is_incremental():
        ref(a) else ref(b)``) records only the taken branch, so declare
        both refs unconditionally before branching if the closure
        matters for ``select``."""
        edges: dict[str, set[str]] = {name: set() for name in self._models}
        memo: dict[str, DataFrame] = {}

        registry = self

        class _Discover(ModelContext):
            def ref(self, name: str) -> DataFrame:  # type: ignore[override]
                edges[self.name].add(name)
                return discover(name)

        def discover(name: str) -> DataFrame:
            if name in memo:
                return memo[name]
            if name in registry._sources:
                return registry._sources[name]
            df = registry._models[name].fn(_Discover(registry, name))
            memo[name] = df
            return df

        for name in self._models:
            discover(name)
        return edges

    def select_nodes(self, selector: str) -> set[str]:
        up = selector.startswith("+")
        down = selector.endswith("+")
        name = selector.strip("+")
        if name not in self._models:
            raise KeyError(f"unknown model: {name}")
        g = self.deps()
        selected = {name}
        if up:  # sources are edges in g but not models
            selected |= _closure(
                selected, lambda f: {p for n in f for p in g[n] if p in g}
            )
        if down:
            selected |= self._downstream({name}, g)
        return selected

    def _downstream(self, seeds: set[str], g: dict | None = None) -> set[str]:
        """``seeds`` and every model downstream of them, from ONE
        ``deps()`` pass (a pass runs every model body)."""
        g = self.deps() if g is None else g
        return _closure(seeds, lambda f: {c for c, ps in g.items() if ps & f})


def admin_print_query(
    spark: SparkSession, sql: str, limit: int = 100, log=print
) -> str:
    """Admin/debug helper mirroring the reference's
    ``macros/admin_print_query.sql:1-19`` (run_query + log of every row):
    execute a SQL statement, log the query and its rows, return "OK".
    ``limit`` bounds the driver fetch — the reference's unbounded row loop
    is fine for admin SELECTs but a footgun against a 100 TB table."""
    res = spark.sql(sql)
    log("---- QUERY ----")
    log(sql)
    log("---- RESULTS ----")
    for row in res.limit(limit).collect():
        log(row)
    return "OK"
