"""dbt-style CLI over the model registries — the reference's operational
surface (``dbt ls / run / compile / docs generate / source freshness``,
reference ``dbt_project.yml`` + ``dbt_internal_packages/dbt-adapters``
task macros) re-expressed over the engine's registry runtime.

    python -m healthcare_dbt_datamart_spark ls    --project datamart
    python -m healthcare_dbt_datamart_spark run   --project corpus_release \
        --select +release_manifest [--full-refresh] [--counts]
    python -m healthcare_dbt_datamart_spark compile --project datamart \
        --model int_gap_col_status
    python -m healthcare_dbt_datamart_spark docs  --project curation
    python -m healthcare_dbt_datamart_spark source-freshness --project datamart
    python -m healthcare_dbt_datamart_spark test  --project datamart
    python -m healthcare_dbt_datamart_spark clone --project datamart \
        --clone-prefix ci_

Projects bind the registered DAGs to the driver testdata
(``--sf-dir``, default ``$SPARK_GRAFT_SF_DIR`` or sf0.01):

- ``datamart``        the reference HEDIS gap datamart (models/datamart.py)
- ``curation``        the corpus QA funnel (models/curation.py)
- ``corpus_release``  the training-corpus release pipeline
                      (models/corpus_release.py)

``run`` prints one line per built model; views build lazily (DDL-only,
like dbt's view materialization — no scan unless ``--counts``), tables/
incremental/snapshots materialize through their strategies.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _project(name: str, spark, sf_dir: str):
    from .models import testdata_queries as tq

    if name == "datamart":
        from .models.datamart import build_datamart

        members, claims, codes = tq._gap_inputs(spark, sf_dir)
        return build_datamart(spark, members, claims, codes, tq.GAP_PARAMS)
    if name == "curation":
        from .models.curation import build_curation

        return build_curation(spark, tq.load_spread(spark, sf_dir, "documents"))
    if name == "corpus_release":
        from .models.corpus_release import build_corpus_release

        return build_corpus_release(
            spark, tq.load_spread(spark, sf_dir, "documents")
        )
    raise SystemExit(f"unknown project: {name!r}")


def render_preview(df, limit: int) -> str:
    """dbt-show preview box via PUBLIC APIs only (no ``df._jdf`` — works
    under Spark Connect): fetch limit+1 rows so the truncation notice
    stays honest, format cells in Spark's ``showString`` forms (hex
    brackets for binary, braces for structs/maps — Python reprs like
    ``bytearray(...)`` are unreadable after truncation), truncate at 20
    chars and right-align like Spark."""
    from pyspark.sql import Row

    rows = df.limit(limit + 1).collect()
    shown, more = rows[:limit], len(rows) > limit
    cols = df.columns

    def _fmt(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, (bytes, bytearray)):
            return "[" + " ".join(f"{b:02X}" for b in v) + "]"
        if isinstance(v, Row):
            return "{" + ", ".join(_fmt(x) for x in v) + "}"
        if isinstance(v, (list, tuple)):
            return "[" + ", ".join(_fmt(x) for x in v) + "]"
        if isinstance(v, dict):
            return (
                "{"
                + ", ".join(f"{_fmt(k)} -> {_fmt(x)}" for k, x in v.items())
                + "}"
            )
        return str(v)

    def _cell(v) -> str:
        s = _fmt(v)
        return s if len(s) <= 20 else s[:17] + "..."

    table = [[_cell(v) for v in r] for r in shown]
    widths = [
        max(len(c), *(len(t[i]) for t in table)) if table else len(c)
        for i, c in enumerate(cols)
    ]
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    fmt = "|" + "|".join(f" {{:>{w}}} " for w in widths) + "|"
    out = [sep, fmt.format(*cols), sep]
    out += [fmt.format(*t) for t in table]
    out.append(sep)
    if more:
        out.append(f"only showing top {limit} rows")
    return "\n".join(out)


def main(argv: list[str] | None = None, log=print) -> int:
    p = argparse.ArgumentParser(prog="healthcare_dbt_datamart_spark")
    p.add_argument(
        "command",
        choices=[
            "ls", "run", "retry", "build", "test", "compile", "docs",
            "source-freshness", "clone", "show",
        ],
    )
    p.add_argument(
        "--project",
        default="datamart",
        choices=["datamart", "curation", "corpus_release"],
    )
    p.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    p.add_argument("--select", default=None, help="dbt graph selector: [+]name[+]")
    p.add_argument("--model", default=None, help="model for `compile`/`show`")
    p.add_argument(
        "--limit",
        type=int,
        default=5,
        help="row preview size for `show` (dbt show --limit)",
    )
    p.add_argument("--full-refresh", action="store_true")
    p.add_argument(
        "--event-time-start",
        default=None,
        help="microbatch backfill range start (ISO datetime/date)",
    )
    p.add_argument(
        "--event-time-end",
        default=None,
        help="microbatch backfill range end (ISO datetime/date)",
    )
    p.add_argument(
        "--state",
        default=None,
        help="saved manifest JSON (from `docs`) for state:modified selection",
    )
    p.add_argument(
        "--artifact",
        default=None,
        help="write a run_results.json analog after `run`/`retry`;"
        " `retry` also READS it to find the failure point",
    )
    p.add_argument(
        "--clone-prefix",
        default="ci_",
        help="target-name prefix for `clone`",
    )
    p.add_argument(
        "--threads",
        type=int,
        default=None,
        help="dbt --threads analog for `run`/`retry`/`build`: build up to"
        " N models concurrently (default: one per selected model, up to"
        " Spark's default parallelism)",
    )
    p.add_argument(
        "--counts",
        action="store_true",
        help="also count rows of each built model (forces a scan of views)",
    )
    a = p.parse_args(argv)

    from .session import get_spark

    # STABLE warehouse for the CLI (unlike the per-process temp default,
    # which exists for test/bench isolation): incremental + snapshot state
    # must persist across invocations, and `retry` — a new process — reads
    # succeeded table-backed models back from here. SPARK_WAREHOUSE still
    # overrides for callers that manage their own catalog location.
    warehouse = os.environ.get("SPARK_WAREHOUSE") or os.path.abspath(
        "spark-warehouse"
    )
    spark = get_spark("cli", extra_conf={"spark.sql.warehouse.dir": warehouse})
    spark.sparkContext.setLogLevel("ERROR")
    r = _project(a.project, spark, a.sf_dir)
    man = r.manifest()

    if a.command == "ls":
        for name, node in man["nodes"].items():
            deps = ",".join(sorted(node.get("depends_on", []))) or "-"
            log(f"{node.get('materialized', 'view'):>12}  {name}  <- {deps}")
        return 0

    if a.command == "docs":
        log(json.dumps(man, indent=2, sort_keys=True, default=str))
        return 0

    if a.command == "compile":
        if not a.model:
            raise SystemExit("compile requires --model")
        df = r.compile(a.model)
        log(
            spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        return 0

    if a.command == "show":
        # dbt show: compile the model (nothing materializes) and preview
        # --limit rows — the quick what-would-this-produce loop
        if not a.model:
            raise SystemExit("show requires --model")
        df = r.compile(a.model)
        log(render_preview(df, a.limit))
        return 0

    if a.command == "test":
        results = r.run_tests(select=a.select)
        unit = r.run_unit_tests(select=a.select)
        if not results and not unit:
            if a.select:
                # dbt errors on a selector that matches nothing — a typo'd
                # node name must not read as "all tests passed"
                raise SystemExit(
                    f"--select {a.select!r} matched no model, graph"
                    " selector, or unit-test name"
                )
            log("no models declare schema or unit tests")
            return 0
        worst = 0
        for model, tests in results.items():
            for t in tests:
                log(f"{t.status.upper():>5}  {model}.{t.name}  failures={t.failures}")
                worst = max(worst, {"pass": 0, "warn": 1, "fail": 2}[t.status])
        for tname, res in unit.items():
            log(
                f"{res['status'].upper():>5}  unit:{res['model']}.{tname}"
                f"  diff_rows={res['diff_rows']}"
            )
            worst = max(worst, {"pass": 0, "fail": 2}[res["status"]])
        return 2 if worst == 2 else 0

    if a.command == "clone":
        # dbt clone (defer workflow): snapshot every EXISTING table-backed
        # relation of the project into <prefix><name> — zero-copy
        from .operators.materialize import clone_table

        prefix = a.clone_prefix
        n = 0
        for name, node in man["nodes"].items():
            if node.get("materialized") == "view":
                continue
            # custom-schema models materialize under their layer database
            # (manifest "relation"); the clone lands in the current db
            # under the prefix, like dbt clone's target-schema remap
            rel = node.get("relation", name)
            if not spark.catalog.tableExists(rel):
                log(f"SKIP  {rel} (not built)")
                continue
            files = clone_table(spark, rel, f"{prefix}{name}", replace=True)
            log(f"OK    {rel} -> {prefix}{name} ({files} files linked)")
            n += 1
        log(f"cloned {n} relations")
        return 0

    if a.command == "source-freshness":
        results = r.check_freshness()
        if not results:
            log("no sources declare a freshness contract")
        for src, res in results.items():
            log(f"{src}: {res}")
        return 0

    # run / retry / build
    import datetime as _dt

    parse_ts = lambda v: _dt.datetime.fromisoformat(v) if v else None  # noqa: E731
    state = None
    if a.state:
        with open(a.state) as f:
            state = json.load(f)
    def write_artifact(
        select: str | None,
        event_time_start: str | None = None,
        event_time_end: str | None = None,
        state_path: str | None = None,
    ) -> None:
        # dbt ALWAYS writes run_results.json, success or failure — the
        # failed run's artifact is precisely what `retry` resumes from.
        # The invoked flags ride along (dbt retry reuses ALL prior-
        # invocation args): the selection so retry doesn't rebuild models
        # the original run deliberately excluded, the microbatch bounds so
        # a failed backfill resumes bounded instead of unbounded, and the
        # state manifest path for state:modified selections.
        if a.artifact:
            with open(a.artifact, "w") as f:
                json.dump(
                    {
                        "results": r.run_results,
                        "select": select,
                        "event_time_start": event_time_start,
                        "event_time_end": event_time_end,
                        "state": state_path,
                    },
                    f,
                    indent=2,
                )
            log(f"wrote run artifact: {a.artifact}")

    if a.command == "retry":
        # dbt retry: resume from the previous invocation's artifact —
        # the CLI is per-process, so the failure point AND the failed
        # run's flags come from the run_results.json it wrote
        if not a.artifact:
            log("retry needs --artifact <run_results.json from the failed run>")
            return 2
        if a.select or a.event_time_start or a.event_time_end or a.state:
            # dbt retry takes no selection/backfill flags: it REUSES the
            # failed invocation's, which ride in the artifact — accepting
            # fresh ones here would silently retry a different run
            log(
                "retry reuses the failed run's --select/--event-time-*/"
                "--state from the artifact; don't pass them again"
            )
            return 2
        with open(a.artifact) as f:
            art = json.load(f)
        r.run_results = art["results"]
        prior_select = art.get("select")
        prior_ets = art.get("event_time_start")
        prior_ete = art.get("event_time_end")
        prior_state_path = art.get("state")
        prior_state = None
        if prior_state_path:
            with open(prior_state_path) as f:
                prior_state = json.load(f)
        try:
            built = r.retry(
                select=prior_select,
                threads=a.threads,
                full_refresh=a.full_refresh,
                event_time_start=parse_ts(prior_ets),
                event_time_end=parse_ts(prior_ete),
                state=prior_state,
            )
        except Exception:
            write_artifact(prior_select, prior_ets, prior_ete, prior_state_path)
            raise
        if not built:
            log("nothing to retry: the previous run completed")
        else:
            write_artifact(prior_select, prior_ets, prior_ete, prior_state_path)
    else:
        try:
            built = r.run(
                threads=a.threads,
                full_refresh=a.full_refresh,
                select=a.select,
                event_time_start=parse_ts(a.event_time_start),
                event_time_end=parse_ts(a.event_time_end),
                state=state,
            )
        except Exception:
            write_artifact(a.select, a.event_time_start, a.event_time_end, a.state)
            raise
    timing = {res["model"]: res for res in r.run_results}
    for name, df in built.items():
        mat = man["nodes"].get(name, {}).get("materialized", "view")
        secs = timing.get(name, {}).get("execute_seconds", 0.0)
        suffix = f"  rows={df.count()}" if a.counts else ""
        log(f"OK  {mat:>12}  {name}  {secs:.2f}s{suffix}")
    if a.command != "retry":
        write_artifact(a.select, a.event_time_start, a.event_time_end, a.state)
    if a.command == "build":
        # dbt build: models AND their declared schema tests in one
        # invocation; a failing test fails the build (exit 2), like
        # dbt's build stopping downstream work on broken contracts —
        # the artifact is already written above either way
        worst = 0
        for model, tests in r.run_tests(select=a.select).items():
            for t in tests:
                log(f"{t.status.upper():>5}  {model}.{t.name}  failures={t.failures}")
                worst = max(worst, {"pass": 0, "warn": 1, "fail": 2}[t.status])
        for tname, res in r.run_unit_tests(select=a.select).items():
            log(
                f"{res['status'].upper():>5}  unit:{res['model']}.{tname}"
                f"  diff_rows={res['diff_rows']}"
            )
            worst = max(worst, {"pass": 0, "fail": 2}[res["status"]])
        if worst == 2:
            return 2
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
