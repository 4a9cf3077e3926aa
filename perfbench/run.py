"""The repo benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload queries_llmops --seed 1 --seconds 30 --trace 0

Workloads: ``queries_llmops``, ``queries_datamart`` (queries.py) and
``datamart_daily`` (daily.py); README.md explains each and every metric.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
records the run's context (core count, versions, load average, commit).

A traced run first runs the same workload untraced in a child process, for
the tracing overhead, then runs it with Spark's event log on. Neither of
these two restarts the session for ``setup_s``, and the child does not
check its outputs, to keep the traced run short.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("queries_llmops", "queries_datamart", "datamart_daily")
SETUPS = 3  # session set-ups per run; setup_s is their median
LLMOPS_FAMILIES = (
    "similarity", "preferences", "evaluation", "dedup", "filtering",
    "splits", "textstats", "graph", "sketches", "other",
)

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}
# Other guests slow this one in two ways. They take CPU time from it, which
# /proc/stat counts as steal. And while they run on the sibling hyperthreads
# and shared caches, the CPU time this guest does get does less work. The
# second cannot be read from inside the guest, but it grows with the first:
# in forty runs on a 4-vCPU guest, the CPU time for the same work grew by
# about 0.6 times the stolen share of the CPU time asked for.
CONTENTION = 0.6


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def process_tree() -> list[int]:
    """This process and all its descendants: the driver JVM and its Python
    workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, including the children
    its processes have reaped. Time the hypervisor gave to other guests is
    not in it."""
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


@contextlib.contextmanager
def stopwatch():
    """Times the block. Yields a dict that gets ``wall_s``, the elapsed
    time; ``cpu_s``, the CPU time the process tree used; ``steal_s``, the
    CPU time the hypervisor gave to other guests meanwhile; and ``net_s``
    and ``net_cpu_s``, the time and the CPU time the block would have taken
    on a guest no other guest slowed. With ``stolen``, the share of the CPU
    time the tree asked for that it did not get, ``steal_s / (cpu_s +
    steal_s)``, and ``slow = 1 + CONTENTION * stolen``: ``net_s = wall_s *
    (1 - stolen) / slow`` and ``net_cpu_s = cpu_s / slow``."""
    out = {}
    steal0, cpu0 = steal_s(), tree_cpu_s()
    t0 = time.perf_counter()
    try:
        yield out
    finally:
        out["wall_s"] = time.perf_counter() - t0
        out["cpu_s"] = tree_cpu_s() - cpu0
        out["steal_s"] = steal_s() - steal0
        asked = out["cpu_s"] + out["steal_s"]
        stolen = out["steal_s"] / asked if asked else 0.0
        slow = 1 + CONTENTION * stolen
        out["net_s"] = out["wall_s"] * (1 - stolen) / slow
        out["net_cpu_s"] = out["cpu_s"] / slow


class RssSampler:
    """Peak resident memory of the process tree, sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_rss())


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")) or not shutil.which("git"):
        return None
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
    )
    return out.stdout.strip() or None


def isolate(work: str) -> None:
    """Pin parallelism to this host's cores and give the run its own
    warehouse, Spark scratch and temporary directories, so that it writes
    nothing outside ``work``. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    # every JVM, the launcher spark-submit starts first included; no
    # hsperfdata file under /tmp either
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def warm_up(spark) -> None:
    """A neutral aggregate that warms the JVM, independent of the repo."""
    spark.range(0, 200_000, numPartitions=nproc()).selectExpr(
        "sum(id * 3) AS s", "count(*) AS n"
    ).collect()


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def percentile(samples: list[float], q: int) -> float:
    if len(samples) == 1:
        return samples[0]
    return statistics.quantiles(samples, n=100, method="inclusive")[q - 1]


def run_workload(args, trace: bool) -> tuple[dict, dict]:
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(HERE, ".work", f"{args.workload}-{run_id}")
    os.makedirs(work)
    try:
        return _run_workload(args, trace, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run_workload(args, trace, run_id, work) -> tuple[dict, dict]:
    isolate(work)
    from tracing import COUNTERS, Spans, parse_event_logs, wrapped

    load_before = loadavg()
    spans = Spans(run_id)
    daily = args.workload == "datamart_daily"
    if daily:
        import daily as workload

        feed = workload.generate(args.seed, os.path.join(work, "feed"))
    else:
        import queries as workload

    extra_conf = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    from healthcare_dbt_datamart_spark.session import get_spark

    with spans.span("session.get_spark"):
        spark = get_spark("perfbench", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    with spans.span("session.first_action"):
        warm_up(spark)
    setups = []
    # only a run that reports setup_s restarts the session; a traced run and
    # its untraced baseline both time their pass on the first session
    for _ in range(0 if trace or args.baseline else SETUPS):
        spark.stop()
        with stopwatch() as setup:
            spark = get_spark("perfbench", extra_conf=extra_conf)
            warm_up(spark)
        setups.append(setup)
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    if daily:
        warehouse = workload.Warehouse(os.environ["SPARK_WAREHOUSE"])
        pass_args = (spark, spans, feed, warehouse)
    else:
        import __spark_entry__ as entry

        queries, oracles = entry.queries(), entry.oracle_sql()
        pass_args = (spark, spans, workload.run_order(args.workload, list(queries)), queries)

    with contextlib.ExitStack() as stack:
        if trace and daily:
            from healthcare_dbt_datamart_spark.operators import (
                incremental,
                materialize,
                snapshot,
            )

            for module, attr, name in (
                (materialize, "materialize_table", "materialize.table"),
                (incremental, "incremental_run", "incremental.run"),
                (snapshot, "snapshot_run", "snapshot.run"),
            ):
                stack.enter_context(wrapped(spans, module, attr, name))
        rss = stack.enter_context(RssSampler())
        # the pass is fixed work sized to last about --seconds on a 4-core
        # host; operations not started within three times that count as failed
        deadline = time.perf_counter() + 3 * args.seconds
        with stopwatch() as pass_, spans.span("pass"):
            records = workload.timed_pass(*pass_args, deadline)
    wall_s = spans.total("pass")

    errors = {r["name"]: r["error"] for r in records if r["error"]}
    check_t0 = time.perf_counter()
    if args.baseline:
        pass  # the traced run checks its own outputs
    elif daily:
        bad = workload.check(spark, feed)
        if bad:
            errors.setdefault(records[-1]["name"], "; ".join(bad))
    else:
        for name, why in workload.check(records, oracles).items():
            errors.setdefault(name, why)

    check_s = time.perf_counter() - check_t0
    java_version = spark.sparkContext._jvm.System.getProperty("java.version")
    spark_version = spark.version
    stop_jvm(spark)

    ops = {r["name"]: spans.total("op", op=r["name"]) for r in records}
    latencies = [ops[r["name"]] for r in records if not r["error"]] or [wall_s]
    result = {
        "correct": not errors,
        "attempted": len(records),
        "failed": len(errors),
    }
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": int(trace),
        "nproc": nproc(),
        "spark_version": spark_version,
        "java_version": java_version,
        "python_version": sys.version.split()[0],
        "loadavg_before": load_before,
        "loadavg_after": loadavg(),
        "git_commit": git_commit(),
        "raw_setup_s": statistics.median(s["wall_s"] for s in setups) if setups else None,
        "raw_wall_s": wall_s,
        "raw_cpu_s": pass_["cpu_s"],
        "steal_s": pass_["steal_s"],
        "op_samples": len(latencies),
        "op_p50_s": statistics.median(latencies),
        "op_geomean_s": statistics.geometric_mean(latencies),
        "op_p90_s": percentile(latencies, 90),
        "peak_rss_mb": rss.peak / 2**20,
        "op_seconds": ops,
        "check_s": check_s,
        "cold_setup_s": spans.total("session.get_spark") + spans.total("session.first_action"),
        "errors": errors,
    }
    if daily:
        new_rows = sum(feed["new_rows"])
        new_bytes = sum(
            os.path.getsize(p) for p in feed["members"] + feed["claims"]
        )
        context.update({
            "days": len(records) - 1,
            "full_build_s": ops[records[0]["name"]],
            "input_rows": new_rows,
            "input_rows_per_s": new_rows / wall_s,
            "warehouse_mb": warehouse.size_bytes() / 2**20,
        })

    if not trace:
        e2e = {"wall_s": pass_["net_s"], "cpu_s": pass_["net_cpu_s"]}
        if setups:
            e2e["setup_s"] = statistics.median(s["net_s"] for s in setups)
        result["metrics"] = {
            k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()
        }
        return result, context

    groups = parse_event_logs(log_dir)
    spark_c = dict.fromkeys(COUNTERS, 0.0)
    for g, c in groups.items():
        if g.startswith("bench:"):
            for k, v in c.items():
                spark_c[k] += v
    if daily:
        accounted = sum(ops.values())
    else:
        accounted = spans.total("construct") + spans.total("action")
    layers = {}
    for r in records:
        for layer, secs in r.get("layers", {}).items():
            layers[layer] = layers.get(layer, 0.0) + secs

    per_layer = {
        "session.get_spark_s": (spans.total("session.get_spark"), "s"),
        "session.first_action_s": (spans.total("session.first_action"), "s"),
        "construct_s": (spans.total("construct"), "s"),
        "construct_jobs": (sum(r.get("construct_jobs", 0) for r in records), "count"),
        "action_s": (spans.total("action"), "s"),
        "action_jobs": (sum(r.get("action_jobs", 0) for r in records), "count"),
    }
    for fam in LLMOPS_FAMILIES:
        per_layer[f"llmops.{fam}_s"] = (
            0.0 if daily else sum(
                ops[r["name"]] for r in records if r["family"] == fam
            ),
            "s",
        )
    for layer in ("stg", "int", "marts", "snapshot"):
        per_layer[f"registry.{layer}_s"] = (layers.get(layer, 0.0), "s")
    per_layer.update({
        # materialize_table also builds the first run of an incremental
        # model and of a snapshot; that time belongs to those two layers
        "materialize.table_s": (
            spans.total("materialize.table", outside=("incremental.run", "snapshot.run")),
            "s",
        ),
        "incremental.run_s": (spans.total("incremental.run"), "s"),
        "snapshot.run_s": (spans.total("snapshot.run"), "s"),
        "testing.run_tests_s": (spans.total("testing.run_tests"), "s"),
        "warehouse.bytes_written": (warehouse.bytes_written if daily else 0, "bytes"),
        "warehouse.files_written": (warehouse.files_written if daily else 0, "count"),
        "warehouse.write_amp": (
            warehouse.bytes_written / new_bytes if daily else 0.0, "ratio"
        ),
        "full_build_s": (context.get("full_build_s", 0.0), "s"),
        "input_rows_per_s": (context.get("input_rows_per_s", 0.0), "1/s"),
        "warehouse_mb": (context.get("warehouse_mb", 0.0), "MB"),
    })
    for k in ("jobs", "stages", "tasks"):
        per_layer[f"spark.{k}"] = (spark_c[k], "count")
    for k in ("executor_run_s", "executor_cpu_s", "gc_s"):
        per_layer[f"spark.{k}"] = (spark_c[k], "s")
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        per_layer[f"spark.{k}"] = (spark_c[k], "bytes")
    # executor run time is elapsed task time, stolen CPU time included, so
    # it is set against the raw pass time
    per_layer["spark.core_busy"] = (
        spark_c["executor_run_s"] / (wall_s * cores), "ratio"
    )
    per_layer["memory.peak_rss_mb"] = (context["peak_rss_mb"], "MB")
    per_layer["host.steal_s"] = (pass_["steal_s"], "s")
    per_layer["trace.unaccounted_s"] = (wall_s - accounted, "s")
    per_layer["trace.wall_s"] = (pass_["net_s"], "s")
    result["metrics"] = {
        k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()
    }
    context["spans"] = os.path.join(
        "perfbench", ".out", f"spans-{args.workload}-{args.seed}.jsonl"
    )
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    spans.write(os.path.join(ROOT, context["spans"]))
    with open(os.path.join(HERE, ".out", f"groups-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump(groups, f, indent=1, sort_keys=True)
    if abs(wall_s - accounted) > 0.05 * wall_s + 0.5:
        raise RuntimeError(
            f"operations account for {accounted:.3f} s of the {wall_s:.3f} s pass"
        )
    return result, context


def untraced_wall(args) -> float:
    """``wall_s`` of the same workload and seed, untraced, in a child
    process: the pass time corrected for other guests (see ``stopwatch``)."""
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
        "--baseline",
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError("untraced child run failed")
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=int, default=30)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the untraced child of a traced run
    p.add_argument("--baseline", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "healthcare_dbt_datamart_spark", "__init__.py")):
        print(f"no healthcare_dbt_datamart_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.trace:
        base = untraced_wall(args)
        result, context = run_workload(args, trace=True)
        # both corrected for other guests, so host noise is not counted as
        # tracing cost
        wall = result["metrics"]["trace.wall_s"]["value"]
        result["metrics"]["trace.overhead_s"] = {"value": wall - base, "unit": "s"}
    else:
        result, context = run_workload(args, trace=False)
    print(json.dumps({"context": context}, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
