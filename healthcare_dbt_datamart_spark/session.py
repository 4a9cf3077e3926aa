"""SparkSession factory, per-session state, scoped caches, the
lineage-cut policy and driver-held local frames.

Mirrors the runtime assumptions the reference bakes into its adapter:
UTC timestamps (dbt-snowflake normalizes ``current_timestamp`` to UTC,
reference ``dbt_internal_packages/dbt-snowflake/macros/utils/timestamps.sql:1-3``)
and an optimizer that is trusted to pick physical strategies (Snowflake
there, Catalyst + AQE here).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_WAREHOUSE_DIR: str | None = None


def _process_warehouse() -> str:
    """One mkdtemp-unique warehouse per process, removed at exit.

    mkdtemp (not a PID-derived path) because PIDs recycle: a new process
    handed a dead one's PID would inherit its leftover table dirs and
    saveAsTable would write NEXT TO stale parquet — the exact mixed-file
    race the per-process dir exists to kill. Best-effort rmtree at exit
    keeps /tmp from accumulating a dir per run.
    """
    global _WAREHOUSE_DIR
    if _WAREHOUSE_DIR is None:
        import atexit
        import shutil
        import tempfile

        _WAREHOUSE_DIR = tempfile.mkdtemp(prefix="spark-graft-warehouse-")
        atexit.register(shutil.rmtree, _WAREHOUSE_DIR, ignore_errors=True)
    return _WAREHOUSE_DIR


def get_spark(
    app_name: str = "healthcare-dbt-datamart-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Local testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    master is taken from the environment / spark-submit. AQE is always on:
    it supplies runtime join re-planning, partition coalescing and skew-join
    splitting, which is how this engine survives skewed keys at 100 TB.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Per-PROCESS warehouse: two local sessions sharing one CWD (a pytest
    # run next to a bench run) would otherwise race on the same
    # spark-warehouse table slots — one process's table swap deletes
    # parquet files the other has already planned a scan over
    # (FAILED_READ_FILE mid-query). A process-unique default keeps every
    # session's managed tables private; callers that genuinely share a
    # catalog across processes pass an explicit dir via SPARK_WAREHOUSE /
    # extra_conf — the CLI (__main__.py) does exactly that with a stable
    # ./spark-warehouse so incremental/snapshot state and `retry`'s
    # read-back of succeeded tables survive across invocations. Harmless
    # for the driver contract: the driver builds its own session, and
    # queries resolve the warehouse via spark.sql.warehouse.dir at run
    # time, wherever it points.
    warehouse = os.environ.get("SPARK_WAREHOUSE") or _process_warehouse()
    # In local mode the executors share the driver JVM, and Spark's
    # default driver heap is 1g — tight enough that materializing a
    # multi-copy build OOMs (tools/scale_curve.py at 30x) and GCLocker
    # retries show up under allocation pressure. 4g measured as the
    # sweet spot HERE: same speed as 1g on the heavy queries, headroom
    # for builds — while 16g measured 2x SLOWER on this virtualized
    # host (large-heap page-touch cost under memory overcommit), so
    # bigger is genuinely not better. Only effective at JVM launch;
    # harmless on getOrCreate reuse.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
    # One C2 compiler thread (2 is the tiered minimum: one C1, one C2).
    # In a short local pass the C2 threads were the largest CPU consumer,
    # compiling framework code (JDK serialization, Janino, Catalyst) that
    # a session of seconds never pays back. With one C2 thread only code
    # that stays hot reaches C2, so steady state holds: on 4 cores pass
    # CPU fell ~19 % on both perfbench workloads and the sf0.1 bench
    # total moved +1.3 %. Only effective at JVM launch, and only for the
    # driver JVM: in local mode that JVM is also the executors, on a
    # cluster the executors keep their own defaults. A caller's own
    # extraJavaOptions go after the flag, so theirs win (HotSpot takes
    # the last occurrence).
    conf = dict(extra_conf or {})
    caller_opts = conf.pop("spark.driver.extraJavaOptions", "")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.driver.memory", driver_mem)
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:CICompilerCount=2 {caller_opts}".rstrip(),
        )
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.maxResultSize", "2g")
        .config("spark.ui.enabled", "false")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone to UTC (idempotent).

    Query functions call this defensively so date extraction from the
    timestamp-typed parquet columns is deterministic regardless of which
    session the driver hands us.
    """
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def session_cached(spark: SparkSession, key, build):
    """Return ``build()``, memoized under ``key`` for this session.

    The store is one dict held by the session object itself, so its
    entries live exactly as long as the session: ``spark.newSession()``
    starts with an empty store, and a collected session drops its
    entries with it. ``build`` runs on a miss only; whatever it returns
    (a DataFrame, fitted model state) is stored as is.

    The store is not synchronised. Two threads missing the same key
    together would both build it; no caller does this today (registry
    model bodies never call the query helpers, and the CLI's projection
    runs them on the main thread).
    """
    store = vars(spark).setdefault("_session_store", {})
    if key not in store:
        store[key] = build()
    return store[key]


@contextmanager
def pinned(df: DataFrame):
    """Persist ``df`` for the block and unpersist it on every exit, return
    or raise: the one place the package pairs ``persist``/``unpersist``
    for a scoped cache.

    One storage level, Spark's DataFrame default
    (``MEMORY_AND_DISK_DESER``). Lazy: the first action that reads the
    yielded frame fills the cache. A caller that must fill it before
    releasing an upstream cache runs its own action (a ``count()``).

    Whatever the block returns must not read the cache, which is gone
    once the block exits: cut it with ``truncate_lineage`` inside the
    block. The two Bradley-Terry fits and ``elo_boards`` cut their
    per-item ``tot`` totals that way; a loop's last-round cut does the
    same for its state."""
    cached = df.persist()
    try:
        yield cached
    finally:
        cached.unpersist()


def truncate_lineage(
    df: DataFrame, rnd: int = 0, n_iter: int = 1, checkpoint_every: int = 1
) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage: the one place the
    package calls ``checkpoint``/``localCheckpoint``.

    Where the cut lives is a session setting, not an operator option
    (MLlib's ``checkpointInterval`` rule). With a checkpoint dir set
    (``sparkContext.setCheckpointDir`` — HDFS/object storage on a real
    cluster) it is ``checkpoint(eager=True)``, which survives executor
    loss. Without one it is ``localCheckpoint(eager=True)``: executor
    memory, fast, but lost with the executor that holds it.

    In a loop, pass the round index ``rnd`` of ``n_iter`` rounds: the
    cut runs every ``checkpoint_every`` rounds (lineage grows at most
    that many rounds deep between cuts) and always on the last round,
    so a loop never returns a plan that reads through caches it has
    released. The defaults cut unconditionally. Results are identical
    in every mode: a cut only moves where the state lives."""
    if rnd + 1 != int(n_iter) and (rnd + 1) % max(int(checkpoint_every), 1):
        return df
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-held ``rows`` (tuples matching ``schema``,
    a DDL string or ``StructType``): the one place the package calls
    ``createDataFrame``.

    The rows travel as one Arrow table and plan as a JVM
    ``LocalRelation`` (``LocalTableScan``). ``createDataFrame(list, …)``
    would plan a ``PythonRDD`` scan instead, so every action touching
    the frame (a broadcast of centroids, a seed row, a one-row report)
    would start Python workers. Rows are checked as the list path
    checks them: a row of the wrong arity raises ``ValueError``, a value
    its column cannot hold (``"x"`` or ``1.5`` in a ``bigint``) raises
    ``TypeError``/``ValueError``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import (
        StructType,
        _make_type_verifier,
        _parse_datatype_string,
    )

    struct = (
        schema
        if isinstance(schema, StructType)
        else _parse_datatype_string(schema)
    )
    verify = _make_type_verifier(struct)
    rows = list(rows)
    for row in rows:
        if not isinstance(row, (tuple, list)) or len(row) != len(struct):
            raise ValueError(
                f"row {row!r} does not match {struct.simpleString()}"
            )
        verify(row)
    columns = zip(*rows) if rows else [()] * len(struct)
    table = pa.Table.from_arrays(
        [
            pa.array(col, type=to_arrow_type(f.dataType))
            for col, f in zip(columns, struct.fields)
        ],
        names=struct.fieldNames(),
    )
    return spark.createDataFrame(table, schema=struct)


@contextmanager
def job_group(spark: SparkSession, group_id: str, description: str = ""):
    """Workload attribution: tag every job submitted inside the block —
    the Spark analog of Snowflake query tags (reference
    ``dbt-snowflake/macros/adapters.sql:134-167``). Shows up in the Spark
    UI / event logs per group, which is how a shared 1000-executor
    cluster attributes cost back to a model."""
    sc = spark.sparkContext
    sc.setJobGroup(group_id, description or group_id, interruptOnCancel=False)
    try:
        yield spark
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
