"""Materializations: how a model's DataFrame becomes a named relation.

Re-expresses the reference's materialization layer
(``dbt_internal_packages/dbt-adapters/macros/materializations/models/``):

- view   -> temp view (stage/intermediate default, ``dbt_project.yml:22-29``;
            ``view.sql:41-55`` create-or-replace swap)
- table  -> saveAsTable with write-temp-then-swap for atomic publish
            (marts default; ``table.sql:30-59`` backup-rename-drop dance)
- incremental -> strategy-dispatched DML (see ``incremental_strategies.py``)
- seed   -> CSV -> typed table (``seeds/helpers.sql:7-27,98-130``; Spark's
            bulk reader replaces the 10k-row INSERT batching)
- materialized_view -> recompute-on-run table (Spark has no MV; S10):
            the registry writes it through ``materialize_table``

Tables are plain parquet through the session catalog. The swap gives the
same reader-consistency the reference gets from Snowflake's atomic
create-or-replace: readers of the old table name see old data until the
rename completes. On Delta-enabled clusters ``mode("overwrite")`` is
already atomic and the swap collapses to a single write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def recover_swap(spark: SparkSession, name: str) -> bool:
    """If a crash mid-``materialize_table`` swap left no target, promote
    the backup — the swap never completed, so the pre-swap contents are
    the correct durable state. Returns whether the target exists after
    recovery."""
    if spark.catalog.tableExists(name):
        return True
    backup = f"{name}__dbt_backup"
    if spark.catalog.tableExists(backup):
        spark.sql(f"ALTER TABLE {backup} RENAME TO {name}")
        spark.catalog.refreshTable(name)
        return True
    return False


def _local_path(uri: str) -> str:
    """A ``file:`` URI as a local-FS path (other paths unchanged)."""
    return uri[5:] if uri.startswith("file:") else uri


def _slot_path(spark: SparkSession, name: str) -> str:
    """The warehouse-slot directory the catalog would assign ``name``,
    resolved the way the catalog does: a non-default database nests under
    ``<warehouse>/<db>.db/`` — computing ``<warehouse>/<name>`` regardless
    would point at an UNRELATED default-db table's directory whenever the
    session's current database differs. Scheme-stripped for local-FS use."""
    if "." in name:
        db, table = name.lower().split(".", 1)
    else:
        db, table = spark.catalog.currentDatabase().lower(), name.lower()
    rel = table if db == "default" else f"{db}.db/{table}"
    import os

    wh = spark.conf.get("spark.sql.warehouse.dir")
    return os.path.join(_local_path(wh), rel)


def _drop_stale_location(spark: SparkSession, name: str) -> None:
    """Remove a warehouse-slot directory the CATALOG does not know about:
    the leftover of a session that died between write and (persistent)
    catalog registration, of an in-memory catalog that evaporated with
    its session, or of a just-DROPped EXTERNAL table (DROP keeps external
    files). CTAS and ALTER TABLE RENAME both refuse to reuse the location
    (LOCATION_ALREADY_EXISTS), so a leftover dir would wedge the swap
    forever. Callers invoke this only when no live catalog entry points
    at the path (tableExists is False, or the entry was dropped in the
    same statement) — hence no reader can resolve it."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(_slot_path(spark, name))
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


def materialize_view(spark: SparkSession, name: str, df: DataFrame) -> None:
    """CREATE OR REPLACE VIEW (``view.sql:41-55``). Temp view: zero
    materialization cost, Catalyst inlines it into downstream plans —
    exactly the reference's single-query CTE pipelining."""
    df.createOrReplaceTempView(name)


def materialize_table(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    cluster_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    partition_by: list[str] | None = None,
    zorder_by: tuple[str, str] | None = None,
) -> None:
    """CTAS + swap (``table.sql:30-59``).

    ``cluster_by`` mirrors Snowflake ``cluster_by`` -> ``order by`` on CTAS
    (``dbt-snowflake/macros/relations/table/create.sql:115-120``):
    repartitionByRange + sortWithinPartitions before write, which gives
    parquet min/max row-group stats and downstream partition pruning.

    ``bucket_by=(n, cols)`` hash-buckets the table on ``cols`` — the
    engine's co-located-join knob (no Snowflake analog; micro-partition
    pruning is implicit there). Two tables bucketed on their join key
    with the same bucket count join WITHOUT an Exchange: the shuffle is
    paid once at write time instead of on every read — the right trade
    for 100 TB fact tables joined repeatedly on the same key.

    ``partition_by`` writes hive-style directory partitions — coarse,
    low-cardinality keys only (date, region): downstream filters on the
    key prune whole directories at planning time (``PartitionFilters`` in
    the scan), the first lever against a 100 TB full scan.

    ``zorder_by=(a, b)`` is the TWO-dimension cluster_by (Delta
    ``OPTIMIZE ZORDER BY`` analog, ``functions/layout.py``): files carry
    tight footer min/max on BOTH integer columns, so either one prunes.
    Mutually exclusive with ``cluster_by`` — z-order IS the sort.
    """
    if zorder_by:
        if cluster_by:
            raise ValueError(
                "zorder_by replaces cluster_by (it IS the sort order);"
                " pass one or the other"
            )
        from ..functions.layout import zorder_cluster

        df = zorder_cluster(df, *zorder_by)
    if cluster_by:
        df = df.repartitionByRange(*cluster_by).sortWithinPartitions(*cluster_by)
    if partition_by and not (bucket_by or cluster_by or zorder_by):
        # REBALANCE on the partition key before a hive-partitioned write:
        # without it every write task emits a file into every directory
        # (tasks × partitions small files — slow commit, slow downstream
        # listing); with it each directory is written by as few tasks as
        # its size needs. AQE's rebalance both coalesces small partition
        # values and SPLITS oversized ones, so one giant partition value
        # does not serialize onto a single reducer. Row content is
        # untouched — layout only. SKIPPED when a sort/bucket layout is
        # also declared: the rebalance shuffle would silently destroy the
        # cluster_by/zorder_by row order (and a bucketed write already
        # groups rows by bucket), the exact silent-layout-loss failure
        # this function exists to prevent (round-12 ADVICE).
        df = df.hint("rebalance", *partition_by)
    writer = df.write.mode("overwrite").format("parquet")
    if bucket_by:
        n, cols = bucket_by
        writer = writer.bucketBy(n, *cols).sortBy(*cols)
    if partition_by:
        # partition metadata stores absolute locations, which an ALTER
        # TABLE RENAME does not rewrite — the tmp+rename swap would strand
        # them. Direct overwrite instead; on Delta this is atomic anyway.
        # Same stale-slot discipline as the swap path below: a warehouse
        # dir the CATALOG does not know about (a previous session's
        # leftover — in-memory catalogs evaporate with their session)
        # would wedge the CTAS with LOCATION_ALREADY_EXISTS forever.
        if not spark.catalog.tableExists(name):
            _drop_stale_location(spark, name)
        writer.partitionBy(*partition_by).saveAsTable(name)
        return
    import os.path

    tmp, backup = f"{name}__dbt_tmp", f"{name}__dbt_backup"
    # a crash between `name RENAME TO backup` and `tmp RENAME TO name`
    # leaves the backup as the ONLY surviving copy of the table: promote
    # it, never drop it; the rebuild below then swaps against it
    exists = recover_swap(spark, name)
    # a promoted EXTERNAL backup keeps reading the backup SLOT directory
    # (catalog renames don't move external files) — never clear a slot a
    # live table still reads
    protected = (
        {os.path.normpath(_table_location(spark, name))} if exists else set()
    )
    for t in (tmp, backup):
        if spark.catalog.tableExists(t):  # crashed mid-swap, live catalog
            spark.sql(f"DROP TABLE {t}")
        if os.path.normpath(_slot_path(spark, t)) not in protected:
            _drop_stale_location(spark, t)  # stale dir / ex-EXTERNAL files
    writer.saveAsTable(tmp)
    if spark.catalog.tableExists(name):
        # backup-rename-drop, NOT drop-then-rename: the old target is
        # never dropped before the new table holds its name, so a crash
        # at any point leaves either the target or {name}__dbt_backup in
        # the catalog and recover_swap restores it — a DROP/RENAME
        # window would silently lose the whole table (this path rebuilds
        # incremental and snapshot targets and every streaming state
        # table too)
        spark.sql(f"ALTER TABLE {name} RENAME TO {backup}")
        # a MANAGED rename moved its directory out of the name slot; an
        # EXTERNAL old target (e.g. a clone target parked at the slot)
        # renames catalog-only and the backup still READS the slot dir —
        # blindly clearing the slot would gut the crash-recovery copy.
        # Relocate it first: hardlink-copy into the (just-cleared) backup
        # slot — O(files) metadata, bytes shared, every window crash-safe:
        # before SET LOCATION the backup still reads the intact slot dir,
        # after it reads the linked copy
        slot = os.path.normpath(_slot_path(spark, name))
        if os.path.normpath(_table_location(spark, backup)) == slot:
            _link_tree(slot, _slot_path(spark, backup))
            spark.sql(
                f"ALTER TABLE {backup} SET LOCATION '{_slot_path(spark, backup)}'"
            )
        _drop_stale_location(spark, name)  # EXTERNAL occupant's files
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {name}")
        spark.sql(f"DROP TABLE {backup}")
        _drop_stale_location(spark, backup)  # ex-EXTERNAL backup's files
    else:
        # clear the warehouse slot: an EXTERNAL occupant (e.g. a
        # clone_table target) keeps its files through DROP and would
        # wedge the rename; hardlinked bytes stay alive through the
        # source's own links, so this never destroys shared data.
        # Orphans of a dead session are cleared by the same call.
        _drop_stale_location(spark, name)
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {name}")
    spark.catalog.refreshTable(name)


def _link_tree(src_loc: str, dst_loc: str) -> int:
    """Mirror a data directory into ``dst_loc`` by hardlink (zero-copy:
    new name, same inode; parquet files are immutable so shared bytes
    never mutate), falling back to a real copy across devices / on
    filesystems without hardlinks. Returns the number of data files
    (markers like _SUCCESS excluded)."""
    import os
    import shutil

    n_files = 0
    for dirpath, _dirnames, filenames in os.walk(src_loc):
        rel = os.path.relpath(dirpath, src_loc)
        out_dir = dst_loc if rel == "." else os.path.join(dst_loc, rel)
        os.makedirs(out_dir, exist_ok=True)
        for fn in filenames:
            src_f = os.path.join(dirpath, fn)
            dst_f = os.path.join(out_dir, fn)
            try:
                os.link(src_f, dst_f)
            except OSError:  # cross-device / FS without hardlinks
                shutil.copy2(src_f, dst_f)
            if not fn.startswith(("_", ".")):  # data files, not markers
                n_files += 1
    return n_files


def _table_location(spark: SparkSession, name: str) -> str:
    """Filesystem path of a table's data directory (DESCRIBE FORMATTED
    'Location' row), scheme-stripped for local-FS use."""
    for r in spark.sql(f"DESCRIBE FORMATTED {name}").collect():
        if (r.col_name or "").strip() == "Location":
            return _local_path(r.data_type.strip())
    raise ValueError(f"no Location in DESCRIBE FORMATTED {name}")


def clone_table(
    spark: SparkSession, source: str, target: str, *, replace: bool = False
) -> int:
    """S9 zero-copy clone (``dbt-snowflake/macros/materializations/
    clone.sql:5-11`` — ``create or replace table ... clone ...``).

    Snowflake CLONE is a metadata-only copy-on-write snapshot: O(metadata)
    cost, snapshot-isolated from later source rebuilds, independent
    lifecycle. Spark's parquet catalog has no COW layer, but the same
    observable contract holds on a POSIX filesystem via hardlinks: every
    data file is linked (not copied) into the target's directory, so the
    clone shares bytes with the source until either side's lifecycle
    unlinks its references. Parquet files are immutable once written (the
    engine only ever swaps whole files), so shared bytes never mutate —
    the COW granularity is the file, and any rewrite naturally unshares.
    Cross-device/object-store paths fall back to a copy (correct, not
    zero-cost); on a real cluster this operator maps to the native
    equivalent (Delta ``SHALLOW CLONE`` / Iceberg snapshot-ref) — this is
    the local-mode analog with identical semantics.

    Partition layout is mirrored directory-for-directory and re-discovered
    with MSCK REPAIR, so partition pruning works on the clone. Returns the
    number of data files linked.
    """
    if "." in target:
        # the SOURCE may be database-qualified (its location is read from
        # the catalog, wherever it lives — e.g. a custom-schema model
        # relation); the TARGET lands in the current database, whose
        # warehouse-slot layout this clone manages
        raise ValueError(
            "clone_table target must be unqualified (current-database"
            " scope): the warehouse-slot layout this clone manages is"
            " per-database"
        )
    if spark.catalog.tableExists(target):
        if not replace:
            raise ValueError(f"clone target {target!r} exists (replace=False)")
        spark.sql(f"DROP TABLE {target}")
    _drop_stale_location(spark, target)

    src_loc = _table_location(spark, source)
    dst_loc = _slot_path(spark, target)

    n_files = _link_tree(src_loc, dst_loc)

    part_cols = [c.name for c in spark.catalog.listColumns(source) if c.isPartition]
    ddl = spark.table(source)._jdf.schema().toDDL()
    stmt = f"CREATE TABLE {target} ({ddl}) USING parquet"
    if part_cols:
        stmt += f" PARTITIONED BY ({', '.join(part_cols)})"
    bucket = _bucket_spec(spark, source)
    if bucket:
        n, cols, sort_cols = bucket
        stmt += f" CLUSTERED BY ({', '.join(cols)})"
        if sort_cols:
            stmt += f" SORTED BY ({', '.join(sort_cols)})"
        stmt += f" INTO {n} BUCKETS"
    stmt += f" LOCATION '{dst_loc}'"
    spark.sql(stmt)
    if part_cols:
        spark.sql(f"MSCK REPAIR TABLE {target}")
    return n_files


def _bucket_spec(spark: SparkSession, name: str):
    """(num_buckets, bucket_cols, sort_cols) from DESCRIBE FORMATTED, or
    None for an unbucketed table — a clone must carry the bucket layout
    or it silently loses the shuffle-free-join property the source paid
    a write-time shuffle for."""
    n, cols, sort_cols = None, [], []
    for r in spark.sql(f"DESCRIBE FORMATTED {name}").collect():
        key = (r.col_name or "").strip()
        val = (r.data_type or "").strip()
        if key == "Num Buckets":
            n = int(val)
        elif key == "Bucket Columns":
            cols = [c.strip(" `") for c in val.strip("[]").split(",") if c.strip()]
        elif key == "Sort Columns":
            sort_cols = [
                c.strip(" `") for c in val.strip("[]").split(",") if c.strip()
            ]
    return (n, cols, sort_cols) if n and cols else None


def materialize_seed(
    spark: SparkSession,
    name: str,
    csv_path: str,
    column_types: dict[str, str] | None = None,
    delimiter: str = ",",
    quote: str = '"',
) -> None:
    """CSV seed load (``seeds/helpers.sql:7-27``): header + type inference
    with per-column overrides (``adapter.convert_type``, line 14) and the
    dbt seed-config reader knobs (``delimiter`` / ``quote``,
    ``seeds/helpers.sql`` agate loader options).
    ``spark.read.csv`` is already bulk — the reference's 10k-row batched
    INSERTs (``:76-78,107-130``) are an artifact of SQL-over-wire."""
    df = spark.read.csv(
        csv_path, header=True, inferSchema=True, sep=delimiter, quote=quote
    )
    for col, dtype in (column_types or {}).items():
        df = df.withColumn(col, df[col].cast(dtype))
    materialize_table(spark, name, df)


def materialize_scalar_function(
    spark: SparkSession,
    name: str,
    params: list[tuple[str, str]],
    return_type: str,
    body_sql: str,
) -> None:
    """SQL scalar function materialization (reference
    ``dbt-adapters/macros/materializations/functions/scalar.sql``;
    Snowflake variant ``dbt-snowflake/macros/materializations/functions/
    scalar.sql``): CREATE OR REPLACE FUNCTION with a SQL body.

    Spark-native SQL UDFs (Spark 4) inline into Catalyst like any
    expression — no serialization boundary, full codegen — so this is the
    preferred path; ``spark.udf.register`` (Python) is only for bodies
    SQL can't express and pays the Python-worker toll."""
    sig = ", ".join(f"{p} {t}" for p, t in params)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({sig}) "
        f"RETURNS {return_type} RETURN {body_sql}"
    )


def persist_docs(
    spark: SparkSession,
    name: str,
    description: str | None = None,
    column_descriptions: dict[str, str] | None = None,
) -> dict:
    """dbt ``persist_docs`` (``dbt-adapters/macros/adapters/
    persist_docs.sql`` — ``alter_relation_comment`` /
    ``alter_column_comment``): write the model description and per-column
    descriptions into the CATALOG as real comments, so warehouse-side
    tools (DESCRIBE, information-schema readers, catalog UIs) see the
    docs without the dbt project. Spark's session catalog supports both
    statements natively (``COMMENT ON TABLE`` and ``ALTER TABLE ...
    ALTER COLUMN ... COMMENT``), including on plain v1 parquet tables.

    Mirrors dbt's forgiving column behavior: a documented column that is
    not in the relation is SKIPPED (dbt logs and moves on — docs must
    never fail a build). Returns what was applied:
    ``{"relation": bool, "columns": [applied...], "skipped": [...]}``.
    Idempotent — safe to re-run after every (re)build, which is exactly
    when the registry calls it (comments do not survive the CTAS swap,
    so they are re-applied per build like dbt does)."""
    applied: dict = {"relation": False, "columns": [], "skipped": []}

    def q(s: str) -> str:
        return s.replace("'", "''")

    if description is not None:
        spark.sql(f"COMMENT ON TABLE {name} IS '{q(description)}'")
        applied["relation"] = True
    if column_descriptions:
        have = {c.name.lower() for c in spark.catalog.listColumns(name)}
        for col, doc in column_descriptions.items():
            if col.lower() not in have:
                applied["skipped"].append(col)
                continue
            spark.sql(
                f"ALTER TABLE {name} ALTER COLUMN `{col}` COMMENT '{q(doc)}'"
            )
            applied["columns"].append(col)
    return applied


def compact_table(
    spark: SparkSession,
    name: str,
    target_partitions: int | None = None,
    cluster_by: list[str] | None = None,
) -> int:
    """Small-files maintenance (the OPTIMIZE/compaction analog — no
    reference counterpart; incremental strategies append small files
    forever, and at 100 TB scan throughput dies by a thousand 2 MB
    files). Rewrites the table into ``target_partitions`` files
    (default: one per executor core), optionally re-clustering for
    min/max pruning while the data is being rewritten anyway. Returns
    the file count after compaction. Atomic via the same tmp+rename
    swap as materialize_table."""
    df = spark.table(name)
    n = target_partitions or spark.sparkContext.defaultParallelism
    if cluster_by:
        df = df.repartitionByRange(n, *cluster_by).sortWithinPartitions(*cluster_by)
    else:
        df = df.coalesce(n) if df.rdd.getNumPartitions() > n else df.repartition(n)
    materialize_table(spark, name, df)
    return spark.table(name).rdd.getNumPartitions()


def analyze_table(
    spark: SparkSession,
    name: str,
    columns: list[str] | None = None,
    all_columns: bool = False,
) -> None:
    """Refresh optimizer statistics — the maintenance step that makes
    cost-based decisions (join reorder, build-side choice) real:
    CBO silently no-ops on absent or stale stats (measured in
    tools/scale_probe.py::probe_cbo_join_reorder), so a release
    pipeline runs this next to ``compact_table`` after large rewrites.
    Table-level stats only by default (rowCount + sizeInBytes — one
    metadata pass); ``all_columns=True`` or an explicit column list
    adds min/max/ndv histogram inputs (a full scan of those columns,
    priced accordingly)."""
    if all_columns:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS")
    elif columns:
        cols = ", ".join(columns)
        spark.sql(
            f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {cols}"
        )
    else:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
