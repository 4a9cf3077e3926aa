"""SCD Type-2 snapshots (SURVEY §2.9).

Re-expresses ``dbt-adapters/macros/materializations/snapshots/``:

  SN1 timestamp strategy  row changed iff snapshotted.dbt_valid_from <
                          current.updated_at (``strategies.sql:56-88``);
                          dbt_scd_id = md5(key ‖ '|' ‖ updated_at) (:45-50)
  SN2 check strategy      row changed iff any check column differs, with
                          explicit NULL-asymmetry (``strategies.sql:145-187``)
  SN3 staging changeset   insertions / updates / deletes CTEs
                          (``helpers.sql:49-208``) -> three joins + union
  SN4 snapshot MERGE      close updated rows, insert new versions
                          (``snapshot_merge.sql:7-34``)
  SN5 first-run build     source + SCD columns (``helpers.sql:216-231``)
  SN6 hard-delete modes   ignore / invalidate / new_record
                          (``strategies.sql:60-61``; ``helpers.sql:144-205``)

The MERGE is applied as a full-table recombination + atomic swap (plain
parquet); on Delta it would be a single ``MERGE INTO``. At scale the
change-detection joins shuffle on the snapshot key — bucket the snapshot
table by key for co-located joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import surrogate_key
from .materialize import materialize_table

SCD_COLS = ["dbt_scd_id", "dbt_updated_at", "dbt_valid_from", "dbt_valid_to"]


def _scd_id(unique_key: str | list[str], updated_at: str) -> Column:
    keys = [unique_key] if isinstance(unique_key, str) else list(unique_key)
    return surrogate_key(*keys, updated_at)


def _row_changed_timestamp(updated_at: str) -> Column:
    """SN1 (``strategies.sql:73-75``): snapshotted.dbt_valid_from <
    current.updated_at."""
    return F.col(f"snap_dbt_valid_from") < F.col(f"src_{updated_at}")


def _row_changed_check(check_cols: list[str]) -> Column:
    """SN2 (``strategies.sql:157-174``): any column differs, counting
    NULL→value and value→NULL as changes (the explicit null-asymmetry
    branches) — exactly ``NOT (a <=> b)``."""
    cond = F.lit(False)
    for c in check_cols:
        cond = cond | ~F.col(f"snap_{c}").eqNullSafe(F.col(f"src_{c}"))
    return cond


def snapshot_run(
    spark: SparkSession,
    name: str,
    source: DataFrame,
    unique_key: str | list[str],
    strategy: str = "timestamp",
    updated_at: str | None = None,
    check_cols: list[str] | str = "all",
    hard_deletes: str = "ignore",
    run_ts: str | None = None,
    dbt_valid_to_current: str | None = None,
    cluster_by: list[str] | None = None,
    zorder_by: tuple[str, str] | None = None,
) -> None:
    """Execute one snapshot pass against table ``name``.

    ``run_ts`` (ISO timestamp) stamps validity for the check strategy and
    deletes; injectable for deterministic tests (the reference uses
    ``current_timestamp``).

    ``dbt_valid_to_current`` (helpers.sql:272-276): when set (e.g.
    '9999-12-31'), OPEN rows carry that literal in ``dbt_valid_to``
    instead of NULL — BETWEEN-friendly validity ranges; rows with either
    NULL or the literal are treated as current on subsequent passes.
    """
    keys = [unique_key] if isinstance(unique_key, str) else list(unique_key)
    if strategy == "check" and isinstance(check_cols, str) and check_cols != "all":
        # a bare column name would otherwise be exploded char-by-char by
        # list(check_cols) below ('status' -> ['s','t','a','t','u','s'])
        check_cols = [check_cols]
    # duplicate source keys would fan the target out through the
    # to_close join (two update rows sharing one close_scd_id duplicate
    # the closed row AND append two open versions) — corruption that
    # persists across every later run. Same cheap limit-1 guard as
    # incremental MERGE.
    from .incremental import _assert_unique_source_keys

    _assert_unique_source_keys(source, keys, "snapshot")
    ts = F.lit(run_ts).cast("timestamp") if run_ts else F.current_timestamp()
    open_to = (
        F.lit(dbt_valid_to_current).cast("timestamp")
        if dbt_valid_to_current
        else F.lit(None).cast("timestamp")
    )

    if strategy == "timestamp":
        if not updated_at:
            raise ValueError("timestamp strategy requires updated_at")
        upd = F.col(updated_at).cast("timestamp")
    elif strategy == "check":
        upd = ts
    else:
        raise ValueError(f"unknown snapshot strategy: {strategy}")

    from .materialize import recover_swap

    if not recover_swap(spark, name):
        # SN5 first-run build (helpers.sql:216-231): all rows current.
        first = source.select(
            "*",
            _scd_id(unique_key, updated_at).alias("dbt_scd_id")
            if strategy == "timestamp"
            else surrogate_key(*keys, F.lit(run_ts or "")).alias("dbt_scd_id"),
            upd.alias("dbt_updated_at"),
            upd.alias("dbt_valid_from"),
            open_to.alias("dbt_valid_to"),
        )
        materialize_table(
            spark, name, first, cluster_by=cluster_by, zorder_by=zorder_by
        )
        return

    target = spark.table(name)
    data_cols = [c for c in target.columns if c not in SCD_COLS and c != "dbt_is_deleted"]
    if strategy == "check" and check_cols == "all":
        cols_to_check = [c for c in data_cols if c not in keys]
    elif strategy == "check":
        cols_to_check = list(check_cols)
    else:
        cols_to_check = []

    # current (open) rows of the snapshot (helpers.sql: snapshotted CTE —
    # dbt_valid_to is null)
    is_open = F.col("dbt_valid_to").isNull()
    if dbt_valid_to_current:
        is_open = is_open | (
            F.col("dbt_valid_to") == F.lit(dbt_valid_to_current).cast("timestamp")
        )
    current = target.filter(is_open)
    # the open row's deleted flag rides along: delete detection must
    # skip keys ALREADY tombstoned (helpers.sql excludes
    # dbt_is_deleted='True' rows — without it a still-absent key gets a
    # fresh tombstone every run, unbounded), and a REAPPEARING deleted
    # key must count as changed (strategies.sql's
    # `or snapshotted.dbt_is_deleted = 'True'`) even when its values
    # match the tombstone's
    snap_deleted = (
        F.col("dbt_is_deleted")
        if "dbt_is_deleted" in target.columns
        else F.lit("False")
    )
    snap = current.select(
        *[F.col(k).alias(f"key_{k}") for k in keys],
        *[F.col(c).alias(f"snap_{c}") for c in data_cols if c not in keys],
        F.col("dbt_valid_from").alias("snap_dbt_valid_from"),
        F.col("dbt_scd_id").alias("snap_dbt_scd_id"),
        F.coalesce(snap_deleted, F.lit("False")).alias("snap_dbt_is_deleted"),
    )
    src = source.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"src_{c}") for c in source.columns if c not in keys],
    )
    join_cond = [src[k] == snap[f"key_{k}"] for k in keys]

    # SN3 changeset joins (helpers.sql:107-162)
    joined = src.join(snap, join_cond, "full_outer")
    src_present = joined[keys[0]].isNotNull()
    snap_present = F.col(f"key_{keys[0]}").isNotNull()

    if strategy == "timestamp":
        changed = _row_changed_timestamp(updated_at)
        new_valid_from = F.col(f"src_{updated_at}").cast("timestamp")
    else:
        changed = _row_changed_check(cols_to_check)
        new_valid_from = ts
    was_tombstoned = F.col("snap_dbt_is_deleted") == "True"
    if hard_deletes == "new_record":
        # revival: a key whose open row is a tombstone counts as changed
        changed = changed | was_tombstoned
        if strategy == "timestamp":
            # the revived row's updated_at may predate the tombstone's
            # valid_from (a restore keeps original times) — version from
            # the snapshot time instead so valid_from stays monotone
            new_valid_from = F.when(
                was_tombstoned, ts
            ).otherwise(new_valid_from)

    def src_row():
        cols = [joined[k].alias(k) for k in keys] + [
            F.col(f"src_{c}").alias(c) for c in data_cols if c not in keys
        ]
        scd = surrogate_key(
            *[joined[k] for k in keys], new_valid_from.cast("string")
        )
        return cols, scd

    # insertions: in source, not in snapshot (helpers.sql:107-124)
    ins_cols, ins_scd = src_row()
    insertions = joined.filter(src_present & ~snap_present).select(
        *ins_cols,
        ins_scd.alias("dbt_scd_id"),
        new_valid_from.alias("dbt_updated_at"),
        new_valid_from.alias("dbt_valid_from"),
        open_to.alias("dbt_valid_to"),
        F.lit("insert").alias("dbt_change_type"),
        F.lit(None).cast("string").alias("close_scd_id"),
    )

    # updates: in both and row_changed — new version row + close-out marker
    upd_cols, upd_scd = src_row()
    updates = joined.filter(src_present & snap_present & changed).select(
        *upd_cols,
        upd_scd.alias("dbt_scd_id"),
        new_valid_from.alias("dbt_updated_at"),
        new_valid_from.alias("dbt_valid_from"),
        open_to.alias("dbt_valid_to"),
        F.lit("update").alias("dbt_change_type"),
        F.col("snap_dbt_scd_id").alias("close_scd_id"),
    )

    changeset = insertions.unionByName(updates)

    # deletes (SN6): snapshot rows whose key vanished from source —
    # EXCLUDING rows already tombstoned (else every later run without
    # the key re-closes and re-tombstones it: unbounded row growth)
    not_yet_deleted = F.col("snap_dbt_is_deleted") != "True"
    if hard_deletes in ("invalidate", "new_record"):
        deletes = joined.filter(
            snap_present & ~src_present & not_yet_deleted
        ).select(F.col("snap_dbt_scd_id").alias("close_scd_id"))
    else:
        deletes = None

    # SN4 snapshot MERGE (snapshot_merge.sql:7-34) as recombination:
    # 1. close rows named by close_scd_id (set dbt_valid_to)
    to_close = changeset.filter(F.col("close_scd_id").isNotNull()).select(
        F.col("close_scd_id").alias("dbt_scd_id"),
        F.col("dbt_valid_from").alias("_close_at"),
    )
    if deletes is not None:
        to_close = to_close.unionByName(
            joined.filter(snap_present & ~src_present & not_yet_deleted).select(
                F.col("snap_dbt_scd_id").alias("dbt_scd_id"), ts.alias("_close_at")
            )
        )
    closed = (
        target.join(to_close, "dbt_scd_id", "left")
        .withColumn(
            "dbt_valid_to",
            F.when(F.col("_close_at").isNotNull(), F.col("_close_at")).otherwise(
                F.col("dbt_valid_to")
            ),
        )
        .drop("_close_at")
    )

    # 2. append the new version rows
    new_rows = changeset.drop("dbt_change_type", "close_scd_id")
    if "dbt_is_deleted" in target.columns:
        new_rows = new_rows.withColumn("dbt_is_deleted", F.lit("False"))

    result = closed.unionByName(new_rows, allowMissingColumns=True)

    # 3. hard_deletes='new_record': tombstone row per deleted key
    #    (helpers.sql:164-205)
    if hard_deletes == "new_record":
        tomb_src = joined.filter(snap_present & ~src_present & not_yet_deleted)
        tombstones = tomb_src.select(
            *[F.col(f"key_{k}").alias(k) for k in keys],
            *[F.col(f"snap_{c}").alias(c) for c in data_cols if c not in keys],
            surrogate_key(
                *[F.col(f"key_{k}") for k in keys], ts.cast("string"), F.lit("deleted")
            ).alias("dbt_scd_id"),
            ts.alias("dbt_updated_at"),
            ts.alias("dbt_valid_from"),
            open_to.alias("dbt_valid_to"),
        ).withColumn("dbt_is_deleted", F.lit("True"))
        result = result.unionByName(tombstones, allowMissingColumns=True)
        if "dbt_is_deleted" not in target.columns:
            result = result.withColumn(
                "dbt_is_deleted", F.coalesce(F.col("dbt_is_deleted"), F.lit("False"))
            )

    materialize_table(
        spark, name, result, cluster_by=cluster_by, zorder_by=zorder_by
    )
