"""Incremental strategies — the reference's "DML operators" (SURVEY §2.8).

Re-expresses ``dbt-adapters/macros/materializations/models/incremental/``
and the Snowflake overrides as DataFrame recombinations over plain-parquet
tables:

  I1 append            insert into target            (``strategies.sql:9-13``)
  I2 merge             upsert on unique_key          (``merge.sql:9-54``)
  I3 delete+insert     delete matching keys, insert  (``merge.sql:62-92``)
  I4 insert_overwrite  full truncate + insert — the *Snowflake* semantics,
                       explicitly not partition-targeted
                       (``dbt-snowflake/.../insert_overwrite.sql:1-13``)
  I5 microbatch        event-time-windowed delete+insert
                       (``dbt-snowflake/.../merge.sql:73-101``)
  I6 is_incremental    target-exists guard (``is_incremental.sql:2-13``)
  I7 on_schema_change  ignore / append_new_columns / sync_all_columns
                       (``incremental.sql:15,50-58``)

Without a transactional table format, MERGE becomes anti-join + union +
atomic swap. The reference itself encodes the required discipline for
multi-statement strategies — "materialize the source once first"
(``dbt-snowflake/macros/materializations/incremental.sql:4-29``) — which
here is the write-to-temp-table-then-swap: the new contents are fully
written (reading the old target) before the old target is dropped.

Scale: the anti-join shuffles on the unique key — at 100 TB the target
should be bucketed by the key so the join co-locates; AQE handles skew.
The append path is shuffle-free.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .materialize import materialize_table, recover_swap


def is_incremental(spark: SparkSession, name: str, full_refresh: bool = False) -> bool:
    """I6 (``is_incremental.sql:2-13``) — with crash recovery: a target
    missing because a previous run died mid-swap is restored from its
    backup before answering."""
    return recover_swap(spark, name) and not full_refresh


def _key_cols(unique_key: str | list[str]) -> list[str]:
    return [unique_key] if isinstance(unique_key, str) else list(unique_key)


def _assert_unique_source_keys(
    source: DataFrame, keys: list[str], strategy: str
) -> None:
    """MERGE with a duplicate-keyed source is nondeterministic — Snowflake
    and Delta both raise; silently fanning the target row out (or
    inserting duplicate keys) corrupts downstream joins. One cheap
    aggregation over the batch (the small side) guards it.
    delete+insert deliberately skips this: its semantics allow multiple
    source rows per key (delete once, insert all)."""
    dup = (
        source.groupBy(*keys)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        key_vals = {k: dup[0][k] for k in keys}
        raise ValueError(
            f"{strategy}: source has multiple rows for unique_key {key_vals}"
            " — MERGE would be nondeterministic (dedupe the batch first,"
            " e.g. keep-latest by a timestamp)"
        )


def _combined_predicate(incremental_predicates: list[str]):
    """AND of the incremental_predicates with NULL coalesced to FALSE —
    SQL 3VL: a row where the predicate evaluates NULL is NOT matched by
    MERGE/DELETE, so NULL rows belong with the protected set (negating a
    raw NULL would silently drop them from BOTH sides of the split).
    ONE definition serves merge's protected split, merge's
    column-subset match filter, and delete+insert's candidate split —
    three hand-copied versions of this subtle coalesce-before-negate
    rule drifted apart is exactly the bug class this prevents."""
    return F.coalesce(
        reduce(lambda a, b: a & b, [F.expr(p) for p in incremental_predicates]),
        F.lit(False),
    )


def _apply_schema_change(
    spark: SparkSession,
    name: str,
    source: DataFrame,
    on_schema_change: str,
    cluster_by: list[str] | None = None,
    zorder_by: tuple[str, str] | None = None,
) -> DataFrame:
    """I7: reconcile source vs target schema (``incremental.sql:50-58``).

    ignore             -> project source onto the target's columns
    append_new_columns -> add new source columns to the target (backfill NULL)
    sync_all_columns   -> add new, drop removed
    fail               -> raise when source and target schemas differ
    ``expand_target_column_types`` is implicit: the union casts by name.
    Unknown modes raise up front — a typo'd mode must not silently run
    as ``ignore`` just because this batch happens to add no columns.
    """
    allowed = ("ignore", "append_new_columns", "sync_all_columns", "fail")
    if on_schema_change not in allowed:
        raise ValueError(
            f"unknown on_schema_change: {on_schema_change!r} (allowed: {allowed})"
        )
    target = spark.table(name)
    t_cols, s_cols = target.columns, source.columns
    new_cols = [c for c in s_cols if c not in t_cols]
    if on_schema_change == "fail":
        if set(t_cols) != set(s_cols):
            raise ValueError(
                "on_schema_change='fail': source schema differs from target"
                f" (new: {sorted(set(s_cols) - set(t_cols))},"
                f" missing: {sorted(set(t_cols) - set(s_cols))})"
            )
        return source.select(*[F.col(c) for c in t_cols])
    if on_schema_change == "ignore" or not new_cols and on_schema_change != "sync_all_columns":
        common = [c for c in t_cols if c in s_cols]
        missing = [c for c in t_cols if c not in s_cols]
        proj = [F.col(c) for c in common] + [
            F.lit(None).cast(target.schema[c].dataType).alias(c) for c in missing
        ]
        return source.select(*proj)
    def _add_columns(cols: list[str]) -> None:
        # metadata-only widen: ALTER TABLE ADD COLUMNS registers the
        # new columns in the catalog and existing parquet files read
        # them as NULL — O(metadata), vs rewriting the entire (100 TB)
        # target through a swap just to backfill NULLs
        cols_ddl = ", ".join(
            f"`{c}` {source.schema[c].dataType.simpleString()}" for c in cols
        )
        spark.sql(f"ALTER TABLE {name} ADD COLUMNS ({cols_ddl})")
        spark.catalog.refreshTable(name)

    if on_schema_change == "append_new_columns":
        if new_cols:
            _add_columns(new_cols)
        keep = [c for c in t_cols if c in s_cols] + new_cols
        removed = [c for c in t_cols if c not in s_cols]
        proj = [F.col(c) for c in keep] + [
            F.lit(None).cast(target.schema[c].dataType).alias(c) for c in removed
        ]
        return source.select(*proj)
    # sync_all_columns: add new, drop removed. Only a genuine DROP forces
    # the full-target rewrite (parquet tables have no metadata DROP
    # COLUMN); add-only drift — the common case, a source gaining a
    # column — is the same O(metadata) ALTER TABLE ADD COLUMNS as
    # append_new_columns, and identical sets touch nothing
    removed = [c for c in t_cols if c not in s_cols]
    if removed:
        synced = target.select(
            *[F.col(c) for c in t_cols if c in s_cols],
            *[F.lit(None).cast(source.schema[c].dataType).alias(c) for c in new_cols],
        )
        materialize_table(
            spark, name, synced, cluster_by=cluster_by, zorder_by=zorder_by
        )
    elif new_cols:
        _add_columns(new_cols)
    return source.select(*s_cols)


def incremental_run(
    spark: SparkSession,
    name: str,
    source: DataFrame,
    strategy: str = "merge",
    unique_key: str | list[str] | None = None,
    full_refresh: bool = False,
    on_schema_change: str = "ignore",
    event_time: str | None = None,
    batch_start=None,
    batch_end=None,
    batch_windows: list[tuple] | None = None,
    incremental_predicates: list[str] | None = None,
    merge_update_columns: list[str] | None = None,
    merge_exclude_columns: list[str] | None = None,
    cluster_by: list[str] | None = None,
    zorder_by: tuple[str, str] | None = None,
) -> None:
    """Run one incremental build (``incremental.sql:38-69`` dispatch).

    First run (or full refresh) is a plain CTAS regardless of strategy —
    same as the reference — except microbatch, whose CTAS takes only the
    IN-WINDOW rows: later batches can only ever replace rows inside their
    windows, so a first run that landed out-of-window rows (NULL
    ``event_time`` above all) would leave them permanently stuck, present
    or absent depending on which batch happened to arrive first.
    ``merge_update_columns`` / ``merge_exclude_columns`` mirror the MERGE
    matched-update column subset (``merge.sql:19-29``): matched rows take
    the listed columns (resp. all-but-excluded) from the source and KEEP
    the target's values for the rest; mutually exclusive, like the
    reference.
    """
    in_window = None
    if strategy == "microbatch":
        # validate + normalize the window spec up front so BOTH the
        # first-run CTAS and the incremental delete+insert share one
        # window predicate (dbt-snowflake/.../merge.sql:73-101).
        # ``batch_windows`` replaces several periods in ONE pass: the
        # delete predicate ORs the windows, so a multi-period arrival
        # (streaming catch-up after downtime) pays one target rewrite
        # instead of one per period.
        if batch_windows is None:
            if event_time is None or batch_start is None or batch_end is None:
                raise ValueError(
                    "microbatch needs event_time and either "
                    "batch_start+batch_end or batch_windows"
                )
            batch_windows = [(batch_start, batch_end)]
        elif event_time is None or not batch_windows:
            raise ValueError("microbatch needs event_time and >=1 window")
        ev = F.col(event_time)
        # ev in any [lo, hi): a NULL event_time is NOT in a window (3VL),
        # so those rows must survive deletes AND never insert — coalesce
        # the window predicate to FALSE before negating or ~NULL drops
        # them from the kept set
        in_window = F.coalesce(
            reduce(
                lambda a, b: a | b,
                [(ev >= F.lit(lo)) & (ev < F.lit(hi)) for lo, hi in batch_windows],
            ),
            F.lit(False),
        )
        source = source.filter(in_window)

    if not is_incremental(spark, name, full_refresh):
        materialize_table(
            spark, name, source, cluster_by=cluster_by, zorder_by=zorder_by
        )
        return

    # every rewrite below (and the schema-sync one) passes cluster_by /
    # zorder_by, so the declared sort layout survives EVERY incremental
    # run, as Snowflake re-applies ``cluster by`` on each incremental
    # rebuild (``dbt-snowflake/macros/relations/table/create.sql:115-120``);
    # a rewrite without it would flatten the file-footer min/max stats and
    # downstream scans would lose row-group pruning
    source = _apply_schema_change(
        spark, name, source, on_schema_change, cluster_by, zorder_by
    )
    target = spark.table(name)
    # insertInto is positional — pin source to the target's column order
    source = source.select(*[F.col(c) for c in target.columns])

    if strategy == "append":
        # I1: insert-only — no shuffle, no rewrite.
        source.write.mode("append").format("parquet").insertInto(name)
        return

    if strategy == "merge":
        # I2: matched -> update (source row wins), not matched -> insert.
        # No key -> plain insert (the Snowflake shortcut, merge.sql:13-28).
        if not unique_key:
            source.write.mode("append").format("parquet").insertInto(name)
            return
        keys = _key_cols(unique_key)
        _assert_unique_source_keys(source, keys, "merge")
        kept = target.join(source.select(*keys).distinct(), keys, "left_anti")
        if incremental_predicates:
            # merge.sql predicates: target rows OUTSIDE the predicates are
            # protected from matching (never updated) — at scale this is
            # the partition-pruning hint that keeps the MERGE from
            # scanning the whole target. 3VL discipline lives in
            # _combined_predicate.
            pred = _combined_predicate(incremental_predicates)
            protected = target.filter(~pred)
            kept = protected.unionByName(
                target.filter(pred).join(
                    source.select(*keys).distinct(), keys, "left_anti"
                )
            )
        if merge_update_columns and merge_exclude_columns:
            raise ValueError(
                "merge_update_columns and merge_exclude_columns are mutually"
                " exclusive (merge.sql:19-29)"
            )
        update_cols = merge_update_columns
        if merge_exclude_columns:
            update_cols = [
                c
                for c in target.columns
                if c not in merge_exclude_columns and c not in keys
            ]
        # None = no column subset requested (full source-wins update);
        # [] = every non-key column excluded — matched rows keep ALL
        # target values. A truthiness test would silently route [] to
        # the full-update path, the exact opposite of excluding all.
        if update_cols is not None:
            # matched rows: listed columns from source, the rest from the
            # target row; unmatched source rows insert whole. Predicates
            # (if any) restrict which target rows are matchable.
            match_target = target
            if incremental_predicates:
                match_target = target.filter(
                    _combined_predicate(incremental_predicates)
                )
            upd = {c for c in update_cols}
            matched = match_target.alias("t").join(source.alias("s"), keys, "inner").select(
                *[
                    (F.col(f"s.{c}") if c in upd else F.col(f"t.{c}")).alias(c)
                    for c in target.columns
                ]
            )
            # anti vs the MATCHABLE target: a source row whose key exists
            # only outside the predicates inserts (MERGE ON includes the
            # predicates — dbt's documented duplicate-risk behavior)
            new_rows = source.join(
                match_target.select(*keys).distinct(), keys, "left_anti"
            )
            materialize_table(
                spark, name,
                kept.unionByName(matched).unionByName(new_rows),
                cluster_by=cluster_by, zorder_by=zorder_by,
            )
            return
        materialize_table(
            spark, name, kept.unionByName(source),
            cluster_by=cluster_by, zorder_by=zorder_by,
        )
        return

    if strategy == "delete+insert":
        # I3: delete rows whose key appears in source (plus any extra
        # predicates), then insert all source rows (merge.sql:62-92).
        if not unique_key:
            source.write.mode("append").format("parquet").insertInto(name)
            return
        keys = _key_cols(unique_key)
        kept = target.join(source.select(*keys).distinct(), keys, "left_anti")
        if incremental_predicates:
            # predicates restrict which target rows are delete-candidates;
            # NULL rows stay protected (_combined_predicate's 3VL rule)
            pred = _combined_predicate(incremental_predicates)
            protected = target.filter(~pred)
            candidates = target.filter(pred)
            kept = protected.unionByName(
                candidates.join(source.select(*keys).distinct(), keys, "left_anti")
            )
        materialize_table(
            spark, name, kept.unionByName(source),
            cluster_by=cluster_by, zorder_by=zorder_by,
        )
        return

    if strategy == "insert_overwrite":
        # I4: Snowflake semantics — full truncate + insert, atomic
        # (insert_overwrite.sql:1-13). Deliberately NOT Spark's
        # partition-targeted INSERT OVERWRITE.
        materialize_table(
            spark, name, source, cluster_by=cluster_by, zorder_by=zorder_by
        )
        return

    if strategy == "microbatch":
        # I5: DELETE target rows in the window(s), insert the (already
        # window-filtered) batch — one delete+insert swap; the window
        # predicate was validated and applied to ``source`` up front so
        # the first-run CTAS shares it
        kept = target.filter(~in_window)
        materialize_table(
            spark, name, kept.unionByName(source),
            cluster_by=cluster_by, zorder_by=zorder_by,
        )
        return

    raise ValueError(f"unknown incremental strategy: {strategy}")


def microbatch_batches(batch_start, batch_end, period: str = "day"):
    """Period-aligned batch bounds covering the range, CLAMPED to
    [batch_start, batch_end) — dbt-core's microbatch batch scheduler
    (batches come from event_time/batch_size config and run
    independently, but the requested range is an exact limit: a backfill
    must never delete+insert target rows OUTSIDE it, or rows the source
    has since purged in the uncovered window would be destroyed). Bounds
    are datetimes; ``period`` in {hour, day, month}; an empty range
    raises. The batch COUNT is bounded driver-side model state (a
    backfill window's periods), never data-derived."""
    import datetime as _dt

    if not batch_start < batch_end:
        raise ValueError(
            f"empty backfill range: {batch_start!r} >= {batch_end!r}"
        )

    def floor(ts):
        if period == "hour":
            return ts.replace(minute=0, second=0, microsecond=0)
        if period == "day":
            return ts.replace(hour=0, minute=0, second=0, microsecond=0)
        if period == "month":
            return ts.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
        raise ValueError(f"unsupported period: {period!r}")

    def nxt(ts):
        if period == "hour":
            return ts + _dt.timedelta(hours=1)
        if period == "day":
            return ts + _dt.timedelta(days=1)
        return (ts.replace(day=28) + _dt.timedelta(days=4)).replace(day=1)

    out, cur = [], floor(batch_start)
    while cur < batch_end:
        out.append((max(cur, batch_start), min(nxt(cur), batch_end)))
        cur = nxt(cur)
    return out


def microbatch_backfill(
    spark: SparkSession,
    name: str,
    model_fn,
    event_time: str,
    batch_start,
    batch_end,
    period: str = "day",
    full_refresh: bool = False,
) -> list[tuple]:
    """dbt microbatch BACKFILL (``dbt run --event-time-start/--event-time-end``
    over a microbatch model): slice the range into period-aligned batches
    and run the model once per batch, landing each through the microbatch
    delete+insert — so a re-run of any sub-range is idempotent and a
    failed backfill resumes at batch granularity.

    ``model_fn(spark, b_start, b_end)`` returns the batch's rows — the
    model sees its batch bounds exactly as dbt injects
    ``__dbt_internal_microbatch_event_time_start/end`` filters; returning
    a pre-filtered frame lets predicate pushdown prune the scan per
    batch, and ``incremental_run``'s microbatch branch clamps the frame
    to the window before either the first-run CTAS or the
    delete+insert, so an unfiltered body is still correct. Batches run
    SEQUENTIALLY in event-time order (dbt's default:
    deterministic retries, monotone progress), each batch itself fully
    distributed. Returns ``[(start, end)]`` for the run artifact.
    """
    batches = microbatch_batches(batch_start, batch_end, period)
    if full_refresh:
        # drop the backup too: a crash-leftover {name}__dbt_backup would
        # otherwise be resurrected by the first batch's recover_swap,
        # silently carrying pre-crash rows through the requested refresh
        for t in (name, f"{name}__dbt_backup"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    for b_start, b_end in batches:
        incremental_run(
            spark,
            name,
            model_fn(spark, b_start, b_end),
            strategy="microbatch",
            event_time=event_time,
            batch_start=b_start,
            batch_end=b_end,
        )
    return batches
