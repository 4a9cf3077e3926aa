"""Tests for the runtime layer: materializations, incremental strategies,
SCD2 snapshots, schema tests, and the DAG registry."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from healthcare_dbt_datamart_spark.operators import materialize as mat
from healthcare_dbt_datamart_spark.operators.incremental import incremental_run
from healthcare_dbt_datamart_spark.operators.snapshot import snapshot_run
from healthcare_dbt_datamart_spark.operators.testing import (
    accepted_values_test,
    freshness_check,
    not_null_test,
    relationships_test,
    run_test,
    unique_test,
)
from healthcare_dbt_datamart_spark.plans import ModelRegistry


@pytest.fixture(autouse=True)
def clean_catalog(spark):
    yield
    for t in spark.catalog.listTables():
        if t.tableType != "TEMPORARY":
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


# -- materializations ------------------------------------------------------

def test_table_swap_replaces_contents(spark):
    mat.materialize_table(spark, "t_swap", _df(spark, [(1,)], "a long"))
    assert spark.table("t_swap").count() == 1
    mat.materialize_table(spark, "t_swap", _df(spark, [(1,), (2,)], "a long"))
    assert spark.table("t_swap").count() == 2


def test_table_swap_recovers_from_stale_location(spark):
    import os
    import shutil

    # orphan directories with NO catalog entry (a crashed session with an
    # in-memory catalog leaves exactly this) must not wedge the swap
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name in ("t_stale", "t_stale__dbt_tmp"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        os.makedirs(os.path.join(wh, name), exist_ok=True)
        with open(os.path.join(wh, name, "junk"), "w") as fh:
            fh.write("leftover")
    mat.materialize_table(spark, "t_stale", _df(spark, [(7,)], "a long"))
    assert [r.a for r in spark.table("t_stale").collect()] == [7]
    spark.sql("DROP TABLE t_stale")
    shutil.rmtree(os.path.join(wh, "t_stale"), ignore_errors=True)


def test_table_swap_promotes_orphan_backup_before_rebuild(spark):
    """A crash between `name RENAME TO backup` and `tmp RENAME TO name`
    leaves the backup as the ONLY copy. The next run must promote it —
    not drop it — so a rebuild that then FAILS still leaves the old
    contents readable instead of permanently destroying the table."""
    import pytest

    mat.materialize_table(spark, "t_orph", _df(spark, [(1,), (2,)], "a long"))
    # simulate the crash state
    spark.sql("ALTER TABLE t_orph RENAME TO t_orph__dbt_backup")
    assert not spark.catalog.tableExists("t_orph")

    failing = spark.range(1).select(
        F.expr("assert_true(id < 0)").alias("boom"), F.col("id").alias("a")
    )
    with pytest.raises(Exception):
        mat.materialize_table(spark, "t_orph", failing)
    # the old copy survived the failed rebuild, promoted back to its name
    assert sorted(r.a for r in spark.table("t_orph").collect()) == [1, 2]
    assert not spark.catalog.tableExists("t_orph__dbt_backup")
    # and a later good rebuild proceeds normally
    mat.materialize_table(spark, "t_orph", _df(spark, [(9,)], "a long"))
    assert [r.a for r in spark.table("t_orph").collect()] == [9]
    spark.sql("DROP TABLE t_orph")


def test_table_swap_over_external_occupant_keeps_recovery_copy(spark):
    """Rebuilding over an EXTERNAL table parked at the warehouse name
    slot (a clone_table target): the catalog rename to backup does not
    move external files, so the swap must RELOCATE the backup's data
    before clearing the slot — a crash mid-swap then recovers real rows,
    and a FAILED rebuild never guts the old copy."""
    import pytest

    mat.materialize_table(spark, "t_ext_src", _df(spark, [(1,), (2,)], "a long"))
    spark.sql("DROP TABLE IF EXISTS t_ext")
    mat.clone_table(spark, "t_ext_src", "t_ext", replace=False)
    assert sorted(r.a for r in spark.table("t_ext").collect()) == [1, 2]

    # failed rebuild: the external occupant's rows must survive
    failing = spark.range(1).select(
        F.expr("assert_true(id < 0)").alias("boom"), F.col("id").alias("a")
    )
    with pytest.raises(Exception):
        mat.materialize_table(spark, "t_ext", failing)
    assert sorted(r.a for r in spark.table("t_ext").collect()) == [1, 2]

    # successful rebuild replaces contents; the clone SOURCE is untouched
    mat.materialize_table(spark, "t_ext", _df(spark, [(7,)], "a long"))
    assert [r.a for r in spark.table("t_ext").collect()] == [7]
    assert sorted(r.a for r in spark.table("t_ext_src").collect()) == [1, 2]
    spark.sql("DROP TABLE t_ext")
    spark.sql("DROP TABLE t_ext_src")


def test_incremental_rewrite_over_clone_target_works(spark):
    """Incremental strategies route rewrites through the SAME hardened
    swap as materialize_table: a clone_table target (EXTERNAL, parked at
    the warehouse name slot) must accept a merge — the rename-based swap
    has to relocate/clear the occupant's files or `tmp RENAME TO name`
    wedges on the occupied slot."""
    mat.materialize_table(
        spark, "t_inc_ext_src", _df(spark, [(1, "a"), (2, "b")], "id long, v string")
    )
    spark.sql("DROP TABLE IF EXISTS t_inc_ext")
    mat.clone_table(spark, "t_inc_ext_src", "t_inc_ext", replace=False)

    incremental_run(
        spark, "t_inc_ext", _df(spark, [(2, "b2"), (3, "c")], "id long, v string"),
        strategy="merge", unique_key="id",
    )
    rows = {r.id: r.v for r in spark.table("t_inc_ext").collect()}
    assert rows == {1: "a", 2: "b2", 3: "c"}
    # the clone source is untouched by the rewrite
    assert {r.id for r in spark.table("t_inc_ext_src").collect()} == {1, 2}
    spark.sql("DROP TABLE t_inc_ext")
    spark.sql("DROP TABLE t_inc_ext_src")


def test_external_backup_relocation_survives_midswap_crash(spark):
    """Crash state: a rebuild over an external occupant got through
    `name RENAME TO backup`, the backup-data relocation, and the slot
    clear, then died before `tmp RENAME TO name`. recover_swap must
    restore REAL rows — an unconditional slot clear without relocation
    would leave the backup pointing at a deleted directory."""
    import shutil

    from healthcare_dbt_datamart_spark.operators.incremental import recover_swap

    mat.materialize_table(spark, "t_ex3_src", _df(spark, [(1,), (2,)], "a long"))
    spark.sql("DROP TABLE IF EXISTS t_ex3")
    mat.clone_table(spark, "t_ex3_src", "t_ex3", replace=False)

    spark.sql("ALTER TABLE t_ex3 RENAME TO t_ex3__dbt_backup")
    slot = mat._slot_path(spark, "t_ex3")
    bslot = mat._slot_path(spark, "t_ex3__dbt_backup")
    shutil.rmtree(bslot, ignore_errors=True)
    mat._link_tree(slot, bslot)
    spark.sql(f"ALTER TABLE t_ex3__dbt_backup SET LOCATION '{bslot}'")
    shutil.rmtree(slot)  # the swap's slot clear, relocated data survives

    assert recover_swap(spark, "t_ex3")
    assert sorted(r.a for r in spark.table("t_ex3").collect()) == [1, 2]

    # the recovered table READS the backup-slot directory: the next
    # incremental rewrite must not clear that slot out from under it
    # (the protected-location guard) — and must leave a correct table
    incremental_run(
        spark, "t_ex3", _df(spark, [(2,), (3,)], "a long"),
        strategy="delete+insert", unique_key="a",
    )
    assert sorted(r.a for r in spark.table("t_ex3").collect()) == [1, 2, 3]
    spark.sql("DROP TABLE t_ex3")
    spark.sql("DROP TABLE t_ex3_src")


def test_swap_crash_windows_never_lose_the_table(spark):
    """Exhaustive crash sweep: kill the swap at EVERY catalog statement
    it issues — for a managed old target and for an EXTERNAL occupant (a
    clone target) — and assert after each simulated crash that
    recover_swap sees a readable table equal to the OLD or the NEW
    contents (never lost, never gutted), and that the next clean rebuild
    heals to the new contents."""
    import shutil

    from healthcare_dbt_datamart_spark.operators.incremental import recover_swap

    name = "t_cw"
    real_sql = spark.sql

    def reset(kind: str) -> None:
        for t in (name, f"{name}__dbt_backup", f"{name}__dbt_tmp", "t_cw_src"):
            real_sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(mat._slot_path(spark, t), ignore_errors=True)
        if kind == "managed":
            mat.materialize_table(spark, name, _df(spark, [(1,), (2,)], "a long"))
        else:  # external occupant at the warehouse slot
            mat.materialize_table(
                spark, "t_cw_src", _df(spark, [(1,), (2,)], "a long")
            )
            mat.clone_table(spark, "t_cw_src", name, replace=False)

    for kind in ("managed", "external"):
        k = 0
        while k < 12:  # statement count is ~5; bounded for safety
            reset(kind)
            seen = {"i": 0, "fired": False}

            def failing(q, *a, **kw):
                if seen["i"] == k:
                    seen["fired"] = True
                    raise RuntimeError("injected crash")
                seen["i"] += 1
                return real_sql(q, *a, **kw)

            spark.sql = failing
            try:
                mat.materialize_table(spark, name, _df(spark, [(7,)], "a long"))
            except RuntimeError:
                pass
            finally:
                spark.sql = real_sql
            if not seen["fired"]:
                break  # the swap completed before statement k: sweep done
            recover_swap(spark, name)
            got = sorted(r.a for r in spark.table(name).collect())
            assert got in ([1, 2], [7]), f"{kind} crash at stmt {k}: {got}"
            # the next clean rebuild heals to the new contents
            mat.materialize_table(spark, name, _df(spark, [(7,)], "a long"))
            assert [r.a for r in spark.table(name).collect()] == [7]
            k += 1
        assert 0 < k < 12  # the loop exercised >=1 window and terminated
    for t in (name, "t_cw_src"):
        real_sql(f"DROP TABLE IF EXISTS {t}")


# -- incremental strategies ------------------------------------------------

def test_incremental_first_run_is_ctas(spark):
    incremental_run(spark, "inc_a", _df(spark, [(1, "x")], "id long, v string"),
                    strategy="merge", unique_key="id")
    assert spark.table("inc_a").count() == 1


def test_merge_updates_matched_inserts_new(spark):
    incremental_run(spark, "inc_m", _df(spark, [(1, "old"), (2, "keep")], "id long, v string"),
                    strategy="merge", unique_key="id")
    incremental_run(spark, "inc_m", _df(spark, [(1, "new"), (3, "ins")], "id long, v string"),
                    strategy="merge", unique_key="id")
    rows = {r.id: r.v for r in spark.table("inc_m").collect()}
    assert rows == {1: "new", 2: "keep", 3: "ins"}


def test_append_keeps_duplicates(spark):
    src = _df(spark, [(1, "x")], "id long, v string")
    incremental_run(spark, "inc_ap", src, strategy="append")
    incremental_run(spark, "inc_ap", src, strategy="append")
    assert spark.table("inc_ap").count() == 2


def test_delete_insert(spark):
    incremental_run(spark, "inc_di", _df(spark, [(1, "a"), (2, "b")], "id long, v string"),
                    strategy="delete+insert", unique_key="id")
    incremental_run(spark, "inc_di",
                    _df(spark, [(2, "b2"), (2, "b3")], "id long, v string"),
                    strategy="delete+insert", unique_key="id")
    rows = sorted((r.id, r.v) for r in spark.table("inc_di").collect())
    # both source rows for key 2 inserted (delete+insert, unlike merge)
    assert rows == [(1, "a"), (2, "b2"), (2, "b3")]


def test_insert_overwrite_truncates(spark):
    incremental_run(spark, "inc_io", _df(spark, [(1,), (2,)], "id long"),
                    strategy="insert_overwrite")
    incremental_run(spark, "inc_io", _df(spark, [(9,)], "id long"),
                    strategy="insert_overwrite")
    assert [r.id for r in spark.table("inc_io").collect()] == [9]


def test_microbatch_windowed_delete_insert(spark):
    incremental_run(
        spark, "inc_mb",
        _df(spark, [("2024-01-01", 1), ("2024-01-02", 2)], "d string, v long")
        .withColumn("d", F.col("d").cast("date")),
        strategy="microbatch", event_time="d",
        batch_start="2024-01-01", batch_end="2024-01-03",
    )
    # re-run the 01-01 window with corrected data
    incremental_run(
        spark, "inc_mb",
        _df(spark, [("2024-01-01", 10), ("2024-01-02", 99)], "d string, v long")
        .withColumn("d", F.col("d").cast("date")),
        strategy="microbatch", event_time="d",
        batch_start="2024-01-01", batch_end="2024-01-02",
    )
    rows = {str(r.d): r.v for r in spark.table("inc_mb").collect()}
    # 01-01 replaced; 01-02 outside the window keeps its original value
    assert rows == {"2024-01-01": 10, "2024-01-02": 2}


def test_microbatch_batch_windows_replace_only_touched_periods(spark):
    """batch_windows replaces several non-contiguous periods in ONE call:
    the 01 and 03 windows are rewritten, the untouched 02 period between
    them survives (a single min..max span would wrongly wipe it)."""
    base = (
        _df(
            spark,
            [("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-03", 3)],
            "d string, v long",
        ).withColumn("d", F.col("d").cast("date"))
    )
    incremental_run(
        spark, "inc_mbw", base, strategy="microbatch", event_time="d",
        batch_start="2024-01-01", batch_end="2024-01-04",
    )
    arriving = (
        _df(spark, [("2024-01-01", 10), ("2024-01-03", 30)], "d string, v long")
        .withColumn("d", F.col("d").cast("date"))
    )
    incremental_run(
        spark, "inc_mbw", arriving, strategy="microbatch", event_time="d",
        batch_windows=[
            ("2024-01-01", "2024-01-02"),
            ("2024-01-03", "2024-01-04"),
        ],
    )
    rows = {str(r.d): r.v for r in spark.table("inc_mbw").collect()}
    assert rows == {"2024-01-01": 10, "2024-01-02": 2, "2024-01-03": 30}


def test_microbatch_first_run_excludes_out_of_window_rows(spark):
    """First-run CTAS must take only IN-WINDOW rows: later batches can
    only replace rows inside their windows, so a NULL-event_time (or
    out-of-range) row landed by the first batch would be permanently
    stuck — present or absent depending on arrival order."""
    first = (
        _df(
            spark,
            [("2024-01-01", 1), ("2024-02-15", 2), (None, 3)],
            "d string, v long",
        ).withColumn("d", F.col("d").cast("date"))
    )
    incremental_run(
        spark, "inc_mb_first", first, strategy="microbatch", event_time="d",
        batch_start="2024-01-01", batch_end="2024-02-01",
    )
    rows = {r.v for r in spark.table("inc_mb_first").collect()}
    assert rows == {1}  # out-of-window and NULL-event_time rows excluded


def test_sync_all_columns_add_only_is_metadata_only(spark):
    """Add-only drift under sync_all_columns must widen via ALTER TABLE
    ADD COLUMNS (existing files read the new column as NULL) — not
    rewrite the whole target; only a genuine column DROP pays the swap."""
    incremental_run(spark, "inc_sync_add", _df(spark, [(1, "a")], "id long, v string"),
                    strategy="append")
    files_before = set(spark.table("inc_sync_add").inputFiles())
    incremental_run(
        spark, "inc_sync_add",
        _df(spark, [(2, "b", 9.5)], "id long, v string, w double"),
        strategy="append", on_schema_change="sync_all_columns",
    )
    rows = {r.id: (r.v, r.w) for r in spark.table("inc_sync_add").collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    # the original data files are still in place — no rewrite happened
    assert files_before <= set(spark.table("inc_sync_add").inputFiles())

    # removing a column still rewrites (parquet has no metadata DROP)
    incremental_run(
        spark, "inc_sync_add", _df(spark, [(3, 1.5)], "id long, w double"),
        strategy="append", on_schema_change="sync_all_columns",
    )
    t = spark.table("inc_sync_add")
    assert set(t.columns) == {"id", "w"}
    assert {r.id for r in t.collect()} == {1, 2, 3}


def test_on_schema_change_ignore_and_append(spark):
    incremental_run(spark, "inc_sc", _df(spark, [(1, "a")], "id long, v string"),
                    strategy="append")
    wider = _df(spark, [(2, "b", 9.0)], "id long, v string, extra double")
    incremental_run(spark, "inc_sc", wider, strategy="append", on_schema_change="ignore")
    assert spark.table("inc_sc").columns == ["id", "v"]
    incremental_run(spark, "inc_sc", wider, strategy="append",
                    on_schema_change="append_new_columns")
    t = spark.table("inc_sc")
    assert "extra" in t.columns
    assert t.filter(F.col("extra").isNotNull()).count() == 1


# -- snapshots -------------------------------------------------------------

def test_snapshot_timestamp_scd2(spark):
    snapshot_run(
        spark, "snap_t",
        _df(spark, [(1, "A", "2024-01-01 00:00:00")], "id long, v string, updated_at string")
        .withColumn("updated_at", F.col("updated_at").cast("timestamp")),
        unique_key="id", strategy="timestamp", updated_at="updated_at",
    )
    assert spark.table("snap_t").count() == 1

    # changed row (newer updated_at) -> old version closed, new opened
    snapshot_run(
        spark, "snap_t",
        _df(spark, [(1, "B", "2024-02-01 00:00:00")], "id long, v string, updated_at string")
        .withColumn("updated_at", F.col("updated_at").cast("timestamp")),
        unique_key="id", strategy="timestamp", updated_at="updated_at",
    )
    t = spark.table("snap_t")
    assert t.count() == 2
    open_rows = t.filter(F.col("dbt_valid_to").isNull()).collect()
    assert len(open_rows) == 1 and open_rows[0].v == "B"
    closed = t.filter(F.col("dbt_valid_to").isNotNull()).collect()[0]
    assert closed.v == "A" and str(closed.dbt_valid_to).startswith("2024-02-01")

    # unchanged re-run -> no new versions
    snapshot_run(
        spark, "snap_t",
        _df(spark, [(1, "B", "2024-02-01 00:00:00")], "id long, v string, updated_at string")
        .withColumn("updated_at", F.col("updated_at").cast("timestamp")),
        unique_key="id", strategy="timestamp", updated_at="updated_at",
    )
    assert spark.table("snap_t").count() == 2


def test_snapshot_check_strategy_null_asymmetry(spark):
    snapshot_run(
        spark, "snap_c",
        _df(spark, [(1, None), (2, "x")], "id long, v string"),
        unique_key="id", strategy="check", check_cols=["v"],
        run_ts="2024-01-01 00:00:00",
    )
    # NULL -> value and value -> same are handled per strategies.sql:157-174
    snapshot_run(
        spark, "snap_c",
        _df(spark, [(1, "now-set"), (2, "x")], "id long, v string"),
        unique_key="id", strategy="check", check_cols=["v"],
        run_ts="2024-02-01 00:00:00",
    )
    t = spark.table("snap_c")
    assert t.count() == 3  # id=1 has two versions; id=2 unchanged
    assert t.filter((F.col("id") == 2)).count() == 1


def test_snapshot_hard_delete_invalidate_and_new_record(spark):
    snapshot_run(spark, "snap_d", _df(spark, [(1, "A"), (2, "B")], "id long, v string"),
                 unique_key="id", strategy="check", check_cols=["v"],
                 run_ts="2024-01-01 00:00:00")
    snapshot_run(spark, "snap_d", _df(spark, [(1, "A")], "id long, v string"),
                 unique_key="id", strategy="check", check_cols=["v"],
                 hard_deletes="invalidate", run_ts="2024-02-01 00:00:00")
    t = spark.table("snap_d")
    gone = t.filter(F.col("id") == 2).collect()[0]
    assert gone.dbt_valid_to is not None  # closed out

    snapshot_run(spark, "snap_n", _df(spark, [(1, "A"), (2, "B")], "id long, v string"),
                 unique_key="id", strategy="check", check_cols=["v"],
                 run_ts="2024-01-01 00:00:00")
    snapshot_run(spark, "snap_n", _df(spark, [(1, "A")], "id long, v string"),
                 unique_key="id", strategy="check", check_cols=["v"],
                 hard_deletes="new_record", run_ts="2024-02-01 00:00:00")
    t2 = spark.table("snap_n")
    tomb = t2.filter((F.col("id") == 2) & (F.col("dbt_is_deleted") == "True"))
    assert tomb.count() == 1


# -- schema tests ----------------------------------------------------------

def test_generic_tests_and_harness(spark):
    df = _df(spark, [(1, "A"), (1, "B"), (None, "Z")], "id long, v string")
    assert unique_test(df, "id").count() == 1
    assert not_null_test(df, "id").count() == 1
    assert accepted_values_test(df, "v", ["A", "B"]).count() == 1

    parent = _df(spark, [(1,)], "pk long")
    child = _df(spark, [(1,), (2,)], "fk long")
    assert relationships_test(child, "fk", parent, "pk").count() == 1

    res = run_test(unique_test(df, "id"), name="unique_id")
    assert res.status == "fail" and res.failures == 1
    res2 = run_test(unique_test(df, "id"), name="unique_id", error_if="> 5")
    assert res2.status == "warn"
    res3 = run_test(unique_test(df, "id"), name="unique_id",
                    warn_if="> 5", error_if="> 5")
    assert res3.status == "pass"


def test_freshness_check(spark):
    df = _df(spark, [("2024-01-01 00:00:00",)], "loaded_at string")
    r = freshness_check(df, "loaded_at", warn_after_seconds=3600,
                        error_after_seconds=86400, now="2024-01-01 00:30:00")
    assert r["status"] == "pass"
    r2 = freshness_check(df, "loaded_at", warn_after_seconds=60,
                         error_after_seconds=86400, now="2024-01-01 00:30:00")
    assert r2["status"] == "warn"


# -- registry / DAG --------------------------------------------------------

def test_registry_dag_and_materializations(spark):
    r = ModelRegistry(spark)
    r.add_source("raw", _df(spark, [(1, "x"), (2, "y")], "id long, v string"))

    @r.model()
    def stg(ctx):
        return ctx.source("raw").withColumn("v", F.upper("v"))

    @r.model(materialized="table")
    def mart(ctx):
        return ctx.ref("stg").filter(F.col("id") > 1)

    out = r.run()
    assert sorted(out) == ["mart", "stg"]
    assert spark.table("mart").collect()[0].v == "Y"
    # view stays lazy but queryable by name
    assert spark.table("stg").count() == 2


def test_registry_materialized_view_recomputes_on_run(spark):
    """S10: a ``materialized_view`` model is a catalog table the
    registry rewrites from its current inputs on every run."""
    r = ModelRegistry(spark)
    r.add_source("mv_raw", _df(spark, [(1, 10), (2, 20)], "id long, v long"))

    @r.model(materialized="materialized_view")
    def mv_totals(ctx):
        return ctx.source("mv_raw").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
        )

    r.run()
    assert spark.catalog.tableExists("mv_totals")
    assert [tuple(x) for x in spark.table("mv_totals").collect()] == [(2, 30)]

    r.add_source(
        "mv_raw", _df(spark, [(1, 10), (2, 20), (3, 5)], "id long, v long")
    )
    r.run()
    assert [tuple(x) for x in spark.table("mv_totals").collect()] == [(3, 35)]


def test_registry_incremental_model_uses_this(spark):
    r = ModelRegistry(spark)
    r.add_source("events_src", _df(spark, [(1, "a"), (2, "b")], "id long, v string"))

    @r.model(materialized="incremental", incremental_strategy="append")
    def inc_fact(ctx):
        src = ctx.source("events_src")
        if ctx.is_incremental():
            existing = ctx.this.select("id")
            src = src.join(existing, "id", "left_anti")
        return src

    r.run()
    assert spark.table("inc_fact").count() == 2
    # second run: anti-join dedup -> nothing appended
    r2 = ModelRegistry(spark)
    r2.add_source("events_src", _df(spark, [(1, "a"), (3, "c")], "id long, v string"))

    @r2.model(name="inc_fact", materialized="incremental", incremental_strategy="append")
    def inc_fact2(ctx):
        src = ctx.source("events_src")
        if ctx.is_incremental():
            src = src.join(ctx.this.select("id"), "id", "left_anti")
        return src

    r2.run()
    assert spark.table("inc_fact").count() == 3


def test_registry_cycle_detection(spark):
    r = ModelRegistry(spark)

    @r.model()
    def a(ctx):
        return ctx.ref("b")

    @r.model()
    def b(ctx):
        return ctx.ref("a")

    with pytest.raises(ValueError, match="cycle"):
        r.run()


def test_salted_join_matches_plain_join(spark):
    """salted_join is result-identical to a plain join on skewed data
    (one hot key owning 90% of rows), for inner and left."""
    from healthcare_dbt_datamart_spark.operators.skew import salted_join
    from pyspark.sql import functions as F

    left = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.createDataFrame(
        [(7, "hot"), (950, "cold"), (999, "cold2")], "k long, tag string"
    )
    for how in ("inner", "left"):
        plain = left.join(right, "k", how)
        salted = salted_join(left, right, "k", how, n_salt=8)
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        )


def test_unit_test_harness(spark):
    """U3: actual-vs-expected tagged diff; empty when equal, multiset-aware."""
    from healthcare_dbt_datamart_spark.operators.testing import unit_test
    from pyspark.sql import functions as F

    actual = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b")], "id long, v string")
    same = spark.createDataFrame([(2, "b"), (1, "a"), (2, "b")], "id long, v string")
    assert unit_test(actual, same).count() == 0
    # one duplicate missing + one value wrong -> both sides report
    diff = spark.createDataFrame([(1, "a"), (2, "X")], "id long, v string")
    rows = {(r.which, r.id, r.v) for r in unit_test(actual, diff).collect()}
    assert ("actual", 2, "b") in rows and ("expected", 2, "X") in rows


def test_bucketed_tables_join_without_exchange(spark):
    """Two tables bucketed on the join key with equal bucket counts must
    join with NO Exchange in the physical plan — the write-time-shuffle
    trade materialize_table(bucket_by=...) exists for."""
    big = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    dim = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("b")
    )
    mat.materialize_table(spark, "t_bkt_fact", big, bucket_by=(4, ["k"]))
    mat.materialize_table(spark, "t_bkt_dim", dim, bucket_by=(4, ["k"]))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_bkt_fact").join(spark.table("t_bkt_dim"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_merge_update_columns_subset(spark):
    """I2 matched-update column subset (merge.sql:19-29): listed columns
    take the source value, unlisted keep the target's; exclude variant is
    the complement; new keys insert whole."""
    t0 = _df(spark, [(1, "a", 10), (2, "b", 20)], "k long, name string, v long")
    incremental_run(spark, "t_mupd", t0, strategy="merge", unique_key="k")
    src = _df(spark, [(2, "B!", 99), (3, "c", 30)], "k long, name string, v long")
    incremental_run(
        spark, "t_mupd", src, strategy="merge", unique_key="k",
        merge_update_columns=["v"],
    )
    rows = {r.k: (r.name, r.v) for r in spark.table("t_mupd").collect()}
    assert rows[1] == ("a", 10)      # untouched
    assert rows[2] == ("b", 99)      # v updated, name KEPT from target
    assert rows[3] == ("c", 30)      # new key inserts whole row
    # exclude variant: everything except 'name' updates (i.e. v)
    src2 = _df(spark, [(2, "ZZZ", 7)], "k long, name string, v long")
    incremental_run(
        spark, "t_mupd", src2, strategy="merge", unique_key="k",
        merge_exclude_columns=["name"],
    )
    rows = {r.k: (r.name, r.v) for r in spark.table("t_mupd").collect()}
    assert rows[2] == ("b", 7)
    with pytest.raises(ValueError):
        incremental_run(
            spark, "t_mupd", src2, strategy="merge", unique_key="k",
            merge_update_columns=["v"], merge_exclude_columns=["name"],
        )


def test_partitioned_table_prunes_at_plan_time(spark):
    """partition_by writes hive-style partitions; a filter on the key
    must show up as PartitionFilters (directory pruning), not a data
    filter over a full scan."""
    df = _df(
        spark,
        [(i, f"2024-01-{(i % 3) + 1:02d}") for i in range(90)],
        "id long, ds string",
    )
    mat.materialize_table(spark, "t_part", df, partition_by=["ds"])
    q = spark.table("t_part").filter(F.col("ds") == "2024-01-02")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024-01-02" in plan
    assert q.count() == 30


def test_sources_permissive_corrupt_capture(spark, tmp_path):
    """JSONL/CSV loads with declared schema: malformed rows land in
    _corrupt_record and surface as test violations; clean side drops the
    capture column."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from healthcare_dbt_datamart_spark.operators import sources as src

    schema = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    jl = tmp_path / "feed.jsonl"
    jl.write_text('{"id": 1, "name": "ok"}\n{not json at all}\n{"id": 2, "name": "b"}\n')
    df = src.read_jsonl(spark, str(jl), schema)
    assert src.corrupt_records(df).count() == 1
    good = src.good_records(df)
    assert sorted(r.id for r in good.collect()) == [1, 2]
    assert src.CORRUPT_COL not in good.columns
    csvf = tmp_path / "feed.csv"
    csvf.write_text("id,name\n1,ok\nnot_a_number,x\n")
    cdf = src.read_csv(spark, str(csvf), schema)
    assert src.corrupt_records(cdf).count() == 1
    assert src.good_records(cdf).count() == 1

    # RFC-4180 quoted field with an embedded newline: the line scan
    # quarantines both fragments; multiline=True parses it as one record
    mlf = tmp_path / "feed_ml.csv"
    mlf.write_text('id,name\n1,"line one\nline two"\n2,plain\n')
    split = src.read_csv(spark, str(mlf), schema)
    # the record splits into two fragments: one quarantines, and the
    # other "parses" with a truncated name — the documented limitation
    assert src.corrupt_records(split).count() >= 1
    assert "line one\nline two" not in {
        r.name for r in src.good_records(split).collect()
    }
    ml = src.read_csv(spark, str(mlf), schema, multiline=True)
    assert src.corrupt_records(ml).count() == 0
    got = {r.id: r.name for r in src.good_records(ml).collect()}
    assert got == {1: "line one\nline two", 2: "plain"}


def test_job_group_tags_and_clears(spark):
    from healthcare_dbt_datamart_spark.session import job_group

    with job_group(spark, "model:test_model", "unit test") as s:
        assert s.range(10).count() == 10
        assert (
            s.sparkContext.getLocalProperty("spark.jobGroup.id") == "model:test_model"
        )
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_scalar_function_materialization(spark):
    """SQL UDF materialization: callable from SQL, inlined by Catalyst
    (no BatchEvalPython in the plan), replace-on-rerun."""
    mat.materialize_scalar_function(
        spark, "t_sk",
        [("a", "STRING"), ("b", "STRING")], "STRING",
        "md5(concat(coalesce(a, ''), '|', coalesce(b, '')))",
    )
    got = spark.sql("SELECT t_sk('x', NULL) AS k").collect()[0].k
    want = spark.sql("SELECT md5('x|') AS k").collect()[0].k
    assert got == want
    plan = spark.sql("SELECT t_sk('x', 'y') AS k")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    # replace-on-rerun (same name, new body)
    mat.materialize_scalar_function(spark, "t_sk", [("a", "STRING"), ("b", "STRING")], "STRING", "upper(a)")
    assert spark.sql("SELECT t_sk('x', 'y') AS k").collect()[0].k == "X"


def test_enforce_contract_diff_and_reorder(spark):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from healthcare_dbt_datamart_spark.operators.testing import enforce_contract

    contract = StructType(
        [StructField("id", LongType()), StructField("name", StringType())]
    )
    ok = _df(spark, [("a", 1)], "name string, id long")  # wrong order: fine
    assert enforce_contract(ok, contract).columns == ["id", "name"]
    with pytest.raises(ValueError, match="missing: \\['name'\\]"):
        enforce_contract(_df(spark, [(1,)], "id long"), contract)
    with pytest.raises(ValueError, match="extra: \\['zzz'\\]"):
        enforce_contract(
            _df(spark, [(1, "a", 2)], "id long, name string, zzz long"), contract
        )
    with pytest.raises(ValueError, match="mistyped: .*id: have string"):
        enforce_contract(_df(spark, [("1", "a")], "id string, name string"), contract)


def test_enforce_contract_ignores_nested_nullability(spark):
    """A literal-built array<string> carries containsNull=False; the
    contract's default ArrayType has containsNull=True. Both print as
    array<string> — 'only names and types' means this must PASS, so
    nested nullability flags are normalized before comparison."""
    from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

    from healthcare_dbt_datamart_spark.operators.testing import enforce_contract

    contract = StructType(
        [StructField("id", LongType()), StructField("tags", ArrayType(StringType()))]
    )
    df = spark.range(1).select(
        F.col("id"), F.array(F.lit("a"), F.lit("b")).alias("tags")
    )
    assert df.schema["tags"].dataType.containsNull is False  # the trap exists
    assert enforce_contract(df, contract).columns == ["id", "tags"]
    # a genuinely different element type still fails
    bad = spark.range(1).select(
        F.col("id"), F.array(F.lit(1), F.lit(2)).alias("tags")
    )
    with pytest.raises(ValueError, match="mistyped"):
        enforce_contract(bad, contract)


def test_pandas_grouped_agg_udaf_matches_builtin(spark):
    """§2.12 UDAF extension point: an Arrow-batched grouped-agg pandas UDF
    (geometric mean) agrees with the pure-Catalyst exp(avg(ln)) identity —
    the sanctioned path when an aggregate has no builtin."""
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: the annotation-driven inference can't see
    # through this module's postponed (string) annotations
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geomean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v).mean()))

    df = _df(
        spark,
        [("a", 2.0), ("a", 8.0), ("b", 3.0), ("b", 27.0), ("b", 9.0)],
        "k string, v double",
    )
    got = {r.k: r.g for r in df.groupBy("k").agg(geomean("v").alias("g")).collect()}
    want = {
        r.k: r.g
        for r in df.groupBy("k")
        .agg(F.exp(F.avg(F.log("v"))).alias("g"))
        .collect()
    }
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) < 1e-9 for k in got)


def test_graph_selection_closures_and_reuse(spark):
    """dbt --select semantics: +name pulls upstreams, name+ pulls
    downstreams, unselected materialized upstreams are read not rebuilt."""
    r = ModelRegistry(spark)
    built = []

    @r.model(materialized="table")
    def g_a(ctx):
        built.append("g_a")
        return spark.range(3).select(F.col("id").alias("k"))

    @r.model(materialized="table")
    def g_b(ctx):
        built.append("g_b")
        return ctx.ref("g_a").withColumn("b", F.col("k") * 2)

    @r.model(materialized="table")
    def g_c(ctx):
        built.append("g_c")
        return ctx.ref("g_b").withColumn("c", F.col("b") + 1)

    assert r.select_nodes("+g_b") == {"g_a", "g_b"}
    assert r.select_nodes("g_b+") == {"g_b", "g_c"}
    assert r.select_nodes("+g_b+") == {"g_a", "g_b", "g_c"}

    r.run()  # materialize everything once
    built.clear()
    out = r.run(select="g_b+")  # downstream of b: b and c rebuild, a reused
    assert set(out) == {"g_b", "g_c"}
    # dependency discovery runs each body once (lazily); only b and c run
    # again for materialization — g_a is read from its table, not rebuilt
    assert built.count("g_a") == 1
    assert built.count("g_b") == 2 and built.count("g_c") == 2
    assert spark.table("g_c").count() == 3


def test_snapshot_valid_to_current_literal(spark):
    """dbt_valid_to_current (helpers.sql:272-276): open rows carry the
    far-future literal instead of NULL; closed rows get the real close
    timestamp; the literal is still recognized as 'current' next pass."""
    far = "9999-12-31 00:00:00"
    s1 = _df(spark, [(1, "a", "2024-01-01 00:00:00")], "k long, v string, upd string")
    s1 = s1.withColumn("upd", F.col("upd").cast("timestamp"))
    snapshot_run(
        spark, "snap_v2c", s1, unique_key="k", strategy="timestamp",
        updated_at="upd", dbt_valid_to_current=far,
    )
    r1 = spark.table("snap_v2c").collect()
    assert str(r1[0].dbt_valid_to) == far
    s2 = _df(spark, [(1, "b", "2024-02-01 00:00:00")], "k long, v string, upd string")
    s2 = s2.withColumn("upd", F.col("upd").cast("timestamp"))
    snapshot_run(
        spark, "snap_v2c", s2, unique_key="k", strategy="timestamp",
        updated_at="upd", dbt_valid_to_current=far,
    )
    rows = sorted(spark.table("snap_v2c").collect(), key=lambda r: r.dbt_valid_from)
    assert len(rows) == 2
    assert str(rows[0].dbt_valid_to) == "2024-02-01 00:00:00"  # closed for real
    assert str(rows[1].dbt_valid_to) == far                     # new current


def test_merge_incremental_predicates_protect_target(spark):
    """merge with incremental_predicates: target rows outside the
    predicate window never update, even on key match."""
    t0 = _df(
        spark,
        [(1, "2023", 10), (1, "2024", 20), (2, "2024", 30)],
        "k long, yr string, v long",
    )
    # composite key (k, yr) unique; predicate scopes matching to yr=2024
    incremental_run(spark, "t_mpred", t0, strategy="merge", unique_key=["k", "yr"])
    src = _df(
        spark,
        [(1, "2023", 99), (1, "2024", 88)],
        "k long, yr string, v long",
    )
    incremental_run(
        spark, "t_mpred", src, strategy="merge", unique_key=["k", "yr"],
        incremental_predicates=["yr = '2024'"],
    )
    rows = {(r.k, r.yr): r.v for r in spark.table("t_mpred").collect()}
    assert rows[(1, "2024")] == 88          # inside predicate: updated
    assert rows[(2, "2024")] == 30          # untouched
    # outside predicate: protected original + the source row appended
    vals = sorted(
        r.v for r in spark.table("t_mpred").filter("k=1 and yr='2023'").collect()
    )
    assert vals == [10, 99]


def test_merge_predicate_null_rows_are_protected(spark):
    """SQL 3VL: a target row where the incremental predicate evaluates to
    NULL is NOT matched by MERGE — it must survive the rebuild, not be
    silently dropped by landing in neither filter(pred) nor filter(~pred)."""
    t0 = _df(
        spark,
        [(1, "2024", 10), (2, None, 20), (3, "2024", 30)],
        "k long, yr string, v long",
    )
    incremental_run(spark, "t_mpnull", t0, strategy="merge", unique_key="k")
    src = _df(spark, [(1, "2024", 99)], "k long, yr string, v long")
    incremental_run(
        spark, "t_mpnull", src, strategy="merge", unique_key="k",
        incremental_predicates=["yr = '2024'"],
    )
    rows = {r.k: r.v for r in spark.table("t_mpnull").collect()}
    # the NULL-yr row survived as protected; matched row updated
    assert rows == {1: 99, 2: 20, 3: 30}


def test_microbatch_keeps_null_event_time_rows(spark):
    """DELETE WHERE ev in [lo, hi): NULL event_time is not in the window
    (3VL) — those rows must survive every microbatch run. (The NULL row
    enters the TARGET via a plain build: microbatch itself never lands
    out-of-window rows, including on its first run.)"""
    t0 = _df(
        spark, [("2024-01-01", 1), (None, 2)], "d string, v long"
    ).withColumn("d", F.col("d").cast("date"))
    incremental_run(spark, "inc_mbnull", t0, strategy="append")
    redo = _df(spark, [("2024-01-01", 10)], "d string, v long").withColumn(
        "d", F.col("d").cast("date")
    )
    incremental_run(
        spark, "inc_mbnull", redo, strategy="microbatch", event_time="d",
        batch_start="2024-01-01", batch_end="2024-01-02",
    )
    rows = sorted(r.v for r in spark.table("inc_mbnull").collect())
    assert rows == [2, 10]  # NULL-date row survived; window replaced


def test_merge_duplicate_source_keys_raise(spark):
    """MERGE with a duplicate-keyed source is nondeterministic — raise
    like Snowflake/Delta instead of silently corrupting the table."""
    incremental_run(spark, "inc_dup", _df(spark, [(1, "a")], "id long, v string"),
                    strategy="merge", unique_key="id")
    with pytest.raises(ValueError, match="multiple rows"):
        incremental_run(
            spark, "inc_dup",
            _df(spark, [(1, "x"), (1, "y")], "id long, v string"),
            strategy="merge", unique_key="id",
        )


def test_on_schema_change_fail_and_unknown(spark):
    """'fail' raises on any schema difference; unknown modes raise even
    when the batch happens to add no columns."""
    incremental_run(spark, "inc_scf", _df(spark, [(1, "a")], "id long, v string"),
                    strategy="append")
    with pytest.raises(ValueError, match="unknown on_schema_change"):
        incremental_run(
            spark, "inc_scf", _df(spark, [(2, "b")], "id long, v string"),
            strategy="append", on_schema_change="fial",
        )
    with pytest.raises(ValueError, match="differs from target"):
        incremental_run(
            spark, "inc_scf", _df(spark, [(2,)], "id long"),
            strategy="append", on_schema_change="fail",
        )
    # same schema passes under 'fail'
    incremental_run(
        spark, "inc_scf", _df(spark, [(3, "c")], "id long, v string"),
        strategy="append", on_schema_change="fail",
    )
    assert spark.table("inc_scf").count() == 2


def test_run_test_threshold_no_space(spark):
    """dbt threshold syntax without spaces ('>10', '!=0') parses."""
    from healthcare_dbt_datamart_spark.operators.testing import run_test

    v = _df(spark, [(1,), (2,)], "id long")
    res = run_test(v, warn_if=">10", error_if="!=0")
    assert not res.should_warn and res.should_error


def test_run_test_custom_fail_calc(spark):
    """fail_calc is an arbitrary aggregate expression like dbt's —
    sum(n_records) weights a histogram test by row counts."""
    from healthcare_dbt_datamart_spark.operators.testing import run_test

    v = _df(spark, [("P", 7), ("X", 5)], "value_field string, n_records long")
    res = run_test(v, fail_calc="sum(n_records)", warn_if="> 10", error_if="> 100")
    assert res.failures == 12
    assert res.should_warn and not res.should_error
    # empty relation: custom fail_calc coalesces NULL to 0
    empty = v.limit(0)
    assert run_test(empty, fail_calc="sum(n_records)").failures == 0


def test_compact_table_reduces_files(spark):
    df = spark.range(10000).repartition(64).selectExpr("id AS k", "id*2 AS v")
    mat.materialize_table(spark, "t_compact", df)
    # count FILES, not read splits: Spark packs small files into splits
    # by defaultParallelism, so a split count depends on the core count
    assert len(spark.table("t_compact").inputFiles()) >= 32
    n = mat.compact_table(spark, "t_compact", target_partitions=4)
    assert n <= 4
    assert len(spark.table("t_compact").inputFiles()) <= 4
    assert spark.table("t_compact").count() == 10000
    # clustered recompaction keeps data + sorts within files
    n2 = mat.compact_table(spark, "t_compact", target_partitions=4, cluster_by=["k"])
    assert spark.table("t_compact").count() == 10000


def test_cli_surface(spark):
    """The dbt-style CLI (ls / run --select / compile / docs /
    source-freshness) drives every project through the registry: run
    respects graph selection, docs emits the manifest JSON, compile
    explains without materializing."""
    import json as _json

    from healthcare_dbt_datamart_spark.__main__ import main

    sf = "/root/testdata/sf0.001"
    out: list[str] = []
    log = out.append

    assert main(["ls", "--project", "corpus_release", "--sf-dir", sf], log) == 0
    assert any("release_manifest" in line for line in out)

    out.clear()
    assert (
        main(
            [
                "run",
                "--project",
                "corpus_release",
                "--sf-dir",
                sf,
                "--select",
                "+corpus_quality",
            ],
            log,
        )
        == 0
    )
    names = {line.split()[2] for line in out}
    assert names == {"stg_corpus", "corpus_dedup", "corpus_quality"}

    # --threads applies to selections too; output keeps registration order
    out.clear()
    assert (
        main(
            [
                "run", "--project", "corpus_release", "--sf-dir", sf,
                "--threads", "2", "--select", "+corpus_quality",
            ],
            log,
        )
        == 0
    )
    assert [line.split()[2] for line in out] == [
        "stg_corpus", "corpus_dedup", "corpus_quality",
    ]

    out.clear()
    assert main(["docs", "--project", "curation", "--sf-dir", sf], log) == 0
    man = _json.loads("".join(out))
    assert man["nodes"]["curation_report"]["depends_on"] == ["stg_documents"]

    out.clear()
    assert (
        main(
            [
                "compile",
                "--project",
                "datamart",
                "--sf-dir",
                sf,
                "--model",
                "int_gap_col_status",
            ],
            log,
        )
        == 0
    )
    assert "Physical Plan" in "".join(out)

    out.clear()
    assert main(["source-freshness", "--project", "datamart", "--sf-dir", sf], log) == 0
    assert "no sources declare a freshness contract" in out[0]


def test_microbatch_backfill_and_run_results(spark, tmp_path):
    """Backfill slices the range into period batches, runs the model per
    batch through the microbatch delete+insert (idempotent re-runs), and
    registry.run records a run_results artifact with per-model status."""
    from datetime import datetime

    from healthcare_dbt_datamart_spark.operators.incremental import (
        microbatch_backfill,
        microbatch_batches,
    )
    from healthcare_dbt_datamart_spark.plans import ModelRegistry

    bs = microbatch_batches(
        datetime(2024, 1, 10, 7), datetime(2024, 1, 13), period="day"
    )
    assert [b[0].day for b in bs] == [10, 11, 12]
    # batches align to periods but CLAMP to the requested range: the
    # first batch starts at 07:00, not the period floor
    assert bs[0][0] == datetime(2024, 1, 10, 7)
    assert bs[-1][1] == datetime(2024, 1, 13)
    import pytest as _p

    with _p.raises(ValueError):
        microbatch_batches(datetime(2024, 1, 1), datetime(2024, 1, 1))

    base = spark.createDataFrame(
        [(i, datetime(2024, 1, 10 + i % 3, 12), float(i)) for i in range(30)],
        "event_id long, ts timestamp, value double",
    )

    def model(s, b_start, b_end):
        return base.filter(
            (F.col("ts") >= F.lit(b_start)) & (F.col("ts") < F.lit(b_end))
        )

    if spark.catalog.tableExists("t_backfill"):
        spark.sql("DROP TABLE t_backfill")
    ran = microbatch_backfill(
        spark, "t_backfill", model, "ts",
        datetime(2024, 1, 10), datetime(2024, 1, 13),
    )
    assert len(ran) == 3
    assert spark.table("t_backfill").count() == 30
    # idempotent: re-backfilling a sub-range replaces, never duplicates
    microbatch_backfill(
        spark, "t_backfill", model, "ts",
        datetime(2024, 1, 11), datetime(2024, 1, 12),
    )
    assert spark.table("t_backfill").count() == 30

    # run_results artifact
    r = ModelRegistry(spark)
    r.add_source("raw", base)

    @r.model()
    def t_rr_view(ctx):
        return ctx.source("raw")

    r.run()
    assert [x["model"] for x in r.run_results] == ["t_rr_view"]
    assert r.run_results[0]["status"] == "success"
    assert r.run_results[0]["execute_seconds"] >= 0

    # registry-level backfill: a microbatch model run with
    # event_time_start/end executes once per period batch, sees its
    # bounds on the context, and the result is clamped per batch
    r2 = ModelRegistry(spark)
    r2.add_source("raw2", base)
    seen: list[tuple] = []

    @r2.model(
        materialized="incremental",
        incremental_strategy="microbatch",
        event_time="ts",
        batch_size="day",
    )
    def t_mb_backfill(ctx):
        seen.append((ctx.batch_start, ctx.batch_end))
        # body ignores its bounds on purpose: the registry's clamp must
        # still deliver per-batch correctness
        return ctx.source("raw2")

    if spark.catalog.tableExists("t_mb_backfill"):
        spark.sql("DROP TABLE t_mb_backfill")
    r2.run(
        event_time_start=datetime(2024, 1, 10),
        event_time_end=datetime(2024, 1, 13),
    )
    assert len(seen) == 3 and seen[0][0].day == 10 and seen[2][1].day == 13
    assert spark.table("t_mb_backfill").count() == 30
    # re-backfill one day: idempotent
    r2.run(
        event_time_start=datetime(2024, 1, 11),
        event_time_end=datetime(2024, 1, 12),
    )
    assert spark.table("t_mb_backfill").count() == 30


def test_exposures_and_seed_options(spark, tmp_path):
    """Exposures land in the manifest with validated upstreams; seed
    loading honors delimiter/quote reader config."""
    r = ModelRegistry(spark)
    r.add_source("raw", spark.range(3).selectExpr("id AS k"))

    @r.model()
    def t_exp_m(ctx):
        return ctx.source("raw")

    r.add_exposure(
        "weekly_dash", ["t_exp_m"], kind="dashboard", owner="analytics"
    )
    man = r.manifest()
    assert man["exposures"]["weekly_dash"]["depends_on"] == ["t_exp_m"]
    with pytest.raises(ValueError):
        r.add_exposure("bad", ["nope"])

    csv = tmp_path / "seed.csv"
    csv.write_text("a|b\n1|'x|y'\n2|z\n")
    mat.materialize_seed(
        spark, "t_seed_opts", str(csv), delimiter="|", quote="'"
    )
    rows = {r_.a: r_.b for r_ in spark.table("t_seed_opts").collect()}
    assert rows == {1: "x|y", 2: "z"}


def test_state_modified_selection(spark):
    """Slim CI: the manifest checksum fingerprints each model's compiled
    body + declarative config, stable across registry instances for
    unchanged code; state:modified selects exactly the changed models
    (and state:modified+ their downstream closure)."""
    src = spark.range(10).selectExpr("id AS k", "id * 2 AS v")

    def build_registry(bump: bool):
        r = ModelRegistry(spark)
        r.add_source("raw", src)

        if bump:
            @r.model()
            def t_sm_a(ctx):
                return ctx.source("raw").withColumn("extra", F.lit(1))
        else:
            @r.model()
            def t_sm_a(ctx):
                return ctx.source("raw")

        @r.model()
        def t_sm_b(ctx):
            return ctx.ref("t_sm_a").selectExpr("k")

        @r.model()
        def t_sm_c(ctx):
            return ctx.source("raw").selectExpr("v")

        return r

    old_state = build_registry(False).manifest()
    # identical code in a FRESH registry: nothing modified
    assert build_registry(False).modified_nodes(old_state) == set()
    # one body changed: exactly that model; + adds its downstream
    r2 = build_registry(True)
    assert r2.modified_nodes(old_state) == {"t_sm_a"}
    built = r2.run(select="state:modified+", state=old_state)
    assert set(built) == {"t_sm_a", "t_sm_b"}
    # a model the old state never saw counts as modified
    assert "checksum" in old_state["nodes"]["t_sm_c"]
    del old_state["nodes"]["t_sm_c"]
    assert build_registry(False).modified_nodes(old_state) == {"t_sm_c"}
    # state:modified without state raises instead of running everything
    import pytest as _p

    with _p.raises(ValueError):
        build_registry(False).run(select="state:modified")


def test_state_modified_follows_called_helpers(spark):
    """The checksum covers the package functions a model body reaches
    through its module globals, transitively: an edit to a helper two
    calls deep selects the model, a model that calls no helper stays
    unselected, and the same source loaded into a fresh module keeps
    every checksum."""
    import types

    def load(inner_body):
        mod = types.ModuleType("ckpkg.models")
        exec(
            compile(
                "def _inner(df):\n"
                f"    return {inner_body}\n"
                "def _outer(df):\n"
                "    return _inner(df)\n"
                "def t_ck_helper(ctx):\n"
                "    return _outer(ctx.source('raw'))\n"
                "def t_ck_plain(ctx):\n"
                "    return ctx.source('raw')\n",
                "ckpkg/models.py",
                "exec",
            ),
            mod.__dict__,
        )
        r = ModelRegistry(spark)
        r.add_source("raw", spark.range(3))
        r.model()(mod.t_ck_helper)
        r.model()(mod.t_ck_plain)
        return r

    state = load("df").manifest()
    assert load("df").modified_nodes(state) == set()
    assert load("df.limit(1)").modified_nodes(state) == {"t_ck_helper"}


@pytest.mark.parametrize(
    "query, module, operator",
    [
        ("seed_nation_csv", "operators.materialize", "materialize_seed"),
        ("clone_snapshot", "operators.materialize", "clone_table"),
        ("ivfadc_indexed", "llmops.similarity", "build_ivfpq_index"),
    ],
)
def test_operator_gate_queries_fail_with_their_operator(
    spark, monkeypatch, query, module, operator
):
    """A query that exists to gate an operator fails when the operator
    does: no fallback serves oracle-equal rows around a broken
    ``materialize_seed``, ``clone_table`` or ``build_ivfpq_index``."""
    import importlib
    from pathlib import Path

    from healthcare_dbt_datamart_spark.models.testdata_queries import QUERIES

    def broken(*args, **kwargs):
        raise RuntimeError(f"{operator} is broken")

    monkeypatch.setattr(
        importlib.import_module(f"healthcare_dbt_datamart_spark.{module}"),
        operator,
        broken,
    )
    sf_dir = Path(__file__).resolve().parents[1] / "perfbench" / "data" / "sf0.01"
    with pytest.raises(RuntimeError, match=f"{operator} is broken"):
        QUERIES[query](spark, str(sf_dir))


def test_registry_schema_tests_and_cli_clone(spark):
    """dbt-test parity on the registry: declared tuple tests run against
    built relations (pass/fail statuses + threshold config), and the
    clone CLI zero-copy-snapshots every built table-backed relation."""
    from healthcare_dbt_datamart_spark.__main__ import main
    from healthcare_dbt_datamart_spark.plans import ModelRegistry

    src = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, None)], ["k", "v"]
    )
    r = ModelRegistry(spark)
    r.add_source("raw", src)

    @r.model(
        materialized="table",
        tests=[
            ("unique", "k"),
            ("not_null", "v"),
            ("not_null", "k", {"warn_if": "> 100"}),
            ("accepted_values", "v", ["a", "b"]),
        ],
    )
    def t_reg_tested(ctx):
        return ctx.source("raw")

    # dbt `where` config wraps the tested MODEL (where_subquery.sql), not
    # the violations output: the k=1 duplicate spans active+inactive rows,
    # so scoped to active rows the unique test passes
    @r.model(
        materialized="view",
        tests=[("unique", "k", {"where": "v = 'a'"})],
    )
    def t_reg_where(ctx):
        return ctx.source("raw").withColumn(
            "v", F.coalesce(F.col("v"), F.lit("z"))
        )

    where_res = r.run_tests(select="t_reg_where")["t_reg_where"][0]
    assert where_res.status == "pass" and where_res.failures == 0

    results = {t.name: t for t in r.run_tests()["t_reg_tested"]}
    assert results["unique_t_reg_tested_k"].status == "fail"
    assert results["unique_t_reg_tested_k"].failures == 1  # one dup key
    assert results["not_null_t_reg_tested_v"].status == "fail"
    assert results["not_null_t_reg_tested_k"].status == "pass"
    assert results["accepted_values_t_reg_tested_v"].status == "pass"  # nulls pass

    # CLI test command: datamart's declared tests all pass on sf0.001
    out: list[str] = []
    sf = "/root/testdata/sf0.001"
    rc = main(["test", "--project", "datamart", "--sf-dir", sf], out.append)
    assert rc == 0 and all(line.startswith(" PASS") for line in out)

    # CLI clone: run the marts first, then snapshot them zero-copy
    out.clear()
    assert main(["run", "--project", "datamart", "--sf-dir", sf], out.append) == 0
    out.clear()
    assert main(
        ["clone", "--project", "datamart", "--sf-dir", sf, "--clone-prefix", "ci_"],
        out.append,
    ) == 0
    assert any("fct_claims -> ci_fct_claims" in line for line in out)
    assert spark.table("ci_fct_claims").count() == spark.table("fct_claims").count()


def test_clone_table_zero_copy_snapshot(spark):
    """S9 clone: content parity, zero-copy (shared inodes), snapshot
    isolation from a later source rebuild, independent lifecycle."""
    import os

    df = spark.range(1000).selectExpr("id AS k", "id % 7 AS grp", "id * 3 AS v")
    mat.materialize_table(spark, "t_clone_src", df)
    n = mat.clone_table(spark, "t_clone_src", "t_clone_snap")
    assert n >= 1

    src = spark.table("t_clone_src").orderBy("k").collect()
    snap = spark.table("t_clone_snap").orderBy("k").collect()
    assert snap == src

    # zero-copy: every parquet data file in the clone shares an inode
    # with a source file (hardlink), no bytes duplicated
    src_loc = mat._table_location(spark, "t_clone_src")
    dst_loc = mat._table_location(spark, "t_clone_snap")
    src_inodes = {
        os.stat(os.path.join(src_loc, f)).st_ino for f in os.listdir(src_loc)
    }
    data_files = [f for f in os.listdir(dst_loc) if f.endswith(".parquet")]
    assert data_files
    for f in data_files:
        st_ = os.stat(os.path.join(dst_loc, f))
        assert st_.st_ino in src_inodes
        assert st_.st_nlink >= 2

    # snapshot isolation: rebuild the source — the clone must not move
    df2 = spark.range(10).selectExpr("id AS k", "id % 2 AS grp", "id AS v")
    mat.materialize_table(spark, "t_clone_src", df2)
    assert spark.table("t_clone_src").count() == 10
    assert spark.table("t_clone_snap").orderBy("k").collect() == snap

    # replace semantics mirror create-or-replace clone
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mat.clone_table(spark, "t_clone_src", "t_clone_snap")
    mat.clone_table(spark, "t_clone_src", "t_clone_snap", replace=True)
    assert spark.table("t_clone_snap").count() == 10

    # independent lifecycle: dropping the clone leaves the source intact
    spark.sql("DROP TABLE t_clone_snap")
    assert spark.table("t_clone_src").count() == 10


def test_clone_table_partitioned_and_rematerialize(spark):
    """Partitioned clone keeps the directory layout (pruning works), and
    the table swap can land ON TOP of a clone target (external DROP
    leaves files; the swap must clear the slot)."""
    df = spark.range(200).selectExpr("id AS k", "CAST(id % 4 AS INT) AS p")
    mat.materialize_table(spark, "t_clone_psrc", df, partition_by=["p"])
    mat.clone_table(spark, "t_clone_psrc", "t_clone_psnap")
    got = spark.table("t_clone_psnap")
    assert got.count() == 200
    assert got.filter("p = 2").count() == 50
    plan = got.filter("p = 2")._jdf.queryExecution().executedPlan().toString()
    assert "t_clone_psnap" in plan

    # re-materialize over the clone name: swap must succeed and fully
    # replace the external occupant
    df3 = spark.range(5).selectExpr("id AS k", "CAST(0 AS INT) AS p")
    mat.materialize_table(spark, "t_clone_psnap", df3)
    assert spark.table("t_clone_psnap").count() == 5
    assert spark.table("t_clone_psrc").count() == 200

    # bucketed clone keeps the bucket spec (the shuffle-free-join layout)
    df4 = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    mat.materialize_table(spark, "t_clone_bsrc", df4, bucket_by=(4, ["k"]))
    mat.clone_table(spark, "t_clone_bsrc", "t_clone_bsnap", replace=True)
    assert mat._bucket_spec(spark, "t_clone_bsnap") == (4, ["k"], ["k"])
    assert spark.table("t_clone_bsnap").count() == 100

    # a database-qualified TARGET is rejected (warehouse-slot layout is
    # per-database); a qualified SOURCE is fine — its location is read
    # from the catalog (custom-schema model relations clone this way)
    import pytest as _p

    with _p.raises(ValueError):
        mat.clone_table(spark, "t_clone_bsrc", "default.t_x")
    mat.clone_table(spark, "default.t_clone_bsrc", "t_clone_bq", replace=True)
    assert spark.table("t_clone_bq").count() == 100


def test_clone_table_lands_in_current_database(spark):
    """After ``USE`` of another database, a clone links its files into
    that database's slot, never into the same-named default-database
    table's directory (which would grow that table and the clone)."""
    db0 = spark.catalog.currentDatabase()
    spark.sql("USE default")
    try:
        spark.sql("DROP TABLE IF EXISTS t_clone_cur")
        mat.materialize_table(
            spark, "t_clone_cur", spark.range(3).selectExpr("id AS k")
        )
        spark.sql("CREATE DATABASE IF NOT EXISTS clone_db2")
        spark.sql("USE clone_db2")
        for t in ("t_clone_cur_src", "t_clone_cur"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        mat.materialize_table(
            spark, "t_clone_cur_src", spark.range(10).selectExpr("id AS k")
        )
        mat.clone_table(spark, "t_clone_cur_src", "t_clone_cur")
        assert spark.table("clone_db2.t_clone_cur").count() == 10
        assert spark.table("default.t_clone_cur").count() == 3
        assert mat._table_location(spark, "t_clone_cur") == mat._slot_path(
            spark, "t_clone_cur"
        )
    finally:
        spark.sql(f"USE {db0}")


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=5, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(  # batches of (key, value) upserts; updated_at increases per batch
        st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 9)),
            min_size=1, max_size=4, unique_by=lambda kv: kv[0],
        ),
        min_size=1, max_size=4,
    )
)
def test_scd2_invariants_under_random_histories(spark, batches):
    """SCD2 structural invariants hold for ANY change sequence:
    exactly one open row per key ever seen, closed ranges are well-formed
    (valid_from <= valid_to), and the open row carries the latest value
    written for its key."""
    name = "snap_fuzz"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    latest = {}
    for i, batch in enumerate(batches):
        day = f"2024-01-{i+1:02d} 00:00:00"
        for k, v in batch:
            latest[k] = v
        # carry forward all previously-seen keys (hard_deletes=ignore means
        # missing keys keep their open row; sending all keeps value model simple)
        src_rows = [(k, latest[k], day) for k in latest]
        src = _df(spark, src_rows, "k long, v long, upd string").withColumn(
            "upd", F.col("upd").cast("timestamp")
        )
        snapshot_run(
            spark, name, src, unique_key="k", strategy="timestamp", updated_at="upd"
        )
        rows = spark.table(name).collect()
        open_rows = [r for r in rows if r.dbt_valid_to is None]
        assert sorted(r.k for r in open_rows) == sorted(latest)  # one open/key
        for r in rows:
            if r.dbt_valid_to is not None:
                assert r.dbt_valid_from <= r.dbt_valid_to
        assert {r.k: r.v for r in open_rows} == latest
    spark.sql(f"DROP TABLE IF EXISTS {name}")


@settings(
    max_examples=5, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["merge", "delete+insert", "append", "insert_overwrite"]),
            st.lists(
                st.tuples(st.integers(0, 3), st.integers(0, 99)),
                min_size=1, max_size=3, unique_by=lambda kv: kv[0],
            ),
        ),
        min_size=1, max_size=4,
    )
)
def test_incremental_strategies_match_dict_model(spark, runs):
    """Every incremental strategy sequence agrees with the obvious Python
    model: merge/delete+insert upsert by key, append concatenates,
    insert_overwrite replaces the table."""
    name = "inc_fuzz"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    model: list[tuple[int, int]] = []
    first = True
    for strategy, batch in runs:
        src = _df(spark, list(batch), "k long, v long")
        incremental_run(spark, name, src, strategy=strategy, unique_key="k")
        if first or strategy == "insert_overwrite":
            model = list(batch)
        elif strategy == "append":
            model = model + list(batch)
        else:  # merge / delete+insert: upsert by key
            keys = {k for k, _ in batch}
            model = [(k, v) for k, v in model if k not in keys] + list(batch)
        first = False
        got = sorted((r.k, r.v) for r in spark.table(name).collect())
        assert got == sorted(model), (strategy, got, model)
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_audit_columns_and_compile_only(spark):
    from healthcare_dbt_datamart_spark.functions.scalar import audit_columns

    df = audit_columns(
        _df(spark, [(1,)], "a long"), run_ts="2024-01-01 00:00:00", run_id="r1"
    )
    row = df.collect()[0]
    assert row._run_id == "r1" and row._loaded_by and str(row._loaded_at).startswith("2024-01-01")

    r = ModelRegistry(spark)
    ran = []

    @r.model(materialized="table")
    def c_up(ctx):
        ran.append("c_up")
        return spark.range(2).select(F.col("id").alias("k"))

    @r.model(materialized="table")
    def c_down(ctx):
        ran.append("c_down")
        return ctx.ref("c_up").withColumn("d", F.col("k") + 1)

    plan = r.compile("c_down")
    assert plan.columns == ["k", "d"]
    # bodies ran to build the lazy plan, but nothing materialized
    assert not spark.catalog.tableExists("c_up")
    assert not spark.catalog.tableExists("c_down")


def test_admin_print_query_logs_rows(spark):
    from healthcare_dbt_datamart_spark.plans.registry import admin_print_query

    lines = []
    out = admin_print_query(
        spark, "SELECT 1 AS a UNION ALL SELECT 2", log=lines.append
    )
    assert out == "OK"
    assert any("QUERY" in str(l) for l in lines)
    assert sum(1 for l in lines if "Row" in str(l)) == 2


# -- full datamart DAG, hooks, unit tests ----------------------------------

def test_full_datamart_dag_with_marts_and_snapshot(spark):
    """registry.run() builds the complete reference DAG including the
    declared-empty marts (fct_claims / dim_member / member_cost_summary)
    and the snap_dim_member SCD2 snapshot, with the generic test library
    green over the outputs."""
    from datetime import date

    from healthcare_dbt_datamart_spark.models.datamart import build_datamart
    from healthcare_dbt_datamart_spark.models.gap_pipeline import GapParams

    members = _df(
        spark,
        [(1, date(1970, 1, 1)), (2, date(1950, 6, 15)), (3, date(2000, 5, 20))],
        "member_id long, birth_date date",
    )
    claims = _df(
        spark,
        [(1001, 1, date(2025, 7, 1), "82274"),
         (1002, 2, date(2025, 2, 10), "12345")],
        "claim_id long, member_id long, service_date date, proc_code string",
    )
    codes = _df(spark, [("82274", "FIT_FOBT")], "code string, evidence_type string")
    params = GapParams(period_start="2025-01-01", period_end="2025-12-31")
    r = build_datamart(spark, members, claims, codes, params,
                       run_ts="2026-01-01 00:00:00")
    out = r.run()
    assert set(out) >= {
        "stg_members", "stg_claim_lines", "int_gap_col_status",
        "int_gap_col_violations", "fct_gap_exceptions",
        "fct_claims", "dim_member", "member_cost_summary", "snap_dim_member",
    }

    fct = spark.table("fct_claims")
    assert fct.count() == 2
    assert fct.filter("is_screening = 1").count() == 1
    dim = spark.table("dim_member")
    assert dim.count() == 3
    mcs = {r.member_id: r for r in spark.table("member_cost_summary").collect()}
    assert mcs[1].n_claim_lines == 1 and mcs[1].n_screening_lines == 1
    assert mcs[3].n_claim_lines == 0

    # snapshot: first run all-current; a changed member closes out + re-inserts
    snap = spark.table("snap_dim_member")
    assert snap.filter("dbt_valid_to IS NULL").count() == 3

    # generic tests attached to the marts
    assert run_test(unique_test(fct, "claim_sk")).status == "pass"
    assert run_test(not_null_test(dim, "member_sk")).status == "pass"
    assert run_test(
        relationships_test(fct, "member_id", dim, "member_id")
    ).status == "pass"
    assert run_test(
        accepted_values_test(fct, "is_screening", [0, 1])
    ).status == "pass"


def test_registry_hooks_run_in_order(spark):
    """Pre-hooks run STRICTLY before the model body (dbt's run_hooks
    ordering — bodies may take eager actions, so compile cannot precede
    the hook), post-hooks after; SQL-string and callable hooks both
    work."""
    r = ModelRegistry(spark)
    calls = []

    @r.model(
        materialized="table",
        pre_hook=[lambda ctx: calls.append(("pre", ctx.name)),
                  "SELECT 1 AS hook_probe"],
        post_hook=lambda ctx: calls.append(
            ("post", ctx.this is not None and ctx.this.count())
        ),
    )
    def hooked(ctx):
        calls.append(("build", None))
        return _df(spark, [(1,), (2,)], "a long")

    r.run()
    assert calls[0] == ("pre", "hooked")     # pre-hooks strictly first
    assert calls[1] == ("build", None)       # then the model body
    assert calls[2] == ("post", 2)           # post sees the built table


def test_registry_unit_test_fixture_override(spark):
    """Registry unit tests (get_fixture_sql analog): refs resolve to the
    given fixtures, the model output compares against expect; an empty
    diff is a pass and a wrong expectation surfaces as tagged rows."""
    r = ModelRegistry(spark)
    r.add_source("raw", _df(spark, [(1, 5), (2, 6)], "id long, v long"))

    @r.model()
    def base(ctx):
        return ctx.source("raw")

    @r.model()
    def doubled(ctx):
        return ctx.ref("base").select("id", (F.col("v") * 2).alias("v2"))

    given = {"base": _df(spark, [(1, 10)], "id long, v long")}
    ok = r.unit_test("doubled", given, _df(spark, [(1, 20)], "id long, v2 long"))
    assert ok.count() == 0
    bad = r.unit_test("doubled", given, _df(spark, [(1, 21)], "id long, v2 long"))
    tags = {row.which for row in bad.collect()}
    assert tags == {"actual", "expected"}
    # nothing materialized by unit tests
    assert not spark.catalog.tableExists("doubled")


def test_registry_manifest_and_source_freshness(spark):
    """manifest(): nodes with materializations + observed dependency
    edges; check_freshness(): dbt-source-freshness over sources declaring
    a loaded_at contract, with injectable now."""
    r = ModelRegistry(spark)
    src = _df(
        spark,
        [("2024-01-01 00:00:00",), ("2024-01-02 00:00:00",)],
        "loaded_at string",
    ).withColumn("loaded_at", F.col("loaded_at").cast("timestamp"))
    r.add_source(
        "feed", src, loaded_at_field="loaded_at",
        warn_after_seconds=3600, error_after_seconds=7 * 86400,
    )

    @r.model()
    def staged(ctx):
        return ctx.source("feed")

    @r.model(materialized="table", unique_key="loaded_at")
    def final(ctx):
        return ctx.ref("staged")

    m = r.manifest()
    assert m["sources"] == ["feed"]
    assert m["nodes"]["final"]["materialized"] == "table"
    assert m["nodes"]["final"]["depends_on"] == ["staged"]
    assert m["nodes"]["final"]["config"] == {"unique_key": "loaded_at"}
    assert m["nodes"]["staged"]["depends_on"] == []

    fresh = r.check_freshness(now="2024-01-02 00:30:00")  # 30 min stale
    assert fresh["feed"]["status"] == "pass"
    warn = r.check_freshness(now="2024-01-03 00:00:00")   # 1 day stale
    assert warn["feed"]["status"] == "warn"
    err = r.check_freshness(now="2024-02-01 00:00:00")    # ~30 days stale
    assert err["feed"]["status"] == "error"


def test_registry_retry_resumes_from_failure(spark):
    """dbt retry analog: after a mid-DAG failure, retry() reruns the
    errored node, the nodes never reached, and the errored node's
    downstream closure — but NOT the tables that already succeeded."""
    r = ModelRegistry(spark)
    r.add_source("raw", _df(spark, [(1, 10), (2, 20)], "id long, v long"))
    calls = {"a": 0, "b": 0, "c": 0}
    fail = {"on": True}

    @r.model(materialized="table")
    def t_a(ctx):
        calls["a"] += 1
        return ctx.source("raw")

    @r.model(materialized="table")
    def t_b(ctx):
        calls["b"] += 1
        if fail["on"]:
            raise RuntimeError("transient upstream outage")
        return ctx.ref("t_a").withColumn("v2", F.col("v") * 2)

    @r.model(materialized="table")
    def t_c(ctx):
        calls["c"] += 1
        return ctx.ref("t_b").filter(F.col("v2") > 20)

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="transient"):
        r.run()
    statuses = {row["model"]: row["status"] for row in r.run_results}
    assert statuses == {"t_a": "success", "t_b": "error"}  # c never ran

    # fingerprint t_a's materialized files: retry must READ, not rebuild
    import os

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    a_files = sorted(
        (f, os.path.getmtime(os.path.join(wh, "t_a", f)))
        for f in os.listdir(os.path.join(wh, "t_a"))
        if f.endswith(".parquet")
    )

    fail["on"] = False
    out = r.retry()
    # b (errored) and c (never reached / downstream) reran; a did NOT
    # (dep discovery compiles bodies — lazy, no materialization — so the
    # proof is the unchanged table files, not body-invocation counts)
    assert sorted(out) == ["t_b", "t_c"]
    assert sorted(
        (f, os.path.getmtime(os.path.join(wh, "t_a", f)))
        for f in os.listdir(os.path.join(wh, "t_a"))
        if f.endswith(".parquet")
    ) == a_files
    assert spark.table("t_c").collect()[0]["v2"] == 40
    # run_results is the MERGED artifact: prior success rows survive for
    # models the retry didn't touch (dbt retry writes a complete
    # run_results.json), so a retry-of-a-retry won't misclassify t_a as
    # never-reached
    statuses = {row["model"]: row["status"] for row in r.run_results}
    assert statuses == {"t_a": "success", "t_b": "success", "t_c": "success"}


def test_registry_retry_requires_prior_run(spark):
    r = ModelRegistry(spark)

    @r.model()
    def lone(ctx):
        return _df(spark, [(1,)], "id long")

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="previous run"):
        r.retry()


def test_registry_retry_after_success_is_noop(spark):
    r = ModelRegistry(spark)
    r.add_source("raw", _df(spark, [(1,)], "id long"))

    @r.model(materialized="table")
    def t_ok(ctx):
        return ctx.source("raw")

    r.run()
    assert r.retry() == {}


def test_registry_threaded_run_matches_serial(spark):
    """run_threaded builds the same DAG state as run(): every
    materialization lands, contents match, diamond deps respected."""
    import threading

    def make(reg):
        reg.add_source("raw", _df(spark, [(i, i * 10) for i in range(1, 5)],
                                  "id long, v long"))
        order: list[str] = []
        lock = threading.Lock()

        def note(name):
            with lock:
                order.append(name)

        @reg.model(materialized="table")
        def th_base(ctx):
            note("base")
            return ctx.source("raw")

        @reg.model(materialized="table")
        def th_left(ctx):
            note("left")
            return ctx.ref("th_base").withColumn("l", F.col("v") + 1)

        @reg.model(materialized="table")
        def th_right(ctx):
            note("right")
            return ctx.ref("th_base").withColumn("r", F.col("v") + 2)

        @reg.model(materialized="table")
        def th_join(ctx):
            note("join")
            return ctx.ref("th_left").join(
                ctx.ref("th_right").select("id", "r"), "id"
            )

        return order

    r1 = ModelRegistry(spark)
    make(r1)
    r1.run()
    serial = sorted(map(tuple, spark.table("th_join").collect()))

    spark.sql("DROP TABLE IF EXISTS th_join")
    r2 = ModelRegistry(spark)
    order = make(r2)
    out = r2.run_threaded(threads=3)
    assert sorted(out) == ["th_base", "th_join", "th_left", "th_right"]
    assert sorted(map(tuple, spark.table("th_join").collect())) == serial
    # scheduler honored the DAG: base strictly first, join strictly last
    # (dep discovery also notes names; only the LAST 4 are the build pass)
    build_order = order[-4:]
    assert build_order[0] == "base" and build_order[-1] == "join"
    statuses = {row["model"] for row in r2.run_results}
    assert statuses == {"th_base", "th_left", "th_right", "th_join"}


def test_registry_threaded_run_failure_is_recorded(spark):
    r = ModelRegistry(spark)
    r.add_source("raw", _df(spark, [(1,)], "id long"))

    @r.model(materialized="table")
    def th_ok(ctx):
        return ctx.source("raw")

    @r.model(materialized="table")
    def th_bad(ctx):
        # LAZY failure: body compiles fine (dep discovery runs bodies,
        # so an eagerly-raising body would break discovery, not the
        # build) — the error fires when the table materializes
        return ctx.ref("th_ok").select(
            "id", F.assert_true(F.col("id") < 0).alias("boom")
        )

    import pytest as _pytest

    with _pytest.raises(Exception):
        r.run_threaded(threads=2)
    statuses = {row["model"]: row["status"] for row in r.run_results}
    assert statuses["th_bad"] == "error" and statuses["th_ok"] == "success"


def test_registry_retry_respects_prior_selection(spark):
    """A retry of a SELECTIVE run must not rebuild models the original
    run deliberately excluded (they also have no run_results row)."""
    r = ModelRegistry(spark)
    r.add_source("raw", _df(spark, [(1,)], "id long"))
    fail = {"on": True}

    @r.model(materialized="table")
    def sel_a(ctx):
        return ctx.source("raw")

    @r.model(materialized="table")
    def sel_b(ctx):
        # lazy failure (dep discovery compiles bodies): fires only when
        # the table materializes, and only while fail["on"]
        df = ctx.ref("sel_a")
        if fail["on"]:
            return df.select("id", F.assert_true(F.col("id") < 0).alias("x"))
        return df

    @r.model(materialized="table")
    def sel_out_of_scope(ctx):
        return ctx.source("raw")

    import pytest as _pytest

    with _pytest.raises(Exception):
        r.run(select="+sel_b")
    fail["on"] = False
    out = r.retry(select="+sel_b")
    assert "sel_b" in out and "sel_out_of_scope" not in out
    assert not spark.catalog.tableExists("sel_out_of_scope")


def test_registry_concurrent_same_node_waits_not_cycle(spark):
    """The cycle guard is per-THREAD and same-node builds serialize on a
    node lock: thread B demanding a model that thread A has in flight
    WAITS for A's build and then reads the memo — the shared-stack
    implementation used to misread A's in-flight frame as B's own
    recursion and raise a spurious 'model cycle'."""
    import threading

    r = ModelRegistry(spark)
    r.add_source("raw", _df(spark, [(1, 10)], "id long, v long"))
    started = threading.Event()
    release = threading.Event()
    calls = {"base": 0}

    @r.model(materialized="table")
    def cg_base(ctx):
        calls["base"] += 1
        started.set()
        release.wait(timeout=30)
        return ctx.source("raw")

    @r.model(materialized="table")
    def cg_dep(ctx):
        return ctx.ref("cg_base").withColumn("v2", F.col("v") * 2)

    errs: list[Exception] = []

    def build(name):
        try:
            r.build(name)
        except Exception as e:  # noqa: BLE001 - surfaced via assert
            errs.append(e)

    ta = threading.Thread(target=build, args=("cg_base",))
    tb = threading.Thread(target=build, args=("cg_dep",))
    try:
        ta.start()
        assert started.wait(timeout=30)
        tb.start()  # demands cg_base while A holds it in flight
        import time as _time

        _time.sleep(0.3)  # let B reach the node-lock wait
    finally:
        release.set()
    ta.join(60)
    tb.join(60)
    assert not errs, errs
    assert calls["base"] == 1  # B read the memo; no double build
    assert spark.table("cg_dep").collect()[0]["v2"] == 20
    # genuine same-thread recursion still trips the guard
    r2 = ModelRegistry(spark)

    @r2.model()
    def cyc_a(ctx):
        return ctx.ref("cyc_b")

    @r2.model()
    def cyc_b(ctx):
        return ctx.ref("cyc_a")

    import pytest as _pytest

    with _pytest.raises(ValueError, match="model cycle"):
        r2.build("cyc_a")


def test_cli_artifact_roundtrips_invocation_flags(spark, tmp_path):
    """The run artifact persists the invocation's --select,
    --event-time-* and --state so `retry` resumes with the SAME flags
    (dbt retry reuses prior args); retry rejects fresh selection/backfill
    flags instead of silently diverging from the failed run."""
    import json as _json

    from healthcare_dbt_datamart_spark.__main__ import main

    sf = "/root/testdata/sf0.001"
    art = str(tmp_path / "run_results.json")
    out: list[str] = []
    assert (
        main(
            [
                "run", "--project", "corpus_release", "--sf-dir", sf,
                "--select", "+corpus_quality", "--artifact", art,
            ],
            out.append,
        )
        == 0
    )
    saved = _json.loads(open(art).read())
    assert saved["select"] == "+corpus_quality"
    assert set(saved) >= {"results", "select", "event_time_start",
                          "event_time_end", "state"}
    assert saved["event_time_start"] is None  # no backfill this run
    # retry with fresh selection/backfill flags is an ERROR, not a
    # silent divergence from the failed run's invocation
    out.clear()
    rc = main(
        [
            "retry", "--project", "corpus_release", "--sf-dir", sf,
            "--artifact", art, "--event-time-start", "2024-01-01",
        ],
        out.append,
    )
    assert rc == 2
    assert any("reuses the failed run's" in line for line in out)
    # a clean retry of a completed run is a no-op
    out.clear()
    assert (
        main(
            ["retry", "--project", "corpus_release", "--sf-dir", sf,
             "--artifact", art],
            out.append,
        )
        == 0
    )
    assert any("nothing to retry" in line for line in out)

    # a LONE --event-time-end under --threads must route to the serial
    # path (which raises on the half-open backfill), never silently run
    # an unbounded threaded build with the bound dropped
    import pytest as _pytest

    out.clear()
    with _pytest.raises(ValueError, match="BOTH"):
        main(
            [
                "run", "--project", "corpus_release", "--sf-dir", sf,
                "--threads", "4", "--event-time-end", "2024-02-01",
            ],
            out.append,
        )


def test_cross_thread_model_cycle_raises_instead_of_deadlocking(spark):
    """A circular ref SPLIT ACROSS THREADS (X's body refs Y while another
    thread inside Y's body refs X — invisible to both thread-local
    recursion stacks) must surface as a 'model cycle' error via the
    wait-for graph, not hang both node locks forever. The thread that
    waited on the failed node's lock raises the recorded failure instead
    of running that body a second time (a rerun would sit at the
    two-party barrier until its timeout)."""
    import threading
    import time

    from healthcare_dbt_datamart_spark.plans.registry import ModelRegistry

    r = ModelRegistry(spark)
    barrier = threading.Barrier(2, timeout=30)
    calls = {"cyc_x": 0, "cyc_y": 0}

    @r.model(materialized="view")
    def cyc_x(ctx):
        calls["cyc_x"] += 1
        barrier.wait()          # both bodies in-flight before either refs
        return ctx.ref("cyc_y")

    @r.model(materialized="view")
    def cyc_y(ctx):
        calls["cyc_y"] += 1
        barrier.wait()
        return ctx.ref("cyc_x")

    errs: list[Exception] = []

    def worker(name: str) -> None:
        try:
            r.build(name)
        except Exception as e:  # noqa: BLE001 - collecting for assertion
            errs.append(e)

    t1 = threading.Thread(target=worker, args=("cyc_x",), daemon=True)
    t2 = threading.Thread(target=worker, args=("cyc_y",), daemon=True)
    t0 = time.monotonic()
    t1.start()
    t2.start()
    t1.join(timeout=60)
    t2.join(timeout=60)
    elapsed = time.monotonic() - t0
    assert not t1.is_alive() and not t2.is_alive(), "threads deadlocked"
    assert any("model cycle" in str(e) for e in errs)
    assert calls == {"cyc_x": 1, "cyc_y": 1}, calls
    assert elapsed < 10, f"cycle took {elapsed:.1f} s to surface"


def test_merge_exclude_all_columns_keeps_target_values(spark):
    """merge_exclude_columns covering every non-key column yields an
    EMPTY update set — matched rows must keep ALL target values (and new
    keys still insert). A truthiness check on the computed list would
    silently route [] to the full source-wins path, the exact opposite
    of excluding everything."""
    t0 = _df(spark, [(1, "a", 10)], "k long, name string, v long")
    incremental_run(spark, "t_mexall", t0, strategy="merge", unique_key="k")
    src = _df(spark, [(1, "X", 99), (2, "b", 20)], "k long, name string, v long")
    incremental_run(
        spark, "t_mexall", src, strategy="merge", unique_key="k",
        merge_exclude_columns=["name", "v"],
    )
    rows = {r.k: (r.name, r.v) for r in spark.table("t_mexall").collect()}
    assert rows[1] == ("a", 10)      # matched row fully protected
    assert rows[2] == ("b", 20)      # unmatched key inserts whole


def test_sync_all_columns_skips_rewrite_when_schema_unchanged(spark):
    """sync_all_columns with an IDENTICAL column set must not rewrite the
    target (at 100 TB that is a full read+write+swap per run for
    nothing): the target's data files are byte-identical after the run,
    and a real column change still rewrites."""
    import glob
    import os

    t0 = _df(spark, [(1, "a")], "k long, name string")
    incremental_run(spark, "t_syncnoop", t0, strategy="append")
    loc = mat._table_location(spark, "t_syncnoop")
    before = {
        p: os.path.getmtime(p) for p in glob.glob(f"{loc}/*.parquet")
    }
    incremental_run(
        spark, "t_syncnoop",
        _df(spark, [(2, "b")], "k long, name string"),
        strategy="append", on_schema_change="sync_all_columns",
    )
    loc2 = mat._table_location(spark, "t_syncnoop")
    assert loc2 == loc  # same table dir: no swap happened
    after = {p: os.path.getmtime(p) for p in glob.glob(f"{loc}/*.parquet")}
    assert set(before) <= set(after)  # original files still there,
    for p, m in before.items():       # untouched (append adds new ones)
        assert after[p] == m
    # a REAL schema change (dropped column) still rewrites via the swap
    incremental_run(
        spark, "t_syncnoop", _df(spark, [(3,)], "k long"),
        strategy="append", on_schema_change="sync_all_columns",
    )
    assert spark.table("t_syncnoop").columns == ["k"]
    assert spark.table("t_syncnoop").count() == 3


def test_append_new_columns_is_metadata_only(spark):
    """append_new_columns widens via ALTER TABLE ADD COLUMNS (old files
    read the new column as NULL) instead of rewriting the target: the
    pre-drift data files survive untouched."""
    import glob
    import os

    t0 = _df(spark, [(1, "a")], "k long, name string")
    incremental_run(spark, "t_addcol", t0, strategy="append")
    loc = mat._table_location(spark, "t_addcol")
    before = {p: os.path.getmtime(p) for p in glob.glob(f"{loc}/*.parquet")}
    incremental_run(
        spark, "t_addcol",
        _df(spark, [(2, "b", 5.0)], "k long, name string, score double"),
        strategy="append", on_schema_change="append_new_columns",
    )
    out = {r.k: (r.name, r.score) for r in spark.table("t_addcol").collect()}
    assert out[1] == ("a", None)     # old file reads the new col as NULL
    assert out[2] == ("b", 5.0)
    after = {p: os.path.getmtime(p) for p in glob.glob(f"{loc}/*.parquet")}
    for p, m in before.items():      # no rewrite of pre-drift files
        assert after[p] == m


def test_snapshot_duplicate_source_keys_raise(spark):
    """A duplicate-keyed snapshot batch would fan the target out through
    the close join (duplicate closed rows + multiple open versions per
    key — corruption that persists); the same limit-1 guard as merge
    raises instead."""
    from healthcare_dbt_datamart_spark.operators.snapshot import snapshot_run

    t0 = _df(spark, [(1, "a", "2024-01-01")], "k long, v string, u string")
    snapshot_run(spark, "snap_dupk", t0, unique_key="k",
                 strategy="timestamp", updated_at="u")
    dup = _df(
        spark,
        [(1, "b", "2024-01-02"), (1, "c", "2024-01-03")],
        "k long, v string, u string",
    )
    with pytest.raises(ValueError, match="multiple rows"):
        snapshot_run(spark, "snap_dupk", dup, unique_key="k",
                     strategy="timestamp", updated_at="u")


def test_snapshot_check_cols_single_string_is_wrapped(spark):
    """check_cols='status' (a bare column name, not the 'all' sentinel)
    must mean [that column] — not be exploded char-by-char into
    ['s','t','a','t','u','s']."""
    from healthcare_dbt_datamart_spark.operators.snapshot import snapshot_run

    t0 = _df(spark, [(1, "open", "x")], "k long, status string, note string")
    snapshot_run(spark, "snap_onecol", t0, unique_key="k",
                 strategy="check", check_cols="status", run_ts="2024-01-01 00:00:00")
    # note changes but status doesn't: NO new version
    s1 = _df(spark, [(1, "open", "y")], "k long, status string, note string")
    snapshot_run(spark, "snap_onecol", s1, unique_key="k",
                 strategy="check", check_cols="status", run_ts="2024-01-02 00:00:00")
    assert spark.table("snap_onecol").count() == 1
    # status changes: new version opens
    s2 = _df(spark, [(1, "closed", "y")], "k long, status string, note string")
    snapshot_run(spark, "snap_onecol", s2, unique_key="k",
                 strategy="check", check_cols="status", run_ts="2024-01-03 00:00:00")
    assert spark.table("snap_onecol").count() == 2


def test_custom_schema_materializes_into_layer_database(spark):
    """Per-layer schemas (dbt generate_schema_name, reference
    dbt_project.yml:24-33 +schema STAGE/MARTS): a model declaring
    schema= materializes its TABLE into <target>_<custom> while refs,
    incremental state (ctx.this), rebuild swaps, and the manifest all
    resolve the qualified relation; view models keep the short name
    (temp views cannot be database-qualified — the documented trade)."""
    r = ModelRegistry(spark)
    r.add_source("raw_m", _df(spark, [(1, "x"), (2, "y")], "id long, v string"))

    @r.model()
    def stage_m(ctx):
        return ctx.source("raw_m")

    @r.model(materialized="table", schema="marts")
    def mart_m(ctx):
        return ctx.ref("stage_m").filter(F.col("id") > 0)

    r.run()
    db = spark.catalog.currentDatabase()
    assert spark.catalog.tableExists(f"{db}_marts.mart_m")
    assert not spark.catalog.tableExists("mart_m")
    assert r.manifest()["nodes"]["mart_m"]["relation"] == f"{db}_marts.mart_m"
    # rebuild exercises the swap inside the layer database
    r.run()
    assert spark.table(f"{db}_marts.mart_m").count() == 2

    # incremental models track their state at the QUALIFIED relation
    r2 = ModelRegistry(spark)
    r2.add_source("raw_m", _df(spark, [(1, "x"), (2, "y")], "id long, v string"))
    seen = []

    @r2.model(
        materialized="incremental", incremental_strategy="append", schema="marts"
    )
    def inc_m(ctx):
        seen.append(ctx.is_incremental())
        return ctx.source("raw_m")

    r2.run()
    r2._built.clear()
    r2.run()
    assert seen == [False, True]
    assert spark.table(f"{db}_marts.inc_m").count() == 4
    spark.sql(f"DROP TABLE IF EXISTS {db}_marts.inc_m")
    spark.sql(f"DROP TABLE IF EXISTS {db}_marts.mart_m")

    # generate_schema_name override, dbt-style
    r3 = ModelRegistry(spark)
    r3.generate_schema_name = lambda target, custom: custom

    @r3.model(materialized="table", schema="marts_ovr")
    def ovr_m(ctx):
        return _df(ctx.spark, [(1,)], "id long")

    r3.run()
    assert spark.catalog.tableExists("marts_ovr.ovr_m")
    spark.sql("DROP TABLE marts_ovr.ovr_m")


def test_persist_docs_writes_catalog_comments(spark):
    """persist_docs (dbt-adapters persist_docs.sql): relation + column
    descriptions become REAL catalog comments, re-applied after every
    rebuild (the CTAS swap drops them), with dbt's forgiving skip for
    documented columns the relation lacks."""
    r = ModelRegistry(spark)

    @r.model(
        materialized="table",
        persist_docs={"relation": True, "columns": True},
        description="claims rolled to member grain",
        column_descriptions={
            "id": "surrogate key",
            "ghost_col": "documented but not in the relation",
        },
    )
    def doc_m(ctx):
        return _df(ctx.spark, [(1, "a")], "id long, v string")

    r.run()
    assert spark.catalog.getTable("doc_m").description == (
        "claims rolled to member grain"
    )
    cols = {c.name: c.description for c in spark.catalog.listColumns("doc_m")}
    assert cols["id"] == "surrogate key"
    assert cols["v"] is None
    # rebuild: the swap produces a fresh table; docs must be re-applied
    r._built.clear()
    r.run()
    assert spark.catalog.getTable("doc_m").description == (
        "claims rolled to member grain"
    )

    # persist_docs absent -> descriptions stay manifest-only
    r2 = ModelRegistry(spark)

    @r2.model(materialized="table", description="not persisted")
    def plain_m(ctx):
        return _df(ctx.spark, [(1,)], "id long")

    r2.run()
    assert not spark.catalog.getTable("plain_m").description


def test_cli_show_and_declared_unit_tests(spark, capsys):
    """dbt show + declared unit tests: `show --model` previews compiled
    rows without materializing; `test` runs the project's declared unit
    tests next to schema tests and fails the exit code on a diff."""
    import healthcare_dbt_datamart_spark.__main__ as cli

    lines = []
    rc = cli.main(
        ["show", "--project", "datamart", "--model", "stg_claim_lines",
         "--limit", "3"],
        log=lines.append,
    )
    assert rc == 0
    assert any("proc_code" in ln for ln in lines)

    lines = []
    rc = cli.main(
        ["test", "--project", "datamart"], log=lines.append
    )
    out = "\n".join(lines)
    assert "unit:stg_claim_lines.stg_claim_lines_normalizes_codes" in out
    assert " PASS  unit:" in out or "PASS  unit:" in out

    # selecting a unit test BY NAME from the CLI must run it (run_tests
    # used to raise KeyError on a non-model selector before
    # run_unit_tests ever saw it), and a selector matching nothing must
    # error instead of reading as success
    lines = []
    rc = cli.main(
        ["test", "--project", "datamart",
         "--select", "stg_claim_lines_normalizes_codes"],
        log=lines.append,
    )
    assert rc == 0
    assert any("unit:stg_claim_lines." in ln for ln in lines)
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="matched no model"):
        cli.main(
            ["test", "--project", "datamart", "--select", "no_such_node"],
            log=lines.append,
        )

    # a failing unit test must fail the command
    from healthcare_dbt_datamart_spark.plans.registry import ModelRegistry

    r = ModelRegistry(spark)
    r.add_source("src_u", _df(spark, [(1, "x")], "id long, v string"))

    @r.model()
    def mdl_u(ctx):
        return ctx.source("src_u")

    r.add_unit_test(
        "mdl_u_wrong_fixture",
        "mdl_u",
        given={"src_u": lambda s: _df(s, [(1, "x")], "id long, v string")},
        expect=lambda s: _df(s, [(1, "WRONG")], "id long, v string"),
    )
    res = r.run_unit_tests()
    assert res["mdl_u_wrong_fixture"]["status"] == "fail"
    assert res["mdl_u_wrong_fixture"]["diff_rows"] == 2  # actual + expected
    assert r.manifest()["unit_tests"] == {"mdl_u_wrong_fixture": "mdl_u"}

    # graph selectors reach unit tests exactly as they reach schema
    # tests: a downstream model declares the unit test, and selecting
    # upstream+ must run it (was: exact-name match only, so model+
    # silently skipped unit tests while schema tests ran)
    @r.model()
    def mdl_down(ctx):
        return ctx.ref("mdl_u")

    r.add_unit_test(
        "mdl_down_passes",
        "mdl_down",
        given={"mdl_u": lambda s: _df(s, [(1, "x")], "id long, v string")},
        expect=lambda s: _df(s, [(1, "x")], "id long, v string"),
    )
    assert set(r.run_unit_tests(select="mdl_u+")) == {
        "mdl_u_wrong_fixture",
        "mdl_down_passes",
    }
    assert set(r.run_unit_tests(select="mdl_down")) == {"mdl_down_passes"}
    # bare test-name selection still works (not a model name)
    assert set(r.run_unit_tests(select="mdl_down_passes")) == {"mdl_down_passes"}


def test_broken_ref_in_dag_propagates_through_selectors(spark):
    """An unknown ref() inside ANY model body raises KeyError from
    dependency discovery, and a model selector must SURFACE it — the old
    try/except KeyError around select_nodes read a broken DAG as
    'selector matched nothing' (run_tests silently returned {})
    or 'not a model selector' (run_unit_tests fell back to name match).
    A selector that simply isn't a model name still matches nothing
    without touching discovery."""
    from healthcare_dbt_datamart_spark.plans.registry import ModelRegistry

    r = ModelRegistry(spark)
    r.add_source("src_b", _df(spark, [(1,)], "id long"))

    @r.model()
    def mdl_ok(ctx):
        return ctx.source("src_b")

    @r.model()
    def mdl_broken(ctx):
        return ctx.ref("no_such_model")

    with pytest.raises(KeyError, match="no_such_model"):
        r.run_tests(select="mdl_ok+")
    with pytest.raises(KeyError, match="no_such_model"):
        r.run_unit_tests(select="mdl_ok+")
    # non-model selector: no discovery, no error, nothing matched
    assert r.run_tests(select="not_a_node") == {}
    assert r.run_unit_tests(select="not_a_node") == {}


def test_microbatch_backfill_lands_in_custom_schema(spark):
    """A microbatch model with a custom schema backfills into its layer
    database: the registry routes the early-return backfill branch
    through the same _relation resolution as every other sink."""
    from datetime import datetime

    from healthcare_dbt_datamart_spark.plans import ModelRegistry

    base = spark.createDataFrame(
        [(i, datetime(2024, 1, 10 + i % 3, 12), float(i)) for i in range(12)],
        "event_id long, ts timestamp, value double",
    )
    r = ModelRegistry(spark)
    r.add_source("mb_src", base)

    @r.model(
        materialized="incremental",
        incremental_strategy="microbatch",
        event_time="ts",
        batch_size="day",
        schema="marts",
    )
    def mb_sched(ctx):
        src = ctx.source("mb_src")
        if ctx.batch_start is not None:
            src = src.filter(
                (F.col("ts") >= F.lit(ctx.batch_start))
                & (F.col("ts") < F.lit(ctx.batch_end))
            )
        return src

    db = spark.catalog.currentDatabase()
    r.run(
        event_time_start=datetime(2024, 1, 10),
        event_time_end=datetime(2024, 1, 13),
    )
    assert spark.catalog.tableExists(f"{db}_marts.mb_sched")
    assert not spark.catalog.tableExists("mb_sched")
    assert spark.table(f"{db}_marts.mb_sched").count() == 12
    spark.sql(f"DROP TABLE {db}_marts.mb_sched")


def test_analyze_table_records_stats(spark):
    """analyze_table writes catalog statistics the CBO can read:
    rowCount lands at table level; column mode records min/max/ndv."""
    from healthcare_dbt_datamart_spark.operators.materialize import (
        analyze_table,
        materialize_table,
    )

    name = "analyze_stats_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        df = spark.range(100).selectExpr("id", "id % 7 AS grp")
        materialize_table(spark, name, df)
        analyze_table(spark, name)
        detail = {
            r.col_name: r.data_type
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        }
        assert "100 rows" in detail.get("Statistics", ""), detail.get(
            "Statistics"
        )
        analyze_table(spark, name, columns=["grp"])
        colstats = {
            r.info_name: r.info_value
            for r in spark.sql(
                f"DESCRIBE TABLE EXTENDED {name} grp"
            ).collect()
        }
        assert colstats.get("distinct_count") == "7", colstats
        assert colstats.get("min") == "0" and colstats.get("max") == "6"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_snapshot_new_record_idempotent_absence_and_revival(spark):
    """dbt new_record parity regressions: (1) a key that STAYS absent
    gets exactly one tombstone — later runs must not re-close and
    re-tombstone it (unbounded growth); (2) a deleted key that
    REAPPEARS with identical values revives: tombstone closes, a live
    row opens (strategies.sql's `or dbt_is_deleted = 'True'` term)."""
    kw = dict(unique_key="id", strategy="check", check_cols=["v"],
              hard_deletes="new_record")
    snapshot_run(spark, "snap_rd", _df(spark, [(1, "A"), (2, "B")],
                 "id long, v string"), run_ts="2024-01-01 00:00:00",
                 unique_key="id", strategy="check", check_cols=["v"])
    snapshot_run(spark, "snap_rd", _df(spark, [(1, "A")],
                 "id long, v string"), run_ts="2024-02-01 00:00:00", **kw)
    n_after_delete = spark.table("snap_rd").count()

    # run 3: key 2 STILL absent — table must not grow
    snapshot_run(spark, "snap_rd", _df(spark, [(1, "A")],
                 "id long, v string"), run_ts="2024-03-01 00:00:00", **kw)
    t = spark.table("snap_rd")
    assert t.count() == n_after_delete
    tombs = t.filter((F.col("id") == 2) & (F.col("dbt_is_deleted") == "True"))
    assert tombs.count() == 1
    assert tombs.filter(F.col("dbt_valid_to").isNull()).count() == 1

    # run 4: key 2 REAPPEARS with the same value — revival
    snapshot_run(spark, "snap_rd", _df(spark, [(1, "A"), (2, "B")],
                 "id long, v string"), run_ts="2024-04-01 00:00:00", **kw)
    t4 = spark.table("snap_rd")
    open_rows = t4.filter((F.col("id") == 2) & F.col("dbt_valid_to").isNull())
    assert open_rows.count() == 1
    live = open_rows.collect()[0]
    assert live.dbt_is_deleted == "False" and live.v == "B"
    # the tombstone is now CLOSED
    assert t4.filter(
        (F.col("id") == 2)
        & (F.col("dbt_is_deleted") == "True")
        & F.col("dbt_valid_to").isNotNull()
    ).count() == 1


def test_run_threaded_handles_ref_of_source(spark):
    """Regression: a model that ref()s a SOURCE (legal — build()
    resolves it) must not deadlock run_threaded's readiness check into
    the 'unbuildable nodes' error."""
    r = ModelRegistry(spark)
    r.add_source("raw_src", _df(spark, [(1, "x"), (2, "y")], "id long, v string"))

    @r.model()
    def via_ref(ctx):
        return ctx.ref("raw_src").withColumn("v", F.upper("v"))

    @r.model(materialized="table")
    def downstream(ctx):
        return ctx.ref("via_ref")

    out = r.run_threaded(threads=2)
    assert sorted(x.v for x in out["downstream"].collect()) == ["X", "Y"]


def test_registry_run_workers_keep_caller_job_group(spark):
    """run() and run_tests() do their Spark work on pool threads; every
    job they start carries the caller's job group, none runs outside it,
    and results keep registration/declaration order."""
    from healthcare_dbt_datamart_spark.session import job_group

    r = ModelRegistry(spark)
    r.add_source("raw", _df(spark, [(i, i % 3) for i in range(20)], "id long, g long"))
    for i in range(4):
        r.model(
            name=f"jg_t{i}", materialized="table",
            tests=[("not_null", "id"), ("unique", "id")],
        )(lambda ctx: ctx.source("raw"))

    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    with job_group(spark, "jg_registry_run"):
        out = r.run()
        tests = r.run_tests()
    grouped = set(tracker.getJobIdsForGroup("jg_registry_run"))
    assert len(grouped) >= 4 + 8  # a CTAS per model, a count per check
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    names = [f"jg_t{i}" for i in range(4)]
    assert list(out) == names
    assert [row["model"] for row in r.run_results] == names
    assert list(tests) == names
    assert [t.name for t in tests["jg_t2"]] == ["not_null_jg_t2_id", "unique_jg_t2_id"]
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_registry_failed_branch_skips_downstream_and_retries(spark):
    """A wide DAG where one branch fails while its sibling is running:
    the sibling finishes and is recorded as success, the failed model's
    downstream never starts and gets no row (dbt "skipped"), and retry()
    reruns exactly the failed branch."""
    import threading

    r = ModelRegistry(spark)
    r.add_source("raw", _df(spark, [(1, 10), (2, 20)], "id long, v long"))
    left_started, bad_failed = threading.Event(), threading.Event()
    fail = {"on": True}

    @r.model(materialized="table")
    def wd_base(ctx):
        return ctx.source("raw")

    @r.model(materialized="table")
    def wd_left(ctx):
        left_started.set()
        bad_failed.wait(timeout=30)  # still running when the sibling fails
        return ctx.ref("wd_base").withColumn("l", F.col("v") + 1)

    @r.model(materialized="table")
    def wd_bad(ctx):
        df = ctx.ref("wd_base")
        if fail["on"]:
            assert left_started.wait(timeout=30)
            bad_failed.set()
            raise RuntimeError("branch outage")
        return df

    @r.model(materialized="table")
    def wd_bad_child(ctx):
        return ctx.ref("wd_bad").withColumn("c", F.lit(1))

    with pytest.raises(RuntimeError, match="branch outage"):
        r.run(threads=2)
    assert [(row["model"], row["status"]) for row in r.run_results] == [
        ("wd_base", "success"), ("wd_left", "success"), ("wd_bad", "error"),
    ]
    assert spark.table("wd_left").count() == 2
    assert not spark.catalog.tableExists("wd_bad_child")

    fail["on"] = False
    out = r.retry(threads=2)
    assert list(out) == ["wd_bad", "wd_bad_child"]
    assert {row["model"]: row["status"] for row in r.run_results} == {
        "wd_base": "success", "wd_left": "success",
        "wd_bad": "success", "wd_bad_child": "success",
    }
    for n in ("wd_base", "wd_left", "wd_bad", "wd_bad_child"):
        spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_registry_failed_model_is_attempted_once_per_run(spark):
    """A model that failed is not attempted again in the same run, even
    when a downstream whose ref the hint cannot see demands it."""
    r = ModelRegistry(spark)
    calls: list[int] = []

    @r.model()
    def once_bad(ctx):
        calls.append(1)
        raise RuntimeError("boom")

    @r.model()
    def once_down(ctx):
        up = "once_bad"  # hidden from the hint: both start together
        return ctx.ref(up)

    with pytest.raises(RuntimeError, match="boom"):
        r.run(threads=2)
    assert len(calls) == 1


def test_registry_run_stress_builds_each_model_once(spark):
    """More workers than cores and a short switch interval: every model
    body runs exactly once, hinted or not, and the run completes."""
    import sys
    import threading
    from collections import Counter

    r = ModelRegistry(spark)
    r.add_source("raw", _df(spark, [(1,), (2,)], "id long"))
    calls: Counter = Counter()
    lock, child_started = threading.Lock(), threading.Event()

    def root(ctx):
        with lock:
            calls[ctx.name] += 1
        if ctx.name != "st_root0":  # still in flight when a child demands it
            assert child_started.wait(timeout=30)
        return ctx.source("raw")

    def child(ctx):
        with lock:
            calls[ctx.name] += 1
        child_started.set()
        hidden = f"st_root{int(ctx.name[-1]) % 4}"  # invisible to the hint
        return ctx.ref("st_root0").unionByName(ctx.ref(hidden))

    for i in range(8):
        r.model(name=f"st_child{i}")(child)
    for i in range(4):
        r.model(name=f"st_root{i}")(root)

    done: dict = {}
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        t = threading.Thread(target=lambda: done.update(r.run(threads=16)))
        t.start()
        t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not t.is_alive(), "run() did not finish"
    assert set(calls.values()) == {1} and len(calls) == 12
    assert list(done) == [f"st_child{i}" for i in range(8)] + [
        f"st_root{i}" for i in range(4)
    ]
    assert done["st_child5"].count() == 4
    # "+name+" adds the downstream of name only, not of its upstreams
    assert r.select_nodes("+st_child1+") == {"st_child1", "st_root0", "st_root1"}


def test_registry_ref_hints_order_without_running_bodies(spark):
    """run() orders models by the literal ctx.ref names in their bodies:
    a ref through a variable (invisible to the hint) still builds the
    right data, a downstream pre-hook sees its upstream already built,
    and selected and state:modified+ runs release upstreams first."""
    from healthcare_dbt_datamart_spark.plans.registry import _ref_literals

    def body(ctx):
        name = "hidden"
        return ctx.ref("a"), (lambda: ctx.ref("b"))(), [ctx.ref(name) for _ in "x"]

    assert _ref_literals(body.__code__) == {"a", "b"}

    def build(bump: bool):
        r = ModelRegistry(spark)
        r.add_source("raw", _df(spark, [(1, 10), (2, 20)], "id long, v long"))
        started: list[str] = []
        seen: dict = {}

        def hook(ctx):
            started.append(ctx.name)

        # registered downstream-first, so registration order is NOT
        # dependency order
        @r.model(
            materialized="table",
            pre_hook=[hook, lambda ctx: seen.setdefault(
                "up_rows", ctx.spark.table("rh_mid").count())],
        )
        def rh_top(ctx):
            return ctx.ref("rh_mid").withColumn("t", F.lit(1))

        if bump:
            @r.model(materialized="table", pre_hook=hook)
            def rh_mid(ctx):
                upstream = "rh_base"  # hidden from the hint
                return ctx.ref(upstream).withColumn("m", F.col("v") * 2)
        else:
            @r.model(materialized="table", pre_hook=hook)
            def rh_mid(ctx):
                upstream = "rh_base"
                return ctx.ref(upstream)

        @r.model(materialized="table", pre_hook=hook)
        def rh_base(ctx):
            return ctx.source("raw")

        return r, started, seen

    r, started, seen = build(False)
    r.run()
    assert started.index("rh_mid") < started.index("rh_top")
    assert seen["up_rows"] == 2  # pre-hook read the BUILT upstream
    assert sorted(spark.table("rh_top").collect()) == [(1, 10, 1), (2, 20, 1)]

    started.clear()
    assert list(r.run(select="+rh_top")) == ["rh_top", "rh_mid", "rh_base"]
    assert started.index("rh_mid") < started.index("rh_top")

    old_state = r.manifest()
    r2, started2, _ = build(True)
    built = r2.run(select="state:modified+", state=old_state)
    assert list(built) == ["rh_top", "rh_mid"]
    assert started2 == ["rh_mid", "rh_top"]
    assert sorted(spark.table("rh_top").collect()) == [
        (1, 10, 20, 1), (2, 20, 40, 1),
    ]
    for n in ("rh_top", "rh_mid", "rh_base"):
        spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_full_refresh_does_not_leak_into_later_builds(spark):
    """Regression: run(full_refresh=True) must reset afterwards — a
    later direct build() of an incremental model has to APPEND, not
    silently CTAS over the accumulated table."""
    r = ModelRegistry(spark)
    calls = {"n": 0}

    @r.model(materialized="incremental", incremental_strategy="append")
    def acc(ctx):
        calls["n"] += 1
        return _df(spark, [(calls["n"],)], "batch long")

    r.run(full_refresh=True)
    assert spark.table("acc").count() == 1
    r._built.clear()  # new invocation: drop the memo, keep the registry
    r.build("acc")
    assert spark.table("acc").count() == 2  # appended, not rebuilt
    spark.sql("DROP TABLE IF EXISTS acc")


def test_incremental_layout_configs_honored_or_loud(spark):
    """Regression: cluster_by on an incremental model flows through the
    merge swap (was silently ignored — _swap_in called materialize_table
    without forwarding it, so the first incremental run flattened the
    declared sort layout); bucket_by/partition_by on rewriting
    materializations raise instead of silently writing plain parquet.

    The assert is the LAYOUT, not the row count: real parquet footers of
    the post-merge table must carry disjoint per-file min/max on the
    cluster key. The update batch spans the full id range (every 7th
    id), so an unforwarded swap leaves one file overlapping every other
    file's range and the disjointness check fails loudly."""
    import glob
    import os

    import pyarrow.parquet as pq
    import pytest as _pytest

    from healthcare_dbt_datamart_spark.operators.materialize import (
        _table_location,
    )

    r = ModelRegistry(spark)
    src = {"df": _df(spark, [(i, i % 7) for i in range(500)], "id long, g long")}

    @r.model(
        materialized="incremental", incremental_strategy="merge",
        unique_key="id", cluster_by=["id"],
    )
    def clus(ctx):
        return src["df"]

    # AQE would coalesce the toy table's range partitions into ONE file,
    # voiding the multi-file layout claim (at scale there are thousands);
    # pin it off for the two swaps under test, restore after
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key)
    spark.conf.set(coalesce_key, "false")
    try:
        r.run()
        src["df"] = _df(
            spark, [(i, 9) for i in range(3, 520, 7)], "id long, g long"
        )
        r._built.clear()
        r.build("clus")  # merge pays the swap WITH the declared cluster_by
    finally:
        spark.conf.set(coalesce_key, prev)
    assert spark.table("clus").count() == 503  # 500 + new ids 500/507/514

    ranges = []
    for f in glob.glob(os.path.join(_table_location(spark, "clus"), "part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        idx = next(
            i for i in range(md.num_columns) if md.schema.column(i).name == "id"
        )
        stats = [md.row_group(rg).column(idx).statistics for rg in range(md.num_row_groups)]
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    assert len(ranges) >= 2, "need a multi-file table to assert the layout"
    ranges.sort()
    for (_, prev_max), (next_min, _) in zip(ranges, ranges[1:]):
        assert prev_max < next_min, (
            f"cluster_by layout lost on incremental rewrite: {sorted(ranges)}"
        )

    r2 = ModelRegistry(spark)

    @r2.model(
        materialized="incremental", incremental_strategy="append",
        bucket_by=(8, ["id"]),
    )
    def bq(ctx):
        return _df(spark, [(1,)], "id long")

    with _pytest.raises(ValueError, match="bucket_by"):
        r2.run()
    spark.sql("DROP TABLE IF EXISTS clus")


def test_cli_show_renders_nonatomic_cells_spark_style(spark):
    """The public show renderer must print binary/struct/array/map cells
    in Spark's showString forms (hex brackets, braces, arrows) — Python
    reprs like bytearray(...) / Row(...) are unreadable after the
    20-char truncation — and report the honest truncation notice."""
    from healthcare_dbt_datamart_spark.__main__ import render_preview

    df = spark.sql(
        "SELECT X'0102' AS b, named_struct('a', 1) AS s,"
        " array(1, 2) AS arr, map('k', 7) AS m, CAST(NULL AS INT) AS n"
    )
    out = render_preview(df, 2)
    assert "[01 02]" in out and "{1}" in out and "[1, 2]" in out
    assert "{k -> 7}" in out and "NULL" in out
    assert "bytearray" not in out and "Row(" not in out
    assert "only showing" not in out  # 1 row, limit 2 — nothing hidden
    out2 = render_preview(spark.range(5).toDF("id"), 3)
    assert "only showing top 3 rows" in out2


def test_compare_relations_and_columns_audit(spark):
    """The audit-helper workflow: hand-countable diff buckets
    (only-in-a / only-in-b / identical / changed), NULL == NULL is a
    match and NULL keys pair up (never silently dropped), the
    per-column drill-down localizes the guilty column in one pass,
    DuckDB replays the summary, duplicate keys raise loudly."""
    import duckdb
    import pytest

    from pyspark.sql import functions as F

    from healthcare_dbt_datamart_spark.operators.audit import (
        compare_columns,
        compare_relations,
    )

    a = spark.createDataFrame(
        [
            (1, "x", 10.0), (2, "y", None), (3, "z", 30.0),
            (None, "n", 1.0), (5, "only-a", 5.0),
        ],
        "id int, name string, amt double",
    )
    b = spark.createDataFrame(
        [
            (1, "x", 10.0),        # identical
            (2, "y", None),        # identical incl. NULL == NULL
            (3, "z", 31.0),        # changed (amt)
            (None, "n", 1.0),      # identical on a NULL key
            (6, "only-b", 6.0),
        ],
        "id int, name string, amt double",
    )
    got = compare_relations(a, b, "id").collect()[0]
    assert (got.n_a, got.n_b) == (5, 5)
    assert (got.only_in_a, got.only_in_b) == (1, 1)
    assert (got.in_both, got.identical, got.changed) == (4, 3, 1)
    assert got.identical_rate == 0.75

    cols = {r.column: r for r in compare_columns(a, b, "id").collect()}
    assert cols["name"].n_mismatch == 0 and cols["name"].match_rate == 1.0
    assert cols["amt"].n_mismatch == 1 and cols["amt"].match_rate == 0.75
    # guiltiest column sorts first
    assert [r.column for r in compare_columns(a, b, "id").collect()][0] \
        == "amt"

    # DuckDB replay of the summary
    con = duckdb.connect()
    con.register("ta", a.toPandas())
    con.register("tb", b.toPandas())
    o = con.execute("""
    SELECT
      SUM(CASE WHEN in_a THEN 1 ELSE 0 END),
      SUM(CASE WHEN in_b THEN 1 ELSE 0 END),
      SUM(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END),
      SUM(CASE WHEN in_b AND NOT in_a THEN 1 ELSE 0 END),
      SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END),
      SUM(CASE WHEN in_a AND in_b
            AND (a_name IS NOT DISTINCT FROM b_name)
            AND (a_amt IS NOT DISTINCT FROM b_amt) THEN 1 ELSE 0 END)
    FROM (
      SELECT COALESCE(x.present, FALSE) AS in_a,
             COALESCE(y.present, FALSE) AS in_b,
             x.name AS a_name, x.amt AS a_amt,
             y.name AS b_name, y.amt AS b_amt
      FROM (SELECT *, TRUE AS present FROM ta) x
      FULL OUTER JOIN (SELECT *, TRUE AS present FROM tb) y
        ON x.id IS NOT DISTINCT FROM y.id
    )
    """).fetchone()
    assert tuple(int(v) for v in o) == (
        got.n_a, got.n_b, got.only_in_a, got.only_in_b, got.in_both,
        got.identical,
    )

    # incremental-sink composition: merge_upsert's before/after audit
    # reads exactly as expected (3 unchanged... a realistic smoke)
    before = spark.range(10).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    after = spark.range(12).select(
        F.col("id"),
        F.when(F.col("id") < 3, F.col("id") * 2)
        .otherwise(F.col("id") * 2 + 1).alias("v"),
    )
    s = compare_relations(before, after, "id").collect()[0]
    assert (s.only_in_a, s.only_in_b) == (0, 2)
    assert (s.identical, s.changed) == (3, 7)

    # duplicate keys raise
    with pytest.raises(ValueError, match="duplicate key"):
        compare_relations(a.unionByName(a.limit(1)), b, "id")
    with pytest.raises(ValueError, match="missing columns"):
        compare_relations(a, b.drop("amt"), "id", ["amt"])
    with pytest.raises(ValueError, match="no common"):
        compare_columns(
            a.select("id"), b.select("id"), "id"
        )


def test_compare_examples_drilldown(spark):
    """The changed-row drill-down: one row per differing column with
    both sides stringified, deterministic order + limit, identical
    rows and one-sided keys never appear."""
    import pytest

    from healthcare_dbt_datamart_spark.operators.audit import (
        compare_examples,
    )

    a = spark.createDataFrame(
        [(1, "x", 10.0), (2, "y", 20.0), (3, "z", 30.0), (9, "only", 0.0)],
        "id int, name string, amt double",
    )
    b = spark.createDataFrame(
        [(1, "x", 10.0), (2, "Y", 21.0), (3, "z", None)],
        "id int, name string, amt double",
    )
    rows = [tuple(r) for r in compare_examples(a, b, "id").collect()]
    assert rows == [
        (2, "amt", "20.0", "21.0"),
        (2, "name", "y", "Y"),
        (3, "amt", "30.0", None),
    ]
    # limit counts distinct changed KEYS, not exploded fragments: n=1
    # returns the FIRST changed row (id=2) with BOTH its differing
    # columns — pre-fix the limit cut the multi-column diff in half
    assert [tuple(r) for r in compare_examples(a, b, "id", n=1).collect()] \
        == [(2, "amt", "20.0", "21.0"), (2, "name", "y", "Y")]
    # n=2 takes the first two changed keys (all three exploded rows)
    assert [tuple(r) for r in compare_examples(a, b, "id", n=2).collect()] \
        == rows
    with pytest.raises(ValueError, match="n must be"):
        compare_examples(a, b, "id", n=0)


from hypothesis import given as _given, settings as _settings
from hypothesis import strategies as _st


@_settings(max_examples=6, deadline=None)
@_given(
    rows_a=_st.lists(
        _st.tuples(
            _st.integers(min_value=0, max_value=8),
            _st.integers(min_value=0, max_value=3),
        ),
        min_size=0, max_size=9, unique_by=lambda t: t[0],
    ),
    rows_b=_st.lists(
        _st.tuples(
            _st.integers(min_value=0, max_value=8),
            _st.integers(min_value=0, max_value=3),
        ),
        min_size=0, max_size=9, unique_by=lambda t: t[0],
    ),
)
def test_compare_relations_bucket_partition_invariants(spark, rows_a, rows_b):
    """Property battery: the audit buckets PARTITION both relations —
    n_a = only_in_a + in_both, n_b = only_in_b + in_both, in_both =
    identical + changed — and match a set-arithmetic reference on any
    pair of keyed frames."""
    from healthcare_dbt_datamart_spark.operators.audit import (
        compare_relations,
    )

    a = spark.createDataFrame(rows_a, "id int, v int") if rows_a else \
        spark.createDataFrame([], "id int, v int")
    b = spark.createDataFrame(rows_b, "id int, v int") if rows_b else \
        spark.createDataFrame([], "id int, v int")
    g = compare_relations(a, b, "id").collect()[0]
    da, db = dict(rows_a), dict(rows_b)
    assert g.n_a == len(da) and g.n_b == len(db)
    assert g.only_in_a == len(set(da) - set(db))
    assert g.only_in_b == len(set(db) - set(da))
    assert g.in_both == len(set(da) & set(db))
    assert g.identical == sum(
        1 for k in set(da) & set(db) if da[k] == db[k]
    )
    assert g.n_a == g.only_in_a + g.in_both
    assert g.n_b == g.only_in_b + g.in_both
    assert g.in_both == g.identical + g.changed


def test_elo_boards_match_python_period_replay_bitwise(spark):
    """Each board of the multi-k fit is bit-for-bit a pure-Python replay
    of the quantized period loop at its own k: one period loop carrying
    both k columns does each board's integer arithmetic independently
    (the parity the leaderboard session caches rely on). ``elo_ratings``
    is the one-board call and matches the same replay."""
    import math

    from healthcare_dbt_datamart_spark.llmops.preferences import (
        elo_boards,
        elo_ratings,
    )

    rows = [
        ("a", "b", 1, 3), ("b", "c", 1, 1), ("c", "a", 1, 2),
        ("a", "c", 2, 5), ("b", "a", 2, 1), ("c", "b", 2, 1),
        ("a", "b", 3, 1), ("d", "a", 3, 4),
    ]
    m = spark.createDataFrame(
        rows, "winner_id string, loser_id string, period long, n_m long"
    )

    def replay(k, scale=10**6, initial=1000):
        r = {i: initial * scale for i in "abcd"}
        for per in sorted({p for _, _, p, _ in rows}):
            c = dict.fromkeys(r, 0)
            for w, l, p, n in rows:
                if p == per:
                    e = math.floor(
                        scale
                        / (1.0 + 10.0 ** ((r[l] - r[w]) / (400.0 * scale)))
                        + 0.5
                    )
                    c[w] += n * (scale - e)
                    c[l] -= n * (scale - e)
            r = {i: v + k * c[i] for i, v in r.items()}
        return r

    n_matches = {i: sum(n for w, l, _, n in rows if i in (w, l)) for i in "abcd"}
    wins = {i: sum(n for w, _, _, n in rows if w == i) for i in "abcd"}
    boards = elo_boards(m, ks=(16, 32), n_col="n_m", pre_collapsed=True)
    got = {r["item"]: r for r in boards.collect()}
    assert set(got) == set(n_matches)
    for k in (16, 32):
        want = replay(k)
        assert {i: r[f"rating_fp_{k}"] for i, r in got.items()} == want
        single = elo_ratings(m, k=k, n_col="n_m", pre_collapsed=True)
        assert {r["item"]: r["rating_fp"] for r in single.collect()} == want
    assert {i: r["n_matches"] for i, r in got.items()} == n_matches
    assert {i: r["wins"] for i, r in got.items()} == wins


def test_bradley_terry_pre_collapsed_parity_bitwise(spark):
    """pre_collapsed=True over a genuinely collapsed (i, j, w2) table is
    bit-for-bit the default path (the only difference is skipping the
    defensive re-aggregation shuffle)."""
    from healthcare_dbt_datamart_spark.llmops.preferences import (
        bradley_terry_from_pairs,
    )

    rows = [("a", "b", 6), ("b", "a", 2), ("a", "c", 4), ("c", "b", 2)]
    pc = spark.createDataFrame(rows, "i string, j string, w2 long")
    got = {
        r["item"]: r
        for r in bradley_terry_from_pairs(
            pc, n_iter=3, pre_collapsed=True
        ).collect()
    }
    want = bradley_terry_from_pairs(pc, n_iter=3).collect()
    assert len(want) == len(got)
    for r in want:
        g = got[r["item"]]
        assert (r["wins2"], r["comparisons2"], r["rating_fp"]) == (
            g["wins2"], g["comparisons2"], g["rating_fp"],
        )


def test_materialize_partition_by_keeps_bucket_and_sort_layouts(spark):
    """partition_by combined with bucket_by must still write BUCKETED
    parquet (the silent-layout-loss regression round-12 ADVICE flagged:
    the rebalance hint rebuilt the writer and dropped bucketBy/sortBy).
    The pre-write rebalance now applies ONLY to plain partition_by
    writes, where no declared row order exists to destroy."""
    df = _df(
        spark,
        [(i % 3, i, float(i)) for i in range(30)],
        "p long, k long, v double",
    )
    mat.materialize_table(
        spark, "t_pb", df, partition_by=["p"], bucket_by=(4, ["k"])
    )
    spec = mat._bucket_spec(spark, "t_pb")
    assert spec is not None and spec[0] == 4 and spec[1] == ["k"]
    parts = [c.name for c in spark.catalog.listColumns("t_pb") if c.isPartition]
    assert parts == ["p"]
    assert spark.table("t_pb").count() == 30

    # plain partition_by (the rebalance path): same rows, same layout
    mat.materialize_table(spark, "t_pp", df, partition_by=["p"])
    assert spark.table("t_pp").count() == 30
    assert sorted(
        r.p for r in spark.table("t_pp").select("p").distinct().collect()
    ) == [0, 1, 2]

    # cluster_by + partition_by: the range-sort layout is the declared
    # contract — the writer must not inject a post-sort rebalance
    mat.materialize_table(
        spark, "t_pc", df, partition_by=["p"], cluster_by=["k"]
    )
    assert spark.table("t_pc").count() == 30


def test_fct_claims_grain_unique_on_testdata(spark):
    """The 4-column grain of fct_claims is UNIQUE on the deterministic
    testdata — the invariant that makes the shared 5-wide DISTINCT
    _claim_grain row-for-row identical to the old groupBy(grain)+
    max(is_screening) collapse (round-12 ADVICE asked for exactly this
    guard on the fact's grain)."""
    from healthcare_dbt_datamart_spark.models.testdata_queries import (
        q_fct_claims,
    )

    fct = q_fct_claims(spark, "/root/testdata/sf0.001")
    dup = (
        fct.groupBy("claim_id", "member_id", "service_date", "proc_code")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup == 0


def test_load_memo_and_spread_gate(spark, tmp_path):
    """load() memoizes the RESOLVED scan per (sf_dir, table, session) —
    plan-level reuse only, no persist — and load_spread() fans out ONLY
    when the planned scan parallelism is below the executor cores: on
    the single-row-group testdata it repartitions to defaultParallelism;
    on an input whose scan already plans >= cores splits it returns the
    scan untouched (no repartition Exchange at 100 TB)."""
    from healthcare_dbt_datamart_spark.models import testdata_queries as tq

    sf = "/root/testdata/sf0.001"
    a = tq.load(spark, sf, "documents")
    assert tq.load(spark, sf, "documents") is a  # memo hit
    assert a.storageLevel.useMemory is False  # never persisted

    par = spark.sparkContext.defaultParallelism
    spread = tq.load_spread(spark, sf, "documents")
    assert spread.rdd.getNumPartitions() == par  # 1-split file → fan-out
    assert tq.load_spread(spark, sf, "documents") is spread  # memo hit

    # multi-split input: shrink maxPartitionBytes so the same bytes plan
    # >= par splits; the gate must return the bare scan (is-identity)
    big = str(tmp_path / "sfmulti")
    a.write.parquet(f"{big}/documents.parquet")
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "8k")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        base = tq.load(spark, big, "documents")
        assert base.rdd.getNumPartitions() >= par
        assert tq.load_spread(spark, big, "documents") is base
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)


def test_load_pins_utc_on_memo_hit(spark):
    """load() pins the session timezone to UTC on EVERY call, not only
    when it builds the scan: a session switched to another zone after
    the first (memoized) load is back on UTC at the next load, and the
    zone-sensitive events_hourly returns its UTC rows."""
    from healthcare_dbt_datamart_spark.models import testdata_queries as tq

    sf = "/root/testdata/sf0.001"
    tz_key = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_key)
    try:
        tq.load(spark, sf, "events")  # fill the memo
        want = sorted(tq.q_events_hourly(spark, sf).collect())
        spark.conf.set(tz_key, "America/New_York")
        tq.load(spark, sf, "events")  # memo hit
        assert spark.conf.get(tz_key) == "UTC"
        assert sorted(tq.q_events_hourly(spark, sf).collect()) == want
    finally:
        spark.conf.set(tz_key, old_tz)


def test_session_caches_are_per_session(spark):
    """The query caches belong to the session: spark.newSession()
    (same SparkContext, own state) gets its own fitted quantizer and its
    own persisted frames, while repeat calls in one session hit."""
    from pyspark import StorageLevel

    from healthcare_dbt_datamart_spark.models import testdata_queries as tq

    sf = "/root/testdata/sf0.001"
    other = spark.newSession()

    c = tq._trained_centroids(spark, sf)
    assert tq._trained_centroids(spark, sf) is c
    c_other = tq._trained_centroids(other, sf)
    assert c_other is not c
    assert tq._trained_centroids(other, sf) is c_other
    assert c_other == c  # deterministic fit

    panel = tq._events_rater_panel(spark, sf)
    panel_other = tq._events_rater_panel(other, sf)
    assert panel_other is not panel
    assert tq._events_rater_panel(other, sf) is panel_other
    assert panel_other.sparkSession is other
    assert panel.storageLevel == StorageLevel.MEMORY_AND_DISK
    assert panel_other.storageLevel == StorageLevel.MEMORY_AND_DISK

    scan = tq.load(other, sf, "events")
    assert scan is not tq.load(spark, sf, "events")
    assert tq.load(other, sf, "events") is scan
    assert scan.storageLevel.useMemory is False  # never persisted
