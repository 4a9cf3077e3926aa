"""Unit tests for the scalar function surface (SURVEY.md §2.10)."""

from __future__ import annotations

import hashlib
from datetime import date

from pyspark.sql import functions as F

from healthcare_dbt_datamart_spark.functions import (
    age_at,
    date_spine,
    dateadd,
    datediff,
    datediff_year,
    generate_series,
    listagg,
    null_safe_eq,
    split_part,
    surrogate_key,
)


def test_surrogate_key_matches_reference_semantics(spark):
    """md5 over pipe-joined coalesced casts (fct_gap_exceptions.sql:9-16)."""
    df = spark.createDataFrame(
        [(1, "A", None)], "id long, tag string, missing string"
    ).select(surrogate_key("id", "tag", "missing").alias("k"))
    expected = hashlib.md5(b"1|A|").hexdigest()
    assert df.collect()[0].k == expected


def test_datediff_year_is_boundary_count(spark):
    df = spark.range(1).select(
        datediff_year(F.lit("1999-12-31").cast("date"), F.lit("2000-01-01").cast("date")).alias("d")
    )
    assert df.collect()[0].d == 1  # one boundary crossed, not one year elapsed


def test_age_at_birthday_correction(spark):
    rows = [
        ("1970-01-01", "2025-12-31", 55),  # birthday passed
        ("1970-12-31", "2025-06-30", 54),  # birthday not yet
        ("2000-02-29", "2025-02-28", 25),  # leap birth: add_months clamps to feb-28
    ]
    df = spark.createDataFrame(rows, "birth string, asof string, expected int").select(
        age_at(F.col("birth").cast("date"), F.col("asof").cast("date")).alias("age"),
        "expected",
    )
    for r in df.collect():
        assert r.age == r.expected


def test_datediff_parts(spark):
    df = spark.range(1).select(
        datediff("month", F.lit("2020-01-31").cast("date"), F.lit("2020-02-01").cast("date")).alias("m"),
        datediff("day", F.lit("2020-01-01").cast("date"), F.lit("2020-01-05").cast("date")).alias("d"),
        datediff("quarter", F.lit("2020-03-31").cast("date"), F.lit("2020-04-01").cast("date")).alias("q"),
    )
    r = df.collect()[0]
    assert (r.m, r.d, r.q) == (1, 4, 1)


def test_split_part_negative_index(spark):
    df = spark.range(1).select(
        split_part(F.lit("a|b|c"), "|", 2).alias("p2"),
        split_part(F.lit("a|b|c"), "|", -1).alias("pm1"),
    )
    r = df.collect()[0]
    assert (r.p2, r.pm1) == ("b", "c")


def test_split_part_out_of_range_matches_snowflake(spark):
    """Snowflake edges (dbt-adapters/macros/utils/split_part.sql): any
    out-of-range part — positive or negative — yields '', part 0 is
    treated as 1, NULL input stays NULL (no error, no wrap-around)."""
    df = spark.range(1).select(
        split_part(F.lit("a|b"), "|", 5).alias("pos_oob"),
        split_part(F.lit("a|b"), "|", -3).alias("neg_edge"),
        split_part(F.lit("a|b"), "|", -4).alias("neg_far"),
        split_part(F.lit("a|b"), "|", 0).alias("zero"),
        split_part(F.lit(None).cast("string"), "|", -2).alias("null_in"),
    )
    r = df.collect()[0]
    assert (r.pos_oob, r.neg_edge, r.neg_far, r.zero, r.null_in) == (
        "", "", "", "a", None
    )


def test_dateadd_preserves_input_type(spark):
    """Snowflake dateadd is type-preserving: DATE in -> DATE out,
    TIMESTAMP in -> TIMESTAMP out with time-of-day intact (day/week
    previously truncated timestamps to dates via F.date_add); month-end
    clamping (Jan 31 + 1 month = Feb 29) matches add_months."""
    from datetime import datetime

    df = spark.range(1).select(
        F.lit("2020-01-31").cast("date").alias("d"),
        F.lit("2020-01-31 10:30:00.123456").cast("timestamp").alias("ts"),
    )
    out = df.select(
        dateadd("day", 1, F.col("d")).alias("d_day"),
        dateadd("month", 1, F.col("d")).alias("d_mon"),
        dateadd("day", 1, F.col("ts")).alias("ts_day"),
        dateadd("week", 2, F.col("ts")).alias("ts_wk"),
        dateadd("month", 1, F.col("ts")).alias("ts_mon"),
        dateadd("year", 1, F.col("ts")).alias("ts_yr"),
    )
    types = dict(out.dtypes)
    assert types["d_day"] == "date" and types["d_mon"] == "date"
    assert all(types[c] == "timestamp" for c in ("ts_day", "ts_wk", "ts_mon", "ts_yr"))
    r = out.collect()[0]
    assert r.d_day == date(2020, 2, 1)
    assert r.d_mon == date(2020, 2, 29)  # month-end clamp, leap year
    assert r.ts_day == datetime(2020, 2, 1, 10, 30, 0, 123456)
    assert r.ts_wk == datetime(2020, 2, 14, 10, 30, 0, 123456)
    assert r.ts_mon == datetime(2020, 2, 29, 10, 30, 0, 123456)
    assert r.ts_yr == datetime(2021, 1, 31, 10, 30, 0, 123456)


def test_datediff_subday_is_wallclock_not_epoch(spark):
    """Snowflake's sub-day datediff counts TZ-naive wall-clock boundaries.
    With session TZ America/New_York the 2025-11-02 fall-back transition
    repeats an epoch hour: an epoch-seconds implementation returns 4 for
    hour-diff midnight->3am; the wall-clock count is 3."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = spark.range(1).select(
            F.lit("2025-11-02 00:00:00").cast("timestamp").alias("a"),
            F.lit("2025-11-02 03:00:00").cast("timestamp").alias("b"),
        )
        r = df.select(
            datediff("hour", F.col("a"), F.col("b")).alias("h"),
            datediff("minute", F.col("a"), F.col("b")).alias("m"),
            datediff("second", F.col("a"), F.col("b")).alias("s"),
        ).collect()[0]
        assert (r.h, r.m, r.s) == (3, 180, 10800)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_datediff_subday_survives_68_year_span(spark):
    """The day-count must widen to long BEFORE multiplying by 86400:
    int32 overflows at ~68-year second-spans (ANSI mode throws
    ARITHMETIC_OVERFLOW, non-ANSI wraps negative) — birth-date to
    service-date arithmetic in a healthcare mart routinely exceeds it."""
    df = spark.range(1).select(
        F.lit("1950-01-01 00:00:00").cast("timestamp").alias("a"),
        F.lit("2020-01-01 00:00:00").cast("timestamp").alias("b"),
    )
    r = df.select(datediff("second", F.col("a"), F.col("b")).alias("s")).collect()[0]
    assert r.s == 25567 * 86400


def test_datediff_subday_counts_boundaries(spark):
    """Boundary semantics: 01:59 -> 02:01 crosses one hour boundary."""
    df = spark.range(1).select(
        F.lit("2020-01-01 01:59:30").cast("timestamp").alias("a"),
        F.lit("2020-01-01 02:00:10").cast("timestamp").alias("b"),
    )
    r = df.select(
        datediff("hour", F.col("a"), F.col("b")).alias("h"),
        datediff("minute", F.col("a"), F.col("b")).alias("m"),
        datediff("second", F.col("a"), F.col("b")).alias("s"),
    ).collect()[0]
    assert (r.h, r.m, r.s) == (1, 1, 40)


def test_listagg_ordered_limited(spark):
    df = spark.createDataFrame(
        [("g", "b"), ("g", "c"), ("g", "a")], "g string, v string"
    ).groupBy("g").agg(
        listagg("v", ",").alias("all_"),
        listagg("v", ",", limit_num=2).alias("lim"),
    )
    r = df.collect()[0]
    assert (r.all_, r.lim) == ("a,b,c", "a,b")


def test_listagg_order_by_aggregates_value_column(spark):
    """listagg('v', order_by='d') must return the v values ordered by d —
    not the sorted d values themselves."""
    df = spark.createDataFrame(
        [("g", "b", "2020-01-01"), ("g", "c", "2020-02-01"), ("g", "a", "2020-03-01")],
        "g string, v string, d string",
    ).groupBy("g").agg(
        listagg("v", ",", order_by="d").alias("by_date"),
        listagg("v", ",", order_by="d", limit_num=2).alias("by_date_lim"),
    )
    r = df.collect()[0]
    assert (r.by_date, r.by_date_lim) == ("b,c,a", "b,c")


def test_except_distinct_set_semantics(spark):
    """SQL EXCEPT: a=[1,1,2] except b=[1,3] is [2] — a duplicated row of
    ``a`` that exists in ``b`` must not survive."""
    from healthcare_dbt_datamart_spark.functions import except_distinct

    a = spark.createDataFrame([(1,), (1,), (2,)], "x long")
    b = spark.createDataFrame([(1,), (3,)], "x long")
    assert [r.x for r in except_distinct(a, b).collect()] == [2]


def test_date_spine_end_exclusive(spark):
    df = date_spine(spark, "day", "2020-01-01", "2020-01-05")
    days = sorted(r[0] for r in df.collect())
    assert days == [date(2020, 1, d) for d in range(1, 5)]


def test_generate_series(spark):
    assert generate_series(spark, 5).count() == 5


def test_null_safe_eq(spark):
    df = spark.createDataFrame(
        [(None, None), (None, "x"), ("x", "x")], "a string, b string"
    ).select(null_safe_eq("a", "b").alias("eq"))
    assert [r.eq for r in df.collect()] == [True, False, True]


# --- property test: the Snowflake datediff('year') age idiom ------------
def test_small_macro_wrappers(spark):
    """The remaining §2.10 names: replace / literals / date_trunc /
    array_construct-append-concat / escape_single_quotes."""
    from healthcare_dbt_datamart_spark.functions import (
        array_append_,
        array_concat_,
        array_construct,
        date_literal,
        date_trunc_,
        escape_single_quotes,
        replace_,
        string_literal,
    )

    assert escape_single_quotes("it's") == "it\\'s"
    row = (
        spark.range(1)
        .select(
            replace_(F.lit("a.b.c"), ".", "-").alias("rep"),
            string_literal(7).alias("sl"),
            date_literal("2024-03-05").alias("dl"),
            date_trunc_("month", F.lit("2024-03-05").cast("date")).alias("dt"),
            array_construct(F.lit(1), F.lit(2)).alias("ac"),
            array_append_(array_construct(F.lit(1)), F.lit(9)).alias("aa"),
            array_concat_(
                array_construct(F.lit(1)), array_construct(F.lit(2), F.lit(3))
            ).alias("cc"),
        )
        .collect()[0]
    )
    assert row.rep == "a-b-c"
    assert row.sl == "7"
    assert str(row.dl) == "2024-03-05"
    assert str(row.dt).startswith("2024-03-01")
    assert row.ac == [1, 2] and row.aa == [1, 9] and row.cc == [1, 2, 3]


# SURVEY §7 flags this as the one silently-breaking translation. Validate
# age_at against an independent Python calendar model of the reference
# formula (boundary count minus not-yet-birthday correction, with
# Feb-29 birthdays clamped to Feb 28 in non-leap years — add_months
# semantics, int_gap_col_status.sql:39-54).
import datetime as _dt

from hypothesis import given, settings
from hypothesis import strategies as st


def _py_add_years(d: _dt.date, n: int) -> _dt.date:
    try:
        return d.replace(year=d.year + n)
    except ValueError:  # Feb 29 -> Feb 28 (add_months clamping)
        return d.replace(year=d.year + n, day=28)


def _py_age(birth: _dt.date, as_of: _dt.date) -> int:
    diff = as_of.year - birth.year
    return diff - (1 if _py_add_years(birth, diff) > as_of else 0)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.dates(_dt.date(1900, 1, 1), _dt.date(2030, 12, 31)),
            st.dates(_dt.date(1950, 1, 1), _dt.date(2050, 12, 31)),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_age_at_matches_reference_formula(spark, pairs):
    from healthcare_dbt_datamart_spark.functions import age_at

    df = spark.createDataFrame(pairs, "birth date, as_of date")
    got = df.select(age_at("birth", "as_of").alias("age")).collect()
    want = [_py_age(b, a) for b, a in pairs]
    assert [r.age for r in got] == want


def test_age_at_leap_day_edges(spark):
    """Feb-29 birthday: reached on Feb 28 of a non-leap year (clamping),
    on Feb 29 itself in a leap year."""
    from healthcare_dbt_datamart_spark.functions import age_at

    cases = [
        ("2000-02-29", "2023-02-27", 22),  # day before clamped birthday
        ("2000-02-29", "2023-02-28", 23),  # clamped birthday reached
        ("2000-02-29", "2024-02-28", 23),  # leap year: not yet
        ("2000-02-29", "2024-02-29", 24),  # real birthday
    ]
    df = spark.createDataFrame(
        [(b, a) for b, a, _ in cases], "birth string, as_of string"
    ).selectExpr("CAST(birth AS DATE) birth", "CAST(as_of AS DATE) as_of")
    got = [r.age for r in df.select(age_at("birth", "as_of").alias("age")).collect()]
    assert got == [w for _, _, w in cases]


def test_approx_sketches_vs_exact(spark):
    """Spark's sketch aggregates (HLL++ approx_count_distinct, GK
    percentile_approx) land within tolerance of the exact answers — the
    scale path for 100TB distinct-count / quantile work."""
    from pyspark.sql import functions as F

    df = spark.range(20000).select(
        (F.col("id") % 3777).alias("k"), (F.col("id") * 7 % 10007).cast("double").alias("v")
    )
    row = df.agg(
        F.approx_count_distinct("k", rsd=0.01).alias("ad"),
        F.countDistinct("k").alias("ed"),
        F.percentile_approx("v", 0.5, 10000).alias("ap"),
        F.percentile("v", F.lit(0.5)).alias("ep"),
    ).collect()[0]
    assert abs(row.ad - row.ed) / row.ed < 0.05
    assert abs(row.ap - row.ep) / max(row.ep, 1) < 0.05


def test_zorder_key_duckdb_replay_and_locality(spark):
    """Morton key: exact DuckDB replay of the bucket+spread bit math
    (engine-reproducible layout keys), plus the locality property the
    layout rests on — sorting by z groups rows into rectangles, so
    consecutive z-ranges have bounded extent in BOTH dimensions."""
    import duckdb

    from healthcare_dbt_datamart_spark.functions.layout import zorder_key

    rows = [(i, (i * 7919) % 1000, (i * 104729) % 500) for i in range(400)]
    df = spark.createDataFrame(rows, "rid long, a long, b long")
    got = {
        r.rid: r.z
        for r in df.select(
            "rid",
            zorder_key(
                F.col("a"), F.col("b"),
                F.lit(0), F.lit(999), F.lit(0), F.lit(499),
            ).alias("z"),
        ).collect()
    }

    con = duckdb.connect()
    con.register("t", df.toPandas())
    spread = """
      (x | (x << 8)) & 16711935
    """  # step 1; remaining steps chained below for both operands
    oracle = {
        r[0]: r[1]
        for r in con.execute("""
        WITH b AS (
          SELECT rid,
                 CAST(floor((a - 0) * 65536.0 / 1000.0) AS BIGINT) AS ab,
                 CAST(floor((b - 0) * 65536.0 / 500.0) AS BIGINT) AS bb
          FROM t
        ),
        s AS (
          SELECT rid,
                 ((ab & 65535) | ((ab & 65535) << 8)) & 16711935 AS a1,
                 ((bb & 65535) | ((bb & 65535) << 8)) & 16711935 AS b1
          FROM b
        ),
        s2 AS (
          SELECT rid,
                 (a1 | (a1 << 4)) & 252645135 AS a2,
                 (b1 | (b1 << 4)) & 252645135 AS b2 FROM s
        ),
        s3 AS (
          SELECT rid,
                 (a2 | (a2 << 2)) & 858993459 AS a3,
                 (b2 | (b2 << 2)) & 858993459 AS b3 FROM s2
        ),
        s4 AS (
          SELECT rid,
                 (a3 | (a3 << 1)) & 1431655765 AS a4,
                 (b3 | (b3 << 1)) & 1431655765 AS b4 FROM s3
        )
        SELECT rid, a4 | (b4 << 1) AS z FROM s4
        """).fetchall()
    }
    assert got == oracle

    # locality: split the z-sorted rows into 8 runs; every run's
    # bounding rectangle must be far smaller than the full domain
    ordered = sorted(rows, key=lambda r: got[r[0]])
    runs = [ordered[i * 50:(i + 1) * 50] for i in range(8)]
    for run in runs:
        aspan = max(r[1] for r in run) - min(r[1] for r in run)
        bspan = max(r[2] for r in run) - min(r[2] for r in run)
        # a random/linear-in-one-dim layout gives the full span (1000 /
        # 500) on the other dim; z-runs stay well under half
        assert aspan <= 600 and bspan <= 300, (aspan, bspan)


def test_zorder_cluster_prunes_files_on_both_dimensions(spark, tmp_path):
    """The write-side claim: z-ordered files carry tight footer min/max
    on BOTH columns, so a predicate on the NON-leading dimension (or a
    2-D box) overlaps far fewer files than a 1-D clustered layout.
    Measured from real parquet footers via pyarrow."""
    import glob
    import os

    import pyarrow.parquet as pq

    from healthcare_dbt_datamart_spark.functions.layout import zorder_cluster

    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("timestamp")).alias("o_day"),
    )
    lin = orders.repartitionByRange(16, "o_custkey").sortWithinPartitions("o_custkey")
    zed = zorder_cluster(orders, "o_custkey", "o_day", n_partitions=16)
    lin.write.mode("overwrite").parquet(str(tmp_path / "lin"))
    zed.write.mode("overwrite").parquet(str(tmp_path / "zed"))

    def ranges(d):
        out = []
        for f in glob.glob(os.path.join(d, "part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            if md.num_rows == 0:
                continue
            cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
            mins, maxs = {}, {}
            for rg in range(md.num_row_groups):
                for name in ("o_custkey", "o_day"):
                    st = md.row_group(rg).column(cols[name]).statistics
                    mins[name] = min(mins.get(name, st.min), st.min)
                    maxs[name] = max(maxs.get(name, st.max), st.max)
            out.append((mins, maxs))
        return out

    def overlap_frac(rngs, pred):
        hit = sum(
            1
            for mins, maxs in rngs
            if all(maxs[c] >= lo and mins[c] <= hi for c, (lo, hi) in pred.items())
        )
        return hit / len(rngs)

    lo_r, zo_r = ranges(str(tmp_path / "lin")), ranges(str(tmp_path / "zed"))
    assert len(lo_r) >= 8 and len(zo_r) >= 8

    cust_lo = min(mn["o_custkey"] for mn, _ in lo_r)
    cust_hi = max(mx["o_custkey"] for _, mx in lo_r)
    day_lo = min(mn["o_day"] for mn, _ in lo_r)
    day_hi = max(mx["o_day"] for _, mx in lo_r)
    dspan, cspan = day_hi - day_lo, cust_hi - cust_lo
    day_pred = {"o_day": (day_lo + dspan // 3, day_lo + dspan // 3 + dspan // 16)}
    box_pred = {
        "o_custkey": (
            cust_lo + cspan // 3,
            cust_lo + cspan // 3 + cspan // 16,
        ),
        "o_day": day_pred["o_day"],
    }

    # 1-D layout: every file spans (almost) all days -> no date pruning
    assert overlap_frac(lo_r, day_pred) >= 0.9
    # z-order: a narrow date band skips a material share of files, and
    # the 2-D box skips most of them — strictly better on both shapes
    assert overlap_frac(zo_r, day_pred) <= 0.6
    assert overlap_frac(zo_r, day_pred) < overlap_frac(lo_r, day_pred)
    # the 2-D box: the 1-D layout prunes it through its leading column
    # alone, so z roughly ties at this file granularity (±1 file of
    # noise) — the assertion is that z prunes the box WELL without
    # owning either column as a sort prefix
    assert overlap_frac(zo_r, box_pred) <= 0.4
    # the aggregate claim for a mixed workload (one predicate on each
    # dimension): the 1-D layout wins its own column but scans
    # everything for the other; z pays a bit on each and wins the sum
    cust_pred = {"o_custkey": box_pred["o_custkey"]}
    assert overlap_frac(zo_r, cust_pred) + overlap_frac(zo_r, day_pred) < (
        overlap_frac(lo_r, cust_pred) + overlap_frac(lo_r, day_pred)
    ) * 0.75


def test_zorder_cluster_layout_ignores_session_history(spark):
    """The z-order file boundaries depend on the data only: RDDs the
    session created in between (which reseed Spark's range-partition
    sampler) leave every file's rows unchanged."""
    from healthcare_dbt_datamart_spark.functions.layout import zorder_cluster

    orders = spark.range(15000).selectExpr(
        "(id * 7919) % 1500 as o_custkey", "(id * 104729) % 2400 as o_day"
    )

    def files(new_rdds):
        for _ in range(new_rdds):
            spark.sparkContext.parallelize([0]).count()
        z = zorder_cluster(orders, "o_custkey", "o_day", n_partitions=16)
        return sorted(
            tuple(r)
            for r in z.groupBy(F.spark_partition_id().alias("p"))
            .agg(
                F.count(F.lit(1)),
                F.min("o_custkey"), F.max("o_custkey"),
                F.min("o_day"), F.max("o_day"),
            )
            .collect()
        )

    first = files(0)
    assert len(first) == 16
    assert files(1) == first and files(3) == first


def test_materialize_table_zorder_by_knob(spark):
    """The sink-level z-order knob: a zorder_by table round-trips its
    rows exactly, and passing both sort knobs is rejected loudly."""
    import pytest

    from healthcare_dbt_datamart_spark.operators.materialize import (
        materialize_table,
    )

    orders = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lit("1992-01-01").cast("timestamp")
        ).alias("o_day"),
    )
    name = "zorder_sink_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        materialize_table(
            spark, name, orders, zorder_by=("o_custkey", "o_day")
        )
        got = sorted(map(tuple, spark.table(name).collect()))
        want = sorted(map(tuple, orders.collect()))
        assert got == want
        # the file count follows the size estimate: a small table is one file
        assert len(spark.table(name).inputFiles()) == 1
        with pytest.raises(ValueError, match="zorder_by replaces"):
            materialize_table(
                spark, name, orders,
                cluster_by=["o_custkey"], zorder_by=("o_custkey", "o_day"),
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
