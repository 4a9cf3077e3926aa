"""Scalar function implementations.

Each function cites the reference macro whose semantics it re-expresses
(paths under ``/root/reference/``). All functions return Catalyst
``Column`` expressions (JVM-side, whole-stage-codegen friendly) — no
Python UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# Surrogate keys / hashing
# ---------------------------------------------------------------------------

def surrogate_key(*cols: Column | str, sep: str = "|") -> Column:
    """MD5 surrogate key over pipe-joined, null-coalesced string casts.

    Semantics of the inline key in
    ``models/marts/gaps/fct_gap_exceptions.sql:9-16``: each argument is
    cast to string, NULL -> '' via coalesce, joined with '|', then md5'd.
    Coalescing happens *per argument before joining*, so the key is stable
    under NULLs (unlike raw ``||`` which would null the whole key).
    """
    parts = [F.coalesce(_col(c).cast("string"), F.lit("")) for c in cols]
    return F.md5(F.concat_ws(sep, *parts))


# ---------------------------------------------------------------------------
# Date arithmetic (the Snowflake boundary-count family)
# ---------------------------------------------------------------------------

def datediff_year(a: Column | str, b: Column | str) -> Column:
    """Snowflake ``datediff('year', a, b)``: count of year *boundaries*
    crossed, i.e. ``year(b) - year(a)`` — NOT elapsed years.

    The reference relies on this in the age computation
    (``models/intermediate/gaps/col/int_gap_col_status.sql:39``).
    """
    return F.year(_col(b)) - F.year(_col(a))


def add_years(d: Column | str, n: Column | int) -> Column:
    """Snowflake ``dateadd('year', n, d)``; clamps Feb-29 to Feb-28 like
    Snowflake (``add_months`` shares that behavior)."""
    n_col = F.lit(n) if isinstance(n, int) else n
    return F.add_months(_col(d), n_col * 12)


def age_at(birth_date: Column | str, as_of: Column | str) -> Column:
    """Correct age-in-completed-years at ``as_of``.

    The reference idiom (``int_gap_col_status.sql:39-54``): boundary-count
    year diff, minus 1 if the birthday hasn't occurred by ``as_of``
    (``iff(dateadd('year', diff, birth) > as_of, 1, 0)``). Keeping the
    explicit correction term (rather than ``floor(months_between/12)``)
    preserves the reference's leap-day behavior exactly.
    """
    birth, asof = _col(birth_date), _col(as_of)
    diff = datediff_year(birth, asof)
    correction = F.when(add_years(birth, diff) > asof, F.lit(1)).otherwise(F.lit(0))
    return diff - correction


_TRUNC_PART = {
    "year": "year", "quarter": "quarter", "month": "month", "week": "week",
}


def dateadd(part: str, n: Column | int, d: Column | str) -> Column:
    """dbt ``dateadd`` macro (``dbt-adapters/macros/utils/dateadd.sql:6-14``).

    Snowflake's dateadd preserves the input type — DATE in, DATE out;
    TIMESTAMP in, TIMESTAMP out with the time-of-day intact. Spark's
    ``add_months``/``date_add`` always return DATE (silently truncating
    timestamps), so year..day use interval arithmetic instead:
    ``col + make_interval(...)`` resolves to DATE for DATE inputs and
    TIMESTAMP for TIMESTAMP inputs, with the same month-end clamping
    as Snowflake (Jan 31 + 1 month = Feb 29/28)."""
    n_col = (F.lit(n) if isinstance(n, int) else n).cast("int")
    d = _col(d)
    part = part.lower()
    if part == "year":
        return d + F.make_interval(years=n_col)
    if part == "quarter":
        return d + F.make_interval(months=n_col * 3)
    if part == "month":
        return d + F.make_interval(months=n_col)
    if part == "week":
        return d + F.make_interval(weeks=n_col)
    if part == "day":
        return d + F.make_interval(days=n_col)
    if part in ("hour", "minute", "second"):
        # micros arithmetic, not unix_timestamp: whole-second conversion
        # would destroy sub-second precision (dateadd('second', 0, ts)
        # must round-trip exactly, like Snowflake's)
        us = {"hour": 3_600_000_000, "minute": 60_000_000, "second": 1_000_000}[part]
        return F.timestamp_micros(
            F.unix_micros(d.cast("timestamp")) + n_col.cast("long") * us
        )
    raise ValueError(f"unsupported datepart: {part}")


def datediff(part: str, a: Column | str, b: Column | str) -> Column:
    """dbt ``datediff`` macro with Snowflake boundary-count semantics
    (``dbt-adapters/macros/utils/datediff.sql:6-14``): counts part
    boundaries crossed between a and b, not elapsed units.
    """
    a, b = _col(a), _col(b)
    part = part.lower()
    if part == "year":
        return F.year(b) - F.year(a)
    if part == "quarter":
        return (F.year(b) - F.year(a)) * 4 + (F.quarter(b) - F.quarter(a))
    if part == "month":
        return (F.year(b) - F.year(a)) * 12 + (F.month(b) - F.month(a))
    if part == "week":
        # boundary-count on week starts (Snowflake counts Monday starts);
        # integer like every other datepart — a bare /7 would surface a
        # fractional DOUBLE into table schemas
        return (
            F.datediff(F.date_trunc("week", b), F.date_trunc("week", a)) / 7
        ).cast("int")
    if part == "day":
        return F.datediff(b, a)
    if part in ("hour", "minute", "second"):
        # wall-clock field arithmetic, NOT unix_timestamp: Snowflake's
        # boundary count is timezone-naive, and epoch-second differences
        # skew by the offset change across a DST transition (the repeated
        # fall-back hour would make datediff('hour', 00:00, 03:00) = 4)
        def _tod_units(c: Column) -> Column:
            tod = {
                "hour": F.hour(c),
                "minute": F.hour(c) * 60 + F.minute(c),
                "second": (F.hour(c) * 60 + F.minute(c)) * 60 + F.second(c),
            }
            return tod[part]

        per_day = {"hour": 24, "minute": 1440, "second": 86400}[part]
        ca, cb = a.cast("timestamp"), b.cast("timestamp")
        # datediff returns INT: day-count * 86400 overflows 32-bit at
        # ~68-year spans (birth-date arithmetic routinely exceeds that) —
        # ANSI mode throws, non-ANSI silently wraps. Widen BEFORE the
        # multiply, not after
        return (
            F.datediff(cb.cast("date"), ca.cast("date")).cast("long") * per_day
            + (_tod_units(cb) - _tod_units(ca))
        ).cast("long")
    raise ValueError(f"unsupported datepart: {part}")


def last_day_(d: Column | str, part: str = "month") -> Column:
    """dbt ``last_day`` macro (``dbt-adapters/macros/utils/last_day.sql:5-15``):
    ``dateadd(day, -1, dateadd(part, 1, date_trunc(part, d)))``."""
    d = _col(d)
    if part == "month":
        return F.last_day(d)
    return F.date_add(dateadd(part, 1, F.date_trunc(part, d).cast("date")), -1)


# ---------------------------------------------------------------------------
# Series / spine generation
# ---------------------------------------------------------------------------

def generate_series(spark: SparkSession, upper_bound: int) -> DataFrame:
    """dbt ``generate_series`` (power-of-two UNION ALL ladder,
    ``dbt-adapters/macros/utils/generate_series.sql:18-52``) — in Spark the
    ladder is pointless; ``spark.range`` is already a distributed series.
    Returns column ``generated_number`` (1-based like dbt's)."""
    return spark.range(1, upper_bound + 1).select(
        F.col("id").cast("long").alias("generated_number")
    )


def date_spine(
    spark: SparkSession, datepart: str, start_date: str, end_date: str
) -> DataFrame:
    """dbt ``date_spine`` (``dbt-adapters/macros/utils/date_spine.sql:26-73``;
    Snowflake variant uses ``array_generate_range`` + ``flatten`` —
    ``dbt-snowflake/macros/utils/date_spine.sql:1-12``). Spark-native:
    ``sequence()`` + ``explode`` — one expression, fully distributed.
    End-exclusive like dbt's. Returns column ``date_<datepart>``."""
    interval = {
        "day": "interval 1 day", "week": "interval 1 week",
        "month": "interval 1 month", "year": "interval 1 year",
    }[datepart]
    import re

    for d in (start_date, end_date):
        # the bounds embed in SQL text — validate, don't interpolate raw
        if not re.fullmatch(r"\d{4}-\d{2}-\d{2}", d):
            raise ValueError(f"date_spine bound must be YYYY-MM-DD: {d!r}")
    return (
        spark.range(1)
        .select(
            F.explode(
                F.expr(
                    f"sequence(to_date('{start_date}'), to_date('{end_date}'), {interval})"
                )
            ).alias(f"date_{datepart}")
        )
        .filter(F.col(f"date_{datepart}") < F.lit(end_date).cast("date"))
    )


# ---------------------------------------------------------------------------
# Strings
# ---------------------------------------------------------------------------

def split_part(s: Column | str, delimiter: str, part_number: int) -> Column:
    """dbt ``split_part`` incl. the negative-index emulation
    (``dbt-adapters/macros/utils/split_part.sql:7-28``), with Snowflake's
    edge semantics: part 0 is treated as 1, and ANY out-of-range part
    (positive or negative) yields '' rather than an error or a
    wrapped-around element."""
    s = _col(s)
    if part_number == 0:
        part_number = 1  # Snowflake: "If part_number is 0, it is treated as 1"
    if part_number > 0:
        # Spark's native split_part already returns '' past the end
        return F.split_part(s, F.lit(delimiter), F.lit(part_number))
    # F.split takes a regex; \Q...\E quotes the literal delimiter
    arr = F.split(s, "\\Q" + delimiter + "\\E", -1)
    # F.get is 0-based and returns NULL (instead of erroring / wrapping)
    # when the computed index falls before the first element
    got = F.get(arr, F.size(arr) + part_number)
    return F.when(s.isNull(), F.lit(None).cast("string")).otherwise(
        F.coalesce(got, F.lit(""))
    )


def position(substring: str, s: Column | str) -> Column:
    """dbt ``position`` (``dbt-adapters/macros/utils/position.sql:5-10``)."""
    return F.instr(_col(s), substring)


def right_(s: Column | str, length: Column | int) -> Column:
    """Snowflake-guarded ``right``: length 0 -> '' not NULL
    (``dbt-snowflake/macros/utils/right.sql:1-12``)."""
    n = F.lit(length) if isinstance(length, int) else length
    return F.when(n <= 0, F.lit("")).otherwise(F.right(_col(s), n))


def listagg(
    c: Column | str,
    delimiter: str = ",",
    order_by: Column | str | None = None,
    limit_num: int | None = None,
) -> Column:
    """dbt ``listagg`` (``dbt-adapters/macros/utils/listagg.sql:5-29``):
    ordered, delimited string agg; limited variant mirrors the reference's
    ``array_agg -> array_slice -> array_to_string`` composition with
    ``collect_list -> slice -> array_join``. With ``order_by`` the VALUE
    column is aggregated ordered by the order column: collect
    struct(order, value), array_sort (sorts by fields in declaration
    order, value as deterministic tie-break), then project the value field
    back out. Without ``order_by`` the values sort themselves, keeping the
    result deterministic under Spark's unordered ``collect_list``."""
    if order_by is None:
        arr = F.array_sort(F.collect_list(_col(c)))
    else:
        arr = F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(_col(order_by).alias("o"), _col(c).alias("v"))
                )
            ),
            lambda s: s["v"],
        )
    if limit_num is not None:
        arr = F.slice(arr, 1, limit_num)
    return F.array_join(arr, delimiter)


def replace_(s: Column | str, old: str, new: str) -> Column:
    """dbt ``replace`` (``dbt-adapters/macros/utils/replace.sql:5-13``) —
    literal (non-regex) substring replacement."""
    return F.replace(_col(s), F.lit(old), F.lit(new))


def escape_single_quotes(s: str) -> str:
    """Snowflake ``escape_single_quotes``
    (``dbt-snowflake/macros/utils/escape_single_quotes.sql:1-4``): the
    compile-time string escape for embedding a value in SQL text —
    Python-side by design, exactly like the Jinja original."""
    return s.replace("'", "\\'")


def string_literal(v) -> Column:
    """dbt ``string_literal`` (``dbt-adapters/macros/utils/literal.sql``):
    a quoted string literal in the plan."""
    return F.lit(str(v))


def date_literal(v: str) -> Column:
    """dbt ``date`` literal macro
    (``dbt-adapters/macros/utils/date.sql:6-11``)."""
    return F.to_date(F.lit(v))


def date_trunc_(part: str, d: Column | str) -> Column:
    """dbt ``date_trunc`` (``dbt-adapters/macros/utils/date_trunc.sql:5-7``)."""
    return F.date_trunc(part, _col(d))


def array_construct(*cols: Column | str) -> Column:
    """Snowflake ``array_construct``
    (``dbt-snowflake/macros/utils/array_construct.sql:1-3``)."""
    return F.array(*[_col(c) for c in cols])


def array_append_(arr: Column | str, x: Column | str) -> Column:
    """dbt ``array_append`` (``dbt-adapters/macros/utils/array_append.sql``)."""
    return F.array_append(_col(arr), _col(x))


def array_concat_(a: Column | str, b: Column | str) -> Column:
    """dbt ``array_concat`` (``dbt-adapters/macros/utils/array_concat.sql``)."""
    return F.concat(_col(a), _col(b))


# ---------------------------------------------------------------------------
# Casts / null handling / aggregates
# ---------------------------------------------------------------------------

def safe_cast(c: Column | str, dtype: str) -> Column:
    """Snowflake ``try_cast`` (``dbt-snowflake/macros/utils/safe_cast.sql:2-14``)."""
    return _col(c).try_cast(dtype)


def cast_bool_to_text(c: Column | str) -> Column:
    """dbt ``cast_bool_to_text`` macro."""
    return _col(c).cast("string")


def null_safe_eq(a: Column | str, b: Column | str) -> Column:
    """dbt ``equals`` macro: ``(a = b) or (a is null and b is null)``
    (``dbt-adapters/macros/utils/equals.sql:9-17``) — Spark's ``<=>``."""
    return _col(a).eqNullSafe(_col(b))


def bool_or_(c: Column | str) -> Column:
    """``boolor_agg`` (``dbt-snowflake/macros/utils/bool_or.sql:1-5``)."""
    return F.bool_or(_col(c))


def any_value(c: Column | str) -> Column:
    """``any_value`` (``dbt-adapters/macros/utils/any_value.sql:7-10``).
    Spark's any_value with ignoreNulls=False matches Snowflake's."""
    return F.any_value(_col(c))


def except_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """SQL set EXCEPT (``dbt-adapters/macros/utils/except.sql:5-9``):
    distinct rows of ``a`` not present in ``b`` — Spark's ``subtract`` IS
    EXCEPT DISTINCT. (The previous ``exceptAll(...).distinct()`` kept a
    row of ``a`` that also exists in ``b`` whenever ``a`` held duplicate
    copies of it: a=[1,1,2], b=[1] must yield [2], not [1,2].)"""
    return a.subtract(b)


def audit_columns(
    df: DataFrame,
    run_ts: str | None = None,
    run_id: str | None = None,
    loaded_by: str = "healthcare_dbt_datamart_spark",
) -> DataFrame:
    """Standard warehouse audit columns — the intent marked by the
    reference's declared-but-empty ``macros/audit_columns.sql``: stamp
    every materialized row with load time, run identity, and loader.
    ``run_ts``/``run_id`` injectable for deterministic tests (defaults:
    UTC now / derived from the timestamp)."""
    ts = F.lit(run_ts).cast("timestamp") if run_ts else F.current_timestamp()
    rid = F.lit(run_id) if run_id else F.md5(F.concat(F.lit(loaded_by), ts.cast("string")))
    return df.select(
        "*",
        ts.alias("_loaded_at"),
        rid.alias("_run_id"),
        F.lit(loaded_by).alias("_loaded_by"),
    )
