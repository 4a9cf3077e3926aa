"""Scalar / utility function surface (SURVEY.md §2.10).

Re-expresses the reference's cross-database macro surface
(``dbt_internal_packages/dbt-adapters/macros/utils/*.sql`` and the
Snowflake overrides) as Column -> Column Python functions. Like dbt's
Jinja macros these expand *before* execution — they build Catalyst
expressions, so there is zero per-row Python cost.
"""

from .scalar import (  # noqa: F401
    add_years,
    age_at,
    any_value,
    array_append_,
    array_concat_,
    array_construct,
    audit_columns,
    bool_or_,
    cast_bool_to_text,
    date_literal,
    date_spine,
    date_trunc_,
    dateadd,
    datediff,
    datediff_year,
    escape_single_quotes,
    except_distinct,
    generate_series,
    last_day_,
    listagg,
    null_safe_eq,
    position,
    replace_,
    right_,
    safe_cast,
    split_part,
    string_literal,
    surrogate_key,
)
