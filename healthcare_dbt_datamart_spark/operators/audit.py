"""Relation-diff auditing — the dbt-audit-helper workflow
(``compare_relations`` / per-column match rates) as engine operators.

Reference analog: the dbt ecosystem's audit-helper package drives every
blue/green migration sign-off ("is the rebuilt table the same as the
one it replaces, and if not, WHERE does it differ?"). The engine's
incremental sinks (merge / delete+insert / insert_overwrite) and SCD2
snapshots create exactly these before/after pairs, so the audit
belongs beside them as a first-class operator, not an ad-hoc query.

Plan shape: ONE null-safe full-outer join on the key + one partial-agg
fold for the summary AND every per-column match count (no per-column
re-scan — the match bits are projected once and summed together).
Duplicate keys raise loudly up front: a fan-out join would silently
inflate every count the audit exists to report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame


def _prep(a: DataFrame, b: DataFrame, key_cols, compare_cols):
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    key_cols = list(key_cols)
    if not key_cols:
        raise ValueError("compare needs at least one key column")
    if compare_cols is None:
        compare_cols = [
            c for c in a.columns if c in set(b.columns) and c not in key_cols
        ]
    compare_cols = list(compare_cols)
    for side, df in (("a", a), ("b", b)):
        missing = [c for c in key_cols + compare_cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"compare: side {side!r} is missing columns {missing}"
            )
        dups = (
            df.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .count()
        )
        if dups:
            raise ValueError(
                f"compare: side {side!r} has {dups} duplicate key groups on"
                f" {key_cols} — a fan-out join would inflate every count;"
                " dedupe or widen the key first"
            )
    return key_cols, compare_cols


def _joined(a: DataFrame, b: DataFrame, key_cols, compare_cols):
    pa = a.select(
        *[F.col(k).alias(f"k_{k}") for k in key_cols],
        F.lit(1).alias("_in_a"),
        *[F.col(c).alias(f"a_{c}") for c in compare_cols],
    )
    pb = b.select(
        *[F.col(k).alias(f"k_{k}") for k in key_cols],
        F.lit(1).alias("_in_b"),
        *[F.col(c).alias(f"b_{c}") for c in compare_cols],
    )
    cond = None
    for k in key_cols:
        t = pa[f"k_{k}"].eqNullSafe(pb[f"k_{k}"])
        cond = t if cond is None else (cond & t)
    j = pa.join(pb, cond, "full_outer")
    both = pa["_in_a"].isNotNull() & pb["_in_b"].isNotNull()
    matches = [
        F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}")) for c in compare_cols
    ]
    return j, both, matches, pa, pb


def compare_relations(
    a: DataFrame,
    b: DataFrame,
    key_cols,
    compare_cols=None,
) -> DataFrame:
    """One-row relation diff: row counts per side, keys only in
    either, keys in both, and of those how many rows are IDENTICAL
    across all compared columns vs CHANGED — the migration sign-off
    summary. Null-safe everywhere (NULL == NULL is a match; a NULL key
    matches a NULL key — silently dropping NULL-keyed rows would
    under-report every bucket). Returns ``(n_a, n_b, only_in_a,
    only_in_b, in_both, identical, changed, identical_rate)``."""
    key_cols, compare_cols = _prep(a, b, key_cols, compare_cols)
    j, both, matches, _, _ = _joined(a, b, key_cols, compare_cols)
    all_match = F.lit(True)
    for m in matches:
        all_match = all_match & m
    z = F.lit(0).cast("bigint")
    # coalesce every count: two EMPTY relations must audit as all-zero
    # rows, not NULLs (hypothesis-caught edge)
    return j.agg(
        F.coalesce(
            F.sum(F.coalesce(F.col("_in_a"), F.lit(0))).cast("bigint"), z
        ).alias("n_a"),
        F.coalesce(
            F.sum(F.coalesce(F.col("_in_b"), F.lit(0))).cast("bigint"), z
        ).alias("n_b"),
        F.coalesce(
            F.sum((F.col("_in_b").isNull()).cast("bigint")), z
        ).alias("only_in_a"),
        F.coalesce(
            F.sum((F.col("_in_a").isNull()).cast("bigint")), z
        ).alias("only_in_b"),
        F.coalesce(F.sum(both.cast("bigint")), z).alias("in_both"),
        F.coalesce(
            F.sum((both & all_match).cast("bigint")), z
        ).alias("identical"),
        F.coalesce(
            F.sum((both & ~all_match).cast("bigint")), z
        ).alias("changed"),
    ).select(
        "*",
        F.when(
            F.col("in_both") > 0,
            F.round(
                F.col("identical").cast("double")
                / F.col("in_both").cast("double"),
                6,
            ),
        ).alias("identical_rate"),
    )


def compare_columns(
    a: DataFrame,
    b: DataFrame,
    key_cols,
    compare_cols=None,
) -> DataFrame:
    """Per-column match rates over the keys present on BOTH sides —
    the "WHERE does it differ" drill-down after ``compare_relations``
    says "changed > 0". One row per compared column: ``(column,
    n_both, n_match, n_mismatch, match_rate)``; every column's bits
    are summed in the SAME single pass over the joined frame (a
    per-column loop of joins would re-shuffle both relations per
    column). Sorted by match_rate ascending — the guiltiest column
    first."""
    key_cols, compare_cols = _prep(a, b, key_cols, compare_cols)
    if not compare_cols:
        raise ValueError("compare_columns: no common non-key columns")
    j, both, matches, _, _ = _joined(a, b, key_cols, compare_cols)
    agg = j.agg(
        F.sum(both.cast("bigint")).alias("n_both"),
        *[
            F.sum((both & m).cast("bigint")).alias(f"m_{c}")
            for c, m in zip(compare_cols, matches)
        ],
    ).collect()[0]  # one row of |columns| integers: bounded model state
    n_both = int(agg.n_both or 0)
    rows = []
    for c in compare_cols:
        n_match = int(agg[f"m_{c}"] or 0)
        rows.append(
            (
                c,
                n_both,
                n_match,
                n_both - n_match,
                round(n_match / n_both, 6) if n_both else None,
            )
        )
    rows.sort(key=lambda t: (t[4] if t[4] is not None else -1.0, t[0]))
    spark = a.sparkSession
    return local_frame(
        spark,
        rows,
        "column string, n_both bigint, n_match bigint, n_mismatch bigint,"
        " match_rate double",
    )


def compare_examples(
    a: DataFrame,
    b: DataFrame,
    key_cols,
    compare_cols=None,
    n: int = 20,
) -> DataFrame:
    """Example rows behind the counts — the last drill-down of the
    audit workflow: for the first ``n`` CHANGED rows in key order
    (keys on both sides, any compared column differing), one output
    row PER DIFFERING COLUMN with both sides' values as strings — so
    a multi-column diff shows ALL its columns and the limit counts
    distinct changed keys, never exploded fragments. Deterministic:
    the n changed keys are a TakeOrdered over key order (never a
    global sort spill), and the exploded output re-sorts by key then
    column. Returns ``(<key cols...>, column, a_value, b_value)``."""
    key_cols, compare_cols = _prep(a, b, key_cols, compare_cols)
    if not compare_cols:
        raise ValueError("compare_examples: no common non-key columns")
    if int(n) < 1:
        raise ValueError(f"n must be >= 1: got {n!r}")
    j, both, matches, pa, pb = _joined(a, b, key_cols, compare_cols)
    any_diff = F.lit(False)
    for m in matches:
        any_diff = any_diff | ~m
    diffs = F.filter(
        F.array(
            *[
                F.when(
                    ~m,
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(f"a_{c}").cast("string").alias("a_value"),
                        F.col(f"b_{c}").cast("string").alias("b_value"),
                    ),
                )
                for c, m in zip(compare_cols, matches)
            ]
        ),
        lambda x: x.isNotNull(),
    )
    # limit FIRST, on one row per changed key (each carrying its diffs
    # array), THEN explode: limiting the exploded rows would surface
    # fewer than n distinct changed rows whenever a diff spans columns
    changed = (
        j.filter(both & any_diff)
        .select(
            # a key on BOTH sides: the a-side reference disambiguates
            # the full-outer's duplicate k_ columns
            *[pa[f"k_{k}"].alias(k) for k in key_cols],
            diffs.alias("_diffs"),
        )
        .orderBy(*[F.col(k).asc_nulls_first() for k in key_cols])
        .limit(int(n))
    )
    exploded = changed.select(
        *key_cols, F.explode("_diffs").alias("d")
    ).select(
        *key_cols,
        F.col("d.column").alias("column"),
        F.col("d.a_value").alias("a_value"),
        F.col("d.b_value").alias("b_value"),
    )
    return exploded.orderBy(
        *[F.col(k).asc_nulls_first() for k in key_cols], F.col("column")
    )
