"""The COL gap-closure pipeline, Spark-first.

Re-expresses the reference's flagship model chain —
``models/intermediate/gaps/col/int_gap_col_status.sql`` (9-CTE chain),
``models/intermediate/gaps/col/int_gap_col_violations.sql`` +
``macros/gap_tri_state_violations.sql`` (rule-violation families), and
``models/marts/gaps/fct_gap_exceptions.sql`` (incremental exception fact)
— as parameterized DataFrame functions.

The status chain has one body, ``gap_status_multi``, which takes a list
of (params, code set) measures; ``gap_status`` is its one-measure call.

Scale notes (100 TB discipline):
- the params relation is a broadcast cross join, one row per measure
  (reference's constant-broadcast idiom, ``int_gap_col_status.sql:57,142``)
  — Catalyst turns it into a BroadcastNestedLoopJoin with negligible cost;
- the code set is always broadcast (tiny dimension; the reference's
  correlated EXISTS, ``int_gap_col_status.sql:87-93``, becomes a broadcast
  hash join);
- best-evidence selection is rank-then-filter (``row_number`` + ``rn=1``,
  ``int_gap_col_status.sql:159-183``) which Spark optimizes with
  InferWindowGroupLimit (top-k per group pushed below the full sort);
- the final status join is a shuffle hash/sort-merge join on ``member_id``
  with AQE skew splitting; no driver-side collect anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..functions import age_at, dateadd, surrogate_key

# Durability ranking of screening evidence — the CASE at
# ``int_gap_col_status.sql:150-157`` (kept as ONE column and reused in the
# ORDER BY, per the survey's dedup note on lines 162-169).
DEFAULT_EVIDENCE_RANK: dict[str, int] = {
    "COLONOSCOPY": 1,
    "SIGMOIDOSCOPY": 2,
    "CT_COLONOGRAPHY": 2,
    "STOOL_DNA_FIT": 3,
    "FIT_FOBT": 4,
}
DEFAULT_RANK_FALLBACK = 99

# Lookback windows in years per evidence type
# (``int_gap_col_status.sql:112-136``). FIT_FOBT qualifies only within the
# measurement year (>= period_start).
DEFAULT_LOOKBACK_YEARS: dict[str, int] = {
    "COLONOSCOPY": 10,
    "SIGMOIDOSCOPY": 5,
    "CT_COLONOGRAPHY": 5,
    "STOOL_DNA_FIT": 3,
}


@dataclass(frozen=True)
class GapParams:
    """The 1-row params CTE (``int_gap_col_status.sql:11-23``)."""

    period_start: str  # ISO date
    period_end: str  # ISO date
    min_age: int = 45
    max_age: int = 75
    measure_id: str = "COL"
    rule_version: str = "COL_V1"
    evidence_rank: dict[str, int] = field(default_factory=lambda: dict(DEFAULT_EVIDENCE_RANK))
    lookback_years: dict[str, int] = field(default_factory=lambda: dict(DEFAULT_LOOKBACK_YEARS))


def _rank_expr(params: GapParams) -> F.Column:
    expr = F.lit(DEFAULT_RANK_FALLBACK)
    for reason, rank in reversed(list(params.evidence_rank.items())):
        expr = F.when(F.col("evidence_type") == reason, F.lit(rank)).otherwise(expr)
    return expr


EXCLUSION_FLAGS = ("has_crc_cancer_history", "has_total_colectomy", "in_hospice")


def gap_status(
    members: DataFrame,
    claims: DataFrame,
    codes: DataFrame,
    params: GapParams,
    exclusions: DataFrame | None = None,
) -> DataFrame:
    """Tri-state COL gap status, one row per member: ``gap_status_multi``
    with one measure.

    Inputs:
      members: (member_id long, birth_date date)
      claims:  (claim_id long, member_id long, service_date date,
                proc_code string)
      codes:   (code string, evidence_type string) — the code set(s); tiny,
               always broadcast.
      exclusions: optional (member_id, has_crc_cancer_history,
               has_total_colectomy, in_hospice) — the
               ``member_exclusions`` branch
               (``int_gap_col_status.sql:60-66``). Any flag = 1 NULLs
               ``gap_flag`` (``:196-203``). None mirrors the reference's
               stub: every flag 0, emitted as literal columns (no extra
               members scan). A partial table left-joins; missing members
               coalesce to 0.

    Output: member_id, measure_id, measurement_year, age, is_age_eligible,
    has_crc_cancer_history, has_total_colectomy, in_hospice,
    gap_flag ∈ {1=CLOSED, 0=OPEN, NULL=NOT QUALIFIED}, closure_date,
    closure_reason, evidence_id, period_start, period_end, rule_version.

    The closure columns pass through UNMASKED for gap_flag=NULL rows —
    the reference's final select (``int_gap_col_status.sql:205-207``)
    carries ``best_evidence`` columns for every member, which is exactly
    what the NOT_QUALIFIED_HAS_VALUE violation family exists to catch
    downstream.
    """
    return gap_status_multi(members, claims, [(params, codes)], exclusions)


def gap_status_multi(
    members: DataFrame,
    claims: DataFrame,
    measures: list[tuple[GapParams, DataFrame]],
    exclusions: DataFrame | None = None,
) -> DataFrame:
    """Multi-measure gap status in ONE pass over members and claims.

    The per-measure model tree (``int_gap_<measure>_status``) naively runs
    the 9-CTE chain once per measure — M full claims/members scans. Here
    the measure configuration is data: each measure's code set explodes
    into (measure_id, proc_code, evidence_type, reason_rank, win_start,
    win_end) rows, the union of all measures' configs broadcasts onto a
    SINGLE claims scan (a claim hitting K measures fans out K ways —
    bounded by the config, not the data), and best-evidence ranking
    windows on (member_id, measure_id). The member spine cross-joins the
    M-row params relation once. Plan: one claims join tree + one window
    shuffle + one spine join, regardless of M — at 100 TB adding a
    measure adds broadcast rows, not scans.

    ``measures`` is a non-empty list of (params, codes) with distinct
    ``measure_id``s; a repeated id would fan every member out once per
    copy. Output: ``gap_status``'s schema, one row per member × measure;
    exclusions (if given) apply to every measure.
    """
    if not measures:
        raise ValueError("gap_status_multi needs at least one measure")
    ids = [params.measure_id for params, _ in measures]
    if len(set(ids)) != len(ids):
        raise ValueError(f"gap_status_multi: repeated measure_id in {ids!r}")
    spark = members.sparkSession
    config_parts = []
    params_parts = []
    for params, codes in measures:
        p_start = F.lit(params.period_start).cast("date")
        p_end = F.lit(params.period_end).cast("date")
        rank = _rank_expr(params)
        # qualifying window per evidence type, resolved to literal dates at
        # config-build time (int_gap_col_status.sql:106-144): FIT_FOBT the
        # measurement year, otherwise the N-year lookback from period_end;
        # unknown types get NULL bounds -> never qualify
        win_start = F.when(F.col("evidence_type") == "FIT_FOBT", p_start)
        for ev, years in params.lookback_years.items():
            win_start = win_start.when(
                F.col("evidence_type") == ev, dateadd("year", -years, p_end)
            )
        # the code set is always broadcast: the reference's correlated
        # EXISTS (int_gap_col_status.sql:87-93) becomes a broadcast
        # equi-join that also yields the evidence type
        config_parts.append(
            codes.select(
                F.upper("code").alias("proc_code_u"),
                "evidence_type",
                F.lit(params.measure_id).alias("measure_id"),
                rank.alias("reason_rank"),
                win_start.alias("win_start"),
                p_end.alias("win_end"),
            )
        )
        # the params CTE as a broadcast 1-row-per-measure relation
        # (J1 fidelity: constant broadcast, int_gap_col_status.sql:57)
        params_parts.append(
            spark.range(1).select(
                F.lit(params.measure_id).alias("measure_id"),
                p_start.alias("period_start"),
                p_end.alias("period_end"),
                F.lit(params.min_age).alias("min_age"),
                F.lit(params.max_age).alias("max_age"),
                F.lit(params.rule_version).alias("rule_version"),
            )
        )
    config = config_parts[0]
    for part in config_parts[1:]:
        config = config.unionByName(part)
    params_df = params_parts[0]
    for part in params_parts[1:]:
        params_df = params_df.unionByName(part)

    # age + eligibility band (int_gap_col_status.sql:33-58): Snowflake
    # datediff('year') boundary count with the birthday-correction term
    spine = (
        members.crossJoin(broadcast(params_df))
        .withColumn("age", age_at("birth_date", "period_end"))
        .withColumn(
            "is_age_eligible",
            F.coalesce(
                F.col("age").between(F.col("min_age"), F.col("max_age")), F.lit(False)
            ),
        )
    )

    qualifying = (
        claims.withColumn("proc_code_u", F.upper("proc_code"))
        .join(broadcast(config), "proc_code_u")
        .filter(F.col("service_date").between(F.col("win_start"), F.col("win_end")))
        .withColumnRenamed("evidence_type", "closure_reason")
    )
    # best evidence: durability rank then recency then claim_id for full
    # determinism (int_gap_col_status.sql:159-183 rank-then-filter top-1).
    # With one measure the window keys on member_id alone: Catalyst folds
    # the constant measure_id out of the spine join's keys but not out of
    # a window partitioning, so keying it here too would add a shuffle.
    keys = ["member_id"] if len(measures) == 1 else ["member_id", "measure_id"]
    w = Window.partitionBy(*keys).orderBy(
        F.col("reason_rank").asc(),
        F.col("service_date").desc(),
        F.col("claim_id").desc(),
    )
    best = (
        qualifying.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "member_id",
            "measure_id",
            F.col("service_date").alias("closure_date"),
            "closure_reason",
            F.col("claim_id").alias("evidence_id"),
        )
    )

    # final status: eligibility spine ⟕ exclusions ⟕ best evidence,
    # tri-state flag CASE (int_gap_col_status.sql:185-218). NULL is
    # semantic ("not qualified"); never fillna this column. Closure
    # columns pass through unmasked (reference final select :205-207).
    joined = spine.join(best, ["member_id", "measure_id"], "left")
    if exclusions is None:
        # reference stub (int_gap_col_status.sql:60-66): all-zero flags,
        # literal columns — no second members scan
        for flag in EXCLUSION_FLAGS:
            joined = joined.withColumn(flag, F.lit(0))
    else:
        joined = joined.join(
            exclusions.select("member_id", *EXCLUSION_FLAGS), "member_id", "left"
        )
        for flag in EXCLUSION_FLAGS:
            joined = joined.withColumn(
                flag, F.coalesce(F.col(flag).cast("int"), F.lit(0))
            )
    has_evidence = F.col("evidence_id").isNotNull()
    eligible = F.col("is_age_eligible")
    excluded = F.lit(False)
    for flag in EXCLUSION_FLAGS:
        excluded = excluded | (F.col(flag) == 1)
    return joined.select(
        "member_id",
        "measure_id",
        F.year("period_end").alias("measurement_year"),
        "age",
        "is_age_eligible",
        *EXCLUSION_FLAGS,
        F.when(~eligible, F.lit(None).cast("int"))
        .when(excluded, F.lit(None).cast("int"))
        .when(has_evidence, F.lit(1))
        .otherwise(F.lit(0))
        .alias("gap_flag"),
        "closure_date",
        "closure_reason",
        "evidence_id",
        "period_start",
        "period_end",
        "rule_version",
    )


def gap_tri_state_violations(
    status: DataFrame,
    flag_col: str = "gap_flag",
    pk_cols: tuple[str, ...] = ("member_id", "measure_id"),
    required_when_open: tuple[str, ...] = ("period_start", "period_end"),
    required_when_closed: tuple[str, ...] = ("closure_date", "closure_reason", "evidence_id"),
    forbidden_when_null: tuple[str, ...] = ("closure_date", "closure_reason", "evidence_id"),
) -> DataFrame:
    """The four tri-state rule-violation families, UNION ALL'd.

    Re-expresses ``macros/gap_tri_state_violations.sql``:
      A (:15-25)  flag ∉ {0,1} and not NULL          -> INVALID_FLAG_VALUE
      B (:28-43)  flag = 0 missing a required column -> OPEN_MISSING_REQUIRED
      C (:47-62)  flag = 1 missing a required column -> CLOSED_MISSING_REQUIRED
      D (:66-81)  flag NULL has a forbidden column   -> NOT_QUALIFIED_HAS_VALUE

    Violations are *rows*, not assertions — they flow into the exceptions
    fact. Schema: (violation_rule, *pk_cols, flag_value).

    Scale note: the reference UNION ALLs four filtered scans of the model;
    Snowflake dedups the shared scan, but a naive Spark union would run the
    upstream status pipeline (window + join) four times. Instead each row
    emits the array of rules it violates and one ``explode`` produces the
    identical multiset of rows in a SINGLE pass — at 100 TB that is one
    scan instead of four.
    """
    flag = F.col(flag_col)
    pk = [F.col(c) for c in pk_cols]

    def any_not_null(cols: tuple[str, ...]) -> F.Column:
        cond = F.lit(False)
        for c in cols:
            cond = cond | F.col(c).isNotNull()
        return cond

    def any_null(cols: tuple[str, ...]) -> F.Column:
        cond = F.lit(False)
        for c in cols:
            cond = cond | F.col(c).isNull()
        return cond

    families = [
        ("INVALID_FLAG_VALUE", flag.isNotNull() & ~flag.isin(0, 1)),
        ("OPEN_MISSING_REQUIRED", (flag == 0) & any_null(required_when_open)),
        ("CLOSED_MISSING_REQUIRED", (flag == 1) & any_null(required_when_closed)),
        ("NOT_QUALIFIED_HAS_VALUE", flag.isNull() & any_not_null(forbidden_when_null)),
    ]
    rules = F.array_compact(
        F.array(*[F.when(cond, F.lit(rule)) for rule, cond in families])
    )
    return status.select(
        F.explode(rules).alias("violation_rule"),
        *pk,
        flag.cast("int").alias("flag_value"),
    )


def fct_gap_exceptions(
    violations: DataFrame,
    run_ts: str,
    existing: DataFrame | None = None,
) -> DataFrame:
    """Incremental, hash-key-deduplicated exception fact.

    Re-expresses ``models/marts/gaps/fct_gap_exceptions.sql:1-34``:
    exception_key = md5 over pipe-joined coalesced casts (:9-16), all
    descriptive columns cast varchar (:10-15), and the incremental dedup
    predicate ``key not in (select key from this)`` (:32-34) — implemented
    as a LEFT ANTI join: keys are md5 and provably non-NULL, so the NOT-IN
    three-valued-logic hazard the survey flags (§7) does not apply, and
    anti-join is the scalable Spark shape (broadcast or shuffled hash).

    ``run_ts`` is injectable (reference uses ``current_timestamp``,
    ``int_gap_col_violations.sql:18``) so golden tests and the DuckDB
    oracle are deterministic.
    """
    non_key = [c for c in violations.columns if c != "violation_rule"]
    out = violations.select(
        surrogate_key(F.col("violation_rule"), *[F.col(c) for c in non_key]).alias(
            "exception_key"
        ),
        F.col("violation_rule").cast("string").alias("violation_rule"),
        *[F.col(c).cast("string").alias(c) for c in non_key],
        F.lit(run_ts).cast("timestamp").alias("exception_ts"),
    )
    if existing is not None:
        out = out.join(
            existing.select("exception_key"), "exception_key", "left_anti"
        )
    return out
