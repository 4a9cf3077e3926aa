"""The reference datamart assembled on the engine runtime.

Recreates the reference project's DAG (``dbt_project.yml:19-33``: stage
views -> intermediate views -> marts tables/incremental) as registered
models:

  stg_members          <- models/stage/members/stg_members.sql
  stg_claim_lines      <- models/stage/claims/stg_claim_lines.sql:3-8
  int_gap_col_status   <- models/intermediate/gaps/col/int_gap_col_status.sql
  int_gap_col_violations <- .../int_gap_col_violations.sql:3-30
  fct_gap_exceptions   <- models/marts/gaps/fct_gap_exceptions.sql
                          (incremental, unique_key=exception_key)

plus the reference's DECLARED-empty marts (0-byte files marking intent,
SURVEY §0; semantics are this engine's, the names and layer placement
are the reference's):

  fct_claims           <- models/marts/claims/fct_claims.sql (0-byte):
                          claim-line fact + surrogate key + screening flag
  int_claim_rollups    <- intermediate/claims/int_claim_rollups.sql (0-byte):
                          line facts rolled to claim-header grain
  int_claim_status     <- intermediate/claims/int_claim_status.sql (0-byte):
                          header classification off the rollups
  int_member_enrollment <- intermediate/members/int_member_enrollment.sql
                          (0-byte): observed activity spans per member
  dim_member           <- models/marts/members/dim_member.sql (0-byte):
                          member dim + age/eligibility as of period_end
  member_cost_summary  <- models/marts/analytics/member_cost_summary.sql
                          (0-byte): per-member claim rollup
  snap_dim_member      <- snapshots/snap_dim_member.sql (0-byte): SCD2
                          snapshot over dim_member (check strategy, all
                          columns — no updated_at on the dim)

A user of the reference runs ``dbt run``; a user of this engine calls
``build_datamart(...).run()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import ModelRegistry
from ..session import local_frame
from .gap_pipeline import (
    GapParams,
    fct_gap_exceptions,
    gap_status,
    gap_tri_state_violations,
)


def int_claim_rollups(lines: DataFrame) -> DataFrame:
    """Declared intent of models/intermediate/claims/int_claim_rollups.sql
    (0-byte): line facts rolled to the CLAIM HEADER. ``lines`` is the
    deduped claim-line grain (``claim_id, member_id, service_date,
    proc_code, is_screening``, fct_claims' at-least-once discipline);
    the testdata claim_id encodes header*10+line
    (testdata_queries._gap_inputs), so header = claim_id DIV 10. One
    partial-agg groupBy."""
    return (
        lines.select(
            F.floor(F.col("claim_id") / 10).cast("long").alias("claim_hdr_id"),
            "member_id",
            "service_date",
            "proc_code",
            "is_screening",
        )
        .groupBy("claim_hdr_id", "member_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_distinct("proc_code").alias("n_codes"),
            F.min("service_date").alias("first_service_date"),
            F.max("service_date").alias("last_service_date"),
            F.sum("is_screening").alias("n_screening_lines"),
        )
    )


def int_claim_status(rollups: DataFrame) -> DataFrame:
    """Declared intent of .../int_claim_status.sql (0-byte): header-level
    classification off ``int_claim_rollups`` — pure projection, no extra
    scan."""
    return rollups.select(
        "claim_hdr_id",
        "member_id",
        F.when(F.col("n_screening_lines") > 0, F.lit("screening"))
        .when(F.col("n_lines") > 1, F.lit("multi-line"))
        .otherwise(F.lit("routine"))
        .alias("claim_status"),
        (F.col("n_codes") > 1).cast("int").alias("is_multi_code"),
    )


def int_member_enrollment(lines: DataFrame) -> DataFrame:
    """Declared intent of
    models/intermediate/members/int_member_enrollment.sql (0-byte): the
    OBSERVED enrollment span — first/last service activity and distinct
    active months per member over the deduped claim-line grain (no
    eligibility feed ships with the reference either; activity is the
    proxy)."""
    return lines.groupBy("member_id").agg(
        F.min("service_date").alias("observed_from"),
        F.max("service_date").alias("observed_to"),
        F.count_distinct(F.floor(F.col("claim_id") / 10)).alias("n_claims"),
        F.count_distinct(F.date_trunc("month", F.col("service_date"))).alias(
            "active_months"
        ),
    )


def build_datamart(
    spark: SparkSession,
    raw_members: DataFrame,
    raw_claim_lines: DataFrame,
    codes: DataFrame,
    params: GapParams,
    run_ts: str = "1970-01-01 00:00:00",
) -> ModelRegistry:
    r = ModelRegistry(spark)
    r.add_source("raw_members", raw_members)
    r.add_source("raw_claim_lines", raw_claim_lines)
    r.add_source("col_fit_fobt_codes", codes)

    @r.model()
    def stg_members(ctx):
        # stg_members.sql: typed projection of the member seed
        return ctx.source("raw_members").select(
            F.col("member_id").cast("long").alias("member_id"),
            F.col("birth_date").cast("date").alias("birth_date"),
        )

    @r.model()
    def stg_claim_lines(ctx):
        # stg_claim_lines.sql:3-8: cast + upper-normalize proc_code
        return ctx.source("raw_claim_lines").select(
            F.col("claim_id").cast("long").alias("claim_id"),
            F.col("member_id").cast("long").alias("member_id"),
            F.col("service_date").cast("date").alias("service_date"),
            F.upper(F.col("proc_code")).alias("proc_code"),
        )

    # dbt unit test (1.8 yml analog): stg_claim_lines must upper-case
    # proc codes and type its columns — fixtures are lazy builders, the
    # test runs with the real model body against them (CLI `test`/`build`)
    r.add_unit_test(
        "stg_claim_lines_normalizes_codes",
        "stg_claim_lines",
        given={
            "raw_claim_lines": lambda s: local_frame(
                s,
                [
                    (1, 10, "2024-01-02", "g0121"),
                    (2, 11, "2024-02-03", "82270"),
                ],
                "claim_id int, member_id int, service_date string,"
                " proc_code string",
            )
        },
        expect=lambda s: local_frame(
            s,
            [
                (1, 10, "2024-01-02", "G0121"),
                (2, 11, "2024-02-03", "82270"),
            ],
            "claim_id int, member_id int, service_date string, proc_code string",
        ).select(
            F.col("claim_id").cast("long"),
            F.col("member_id").cast("long"),
            F.col("service_date").cast("date"),
            "proc_code",
        ),
    )

    @r.model()
    def int_gap_col_status(ctx):
        return gap_status(
            ctx.ref("stg_members"),
            ctx.ref("stg_claim_lines"),
            ctx.source("col_fit_fobt_codes"),
            params,
        )

    @r.model()
    def int_gap_col_violations(ctx):
        return gap_tri_state_violations(ctx.ref("int_gap_col_status"))

    @r.model(
        name="fct_gap_exceptions",
        materialized="incremental",
        incremental_strategy="append",
        unique_key="exception_key",
    )
    def fct_gap_exceptions_model(ctx):
        violations = ctx.ref("int_gap_col_violations")
        existing = ctx.this if ctx.is_incremental() else None
        return fct_gap_exceptions(violations, run_ts, existing=existing)

    from ..functions import age_at, audit_columns, surrogate_key

    @r.model(
        materialized="table",
        # declared intent of marts/claims/_claims.yml (0-byte placeholder):
        # the standard schema tests a claims fact declares
        tests=[
            ("unique", "claim_sk"),
            ("not_null", "claim_sk"),
            ("not_null", "member_id"),
            ("accepted_values", "is_screening", [0, 1]),
            ("relationships", "member_id", "dim_member", "member_id"),
        ],
    )
    def fct_claims(ctx):
        # declared intent of models/marts/claims/fct_claims.sql (0-byte):
        # one row per claim line, surrogate-keyed, screening-code flagged
        claims = ctx.ref("stg_claim_lines")
        codes = ctx.source("col_fit_fobt_codes")
        # upper() BOTH sides (like gap_status): staging already
        # upper-normalizes proc_code, but the screening flag must not
        # silently drop to 0 if a mixed-case code ever reaches this join
        code_dim = (
            codes.select(F.upper("code").alias("_sc_code")).distinct()
            .withColumn("is_screening", F.lit(1))
        )
        flagged = claims.join(
            F.broadcast(code_dim),
            F.upper(claims["proc_code"]) == code_dim["_sc_code"],
            "left",
        ).drop("_sc_code")
        # the fact's grain is the DISTINCT claim line: an at-least-once
        # feed redelivers byte-identical lines (the driver testdata
        # contains such collisions), and indistinguishable rows carry no
        # information — dedup to grain (groupBy the 4 grain columns +
        # max(flag): the flag is functionally dependent on proc_code, so
        # this equals the 5-wide DISTINCT with one fewer column through
        # the shuffle), then key over ALL grain columns so claim_sk is
        # unique BY CONSTRUCTION (the declared unique test below is the
        # proof, not the hope)
        grain = flagged.groupBy(
            "claim_id", "member_id", "service_date", "proc_code"
        ).agg(
            F.max(F.coalesce("is_screening", F.lit(0))).alias("is_screening")
        )
        return audit_columns(
            grain.select(
                surrogate_key(
                    F.col("claim_id"),
                    F.col("member_id"),
                    F.col("service_date"),
                    F.col("proc_code"),
                ).alias("claim_sk"),
                "claim_id",
                "member_id",
                "service_date",
                "proc_code",
                "is_screening",
            ),
            run_ts=run_ts,
        )

    @r.model(
        materialized="table",
        # declared intent of marts/members/_members.yml (0-byte placeholder)
        tests=[("unique", "member_id"), ("not_null", "member_id")],
    )
    def dim_member(ctx):
        # declared intent of models/marts/members/dim_member.sql (0-byte)
        members = ctx.ref("stg_members")
        p_end = F.lit(params.period_end).cast("date")
        age = age_at("birth_date", p_end)
        return audit_columns(
            members.select(
                surrogate_key(F.col("member_id")).alias("member_sk"),
                "member_id",
                "birth_date",
                age.alias("age"),
                F.coalesce(
                    age.between(params.min_age, params.max_age), F.lit(False)
                ).alias("is_age_eligible"),
            ),
            run_ts=run_ts,
        )

    @r.model(name="int_claim_rollups")
    def int_claim_rollups_model(ctx):
        return int_claim_rollups(ctx.ref("fct_claims"))

    @r.model(name="int_claim_status")
    def int_claim_status_model(ctx):
        return int_claim_status(ctx.ref("int_claim_rollups"))

    @r.model(name="int_member_enrollment")
    def int_member_enrollment_model(ctx):
        return int_member_enrollment(ctx.ref("fct_claims"))

    @r.model(materialized="table")
    def member_cost_summary(ctx):
        # declared intent of models/marts/analytics/member_cost_summary.sql
        # (0-byte): per-member rollup over the claims fact — one partial-agg
        # groupBy on the member key. Columns are named at the fact's grain
        # (claim LINES): int_member_enrollment.n_claims counts distinct
        # claim HEADERS, and the same name at two grains would make the
        # two marts silently contradict each other
        claims = ctx.ref("fct_claims")
        return ctx.ref("dim_member").select("member_id", "is_age_eligible").join(
            claims.groupBy("member_id").agg(
                F.count(F.lit(1)).alias("n_claim_lines"),
                F.sum("is_screening").alias("n_screening_lines"),
                F.min("service_date").alias("first_service_date"),
                F.max("service_date").alias("last_service_date"),
            ),
            "member_id",
            "left",
        ).select(
            "member_id",
            "is_age_eligible",
            F.coalesce("n_claim_lines", F.lit(0)).alias("n_claim_lines"),
            F.coalesce("n_screening_lines", F.lit(0)).alias("n_screening_lines"),
            "first_service_date",
            "last_service_date",
        )

    @r.model(
        name="snap_dim_member",
        materialized="snapshot",
        unique_key="member_id",
        strategy="check",
        check_cols="all",
        run_ts=run_ts,
    )
    def snap_dim_member_model(ctx):
        # declared intent of snapshots/snap_dim_member.sql (0-byte): SCD2
        # history over the member dim; check strategy compares all columns
        # (snapshots/strategies.sql:145-187) since the dim has no
        # reliable updated_at
        return ctx.ref("dim_member").drop("_loaded_at", "_run_id", "_loaded_by")

    return r
