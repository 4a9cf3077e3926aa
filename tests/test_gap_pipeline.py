"""Golden tests for the COL gap pipeline on the reference demo fixtures.

Fixture rows and expected outcomes per FIXTURES.md §A (reference seeds
``seeds/demo/members_demo.csv``, ``seeds/demo/claim_lines_demo.csv``,
``seeds/codesets/col_fit_fobt_codes.csv``): members 1 and 5 CLOSED via
FIT_FOBT, member 2 OPEN (non-qualifying code), members 3 (under-age) and
4 (over-age) NOT QUALIFIED (NULL).
"""

from __future__ import annotations

from datetime import date

import pytest
from pyspark.sql import functions as F

from healthcare_dbt_datamart_spark.models.gap_pipeline import (
    GapParams,
    fct_gap_exceptions,
    gap_status,
    gap_tri_state_violations,
)

PARAMS = GapParams(period_start="2025-01-01", period_end="2025-12-31",
                   min_age=45, max_age=75)


@pytest.fixture(scope="module")
def demo(spark):
    members = spark.createDataFrame(
        [(1, date(1970, 1, 1)), (2, date(1950, 6, 15)), (3, date(2000, 5, 20)),
         (4, date(1940, 3, 3)), (5, date(1965, 11, 11))],
        "member_id long, birth_date date",
    )
    claims = spark.createDataFrame(
        [(1001, 1, date(2025, 7, 1), "82274"),
         (1002, 2, date(2025, 2, 10), "12345"),
         (1003, 5, date(2025, 3, 15), "82274")],
        "claim_id long, member_id long, service_date date, proc_code string",
    )
    codes = spark.createDataFrame(
        [("82274", "FIT_FOBT")], "code string, evidence_type string"
    )
    return members, claims, codes


def test_gap_status_golden(spark, demo):
    members, claims, codes = demo
    rows = {r.member_id: r for r in gap_status(members, claims, codes, PARAMS).collect()}
    assert len(rows) == 5

    assert rows[1].gap_flag == 1
    assert rows[1].closure_reason == "FIT_FOBT"
    assert rows[1].closure_date == date(2025, 7, 1)
    assert rows[1].evidence_id == 1001
    assert rows[1].age == 55

    assert rows[2].gap_flag == 0  # non-qualifying code 12345 -> OPEN
    assert rows[2].closure_reason is None
    assert rows[2].age == 75  # boundary: still eligible

    assert rows[3].gap_flag is None and rows[3].age == 25  # under-age
    assert rows[4].gap_flag is None and rows[4].age == 85  # over-age
    for m in (3, 4):
        assert rows[m].closure_date is None
        assert rows[m].evidence_id is None

    assert rows[5].gap_flag == 1
    assert rows[5].evidence_id == 1003


def test_durability_ranking_prefers_colonoscopy(spark, demo):
    members, _, _ = demo
    claims = spark.createDataFrame(
        [(2001, 1, date(2025, 6, 1), "82274"),     # FIT_FOBT, more recent
         (2002, 1, date(2020, 1, 15), "45378")],   # COLONOSCOPY, older but durable
        "claim_id long, member_id long, service_date date, proc_code string",
    )
    codes = spark.createDataFrame(
        [("82274", "FIT_FOBT"), ("45378", "COLONOSCOPY")],
        "code string, evidence_type string",
    )
    rows = {r.member_id: r for r in gap_status(members, claims, codes, PARAMS).collect()}
    # colonoscopy within 10y lookback outranks a more recent FIT
    assert rows[1].closure_reason == "COLONOSCOPY"
    assert rows[1].evidence_id == 2002


def test_lookback_window_excludes_stale_evidence(spark, demo):
    members, _, _ = demo
    claims = spark.createDataFrame(
        [(3001, 1, date(2024, 6, 1), "82274")],  # FIT outside measurement year
        "claim_id long, member_id long, service_date date, proc_code string",
    )
    codes = spark.createDataFrame([("82274", "FIT_FOBT")], "code string, evidence_type string")
    rows = {r.member_id: r for r in gap_status(members, claims, codes, PARAMS).collect()}
    assert rows[1].gap_flag == 0  # stale FIT does not close the gap


def test_member_exclusions_null_the_flag(spark, demo):
    """int_gap_col_status.sql:60-66,196-218: any exclusion flag = 1 NULLs
    gap_flag even when qualifying evidence exists, the evidence columns
    still pass through unmasked, and the three flag columns are part of
    the output schema."""
    members, claims, codes = demo
    exclusions = spark.createDataFrame(
        [(1, 1, 0, 0), (5, 0, 0, 1)],
        "member_id long, has_crc_cancer_history int, has_total_colectomy int,"
        " in_hospice int",
    )
    out = gap_status(members, claims, codes, PARAMS, exclusions=exclusions)
    for c in ("has_crc_cancer_history", "has_total_colectomy", "in_hospice"):
        assert c in out.columns
    rows = {r.member_id: r for r in out.collect()}
    # member 1: eligible, has FIT evidence, but crc-history excluded -> NULL
    assert rows[1].gap_flag is None
    assert rows[1].has_crc_cancer_history == 1
    # unmasked passthrough: the evidence the exclusion overrode is visible
    assert rows[1].closure_reason == "FIT_FOBT"
    assert rows[1].evidence_id == 1001
    # member 5: hospice exclusion -> NULL despite evidence
    assert rows[5].gap_flag is None and rows[5].in_hospice == 1
    # member 2: absent from the exclusions table -> flags coalesce to 0
    assert rows[2].gap_flag == 0 and rows[2].has_crc_cancer_history == 0
    # excluded-with-evidence rows are exactly what family D exists to catch
    v = {
        (r.violation_rule, r.member_id)
        for r in gap_tri_state_violations(out).collect()
    }
    assert ("NOT_QUALIFIED_HAS_VALUE", 1) in v
    assert ("NOT_QUALIFIED_HAS_VALUE", 5) in v


def test_violations_empty_on_clean_pipeline(spark, demo):
    members, claims, codes = demo
    status = gap_status(members, claims, codes, PARAMS)
    assert gap_tri_state_violations(status).count() == 0


def test_violation_families_fire(spark, demo):
    members, claims, codes = demo
    status = gap_status(members, claims, codes, PARAMS)
    corrupted = status.withColumn(
        "gap_flag",
        F.when(F.col("member_id") == 1, F.lit(7)).otherwise(F.col("gap_flag")),
    ).withColumn(
        "closure_reason",
        F.when(F.col("member_id") == 5, F.lit(None).cast("string"))
        .otherwise(F.col("closure_reason")),
    ).withColumn(
        "closure_date",
        F.when(F.col("member_id") == 3, F.lit(date(2025, 1, 1)))
        .otherwise(F.col("closure_date")),
    )
    v = {(r.violation_rule, r.member_id) for r in gap_tri_state_violations(corrupted).collect()}
    assert ("INVALID_FLAG_VALUE", 1) in v
    assert ("CLOSED_MISSING_REQUIRED", 5) in v
    assert ("NOT_QUALIFIED_HAS_VALUE", 3) in v


def test_gap_status_multi_equals_per_measure_union(spark, demo):
    """The single-pass multi-measure plan must produce exactly the union
    of independent per-measure gap_status runs."""
    from healthcare_dbt_datamart_spark.models.gap_pipeline import gap_status_multi

    members, claims, codes = demo
    params2 = GapParams(
        period_start="2025-01-01", period_end="2025-12-31",
        min_age=20, max_age=30, measure_id="M2", rule_version="M2_V1",
        evidence_rank={"FIT_FOBT": 1}, lookback_years={},
    )
    single = gap_status(members, claims, codes, PARAMS).unionByName(
        gap_status(members, claims, codes, params2)
    )
    multi = gap_status_multi(
        members, claims, [(PARAMS, codes), (params2, codes)]
    )
    assert multi.columns == single.columns
    key = lambda r: (r.member_id, r.measure_id)
    s_rows = {key(r): r for r in single.collect()}
    m_rows = {key(r): r for r in multi.collect()}
    assert s_rows == m_rows


def test_gap_status_multi_rejects_empty_and_repeated_measures(spark, demo):
    """An empty measure list has no config to broadcast, and a repeated
    measure_id would fan every member out once per copy."""
    from healthcare_dbt_datamart_spark.models.gap_pipeline import gap_status_multi

    members, claims, codes = demo
    with pytest.raises(ValueError, match="at least one measure"):
        gap_status_multi(members, claims, [])
    with pytest.raises(ValueError, match="repeated measure_id"):
        gap_status_multi(members, claims, [(PARAMS, codes), (PARAMS, codes)])


def _hash_exchanges(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning")


def test_gap_status_shuffle_counts(spark, demo):
    """One measure: one window shuffle plus the spine side of the status
    join (the window's member_id partitioning serves the join). Keying
    the one-measure window on (member_id, measure_id) adds a third,
    because the constant measure_id folds out of the join keys but not
    out of a window partitioning once the code set is a local relation.
    Three measures key both on (member_id, measure_id): still two."""
    from healthcare_dbt_datamart_spark.models.gap_pipeline import gap_status_multi
    from healthcare_dbt_datamart_spark.session import local_frame

    members, claims, _ = demo
    codes = local_frame(
        spark, [("82274", "FIT_FOBT")], "code string, evidence_type string"
    )
    measures = [
        (GapParams(period_start="2025-01-01", period_end="2025-12-31",
                   measure_id=m, rule_version=f"{m}_V1"), codes)
        for m in ("COL", "BCS", "CCS")
    ]
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    # no size-based broadcast: only the pipeline's own hints remain, so
    # the count does not depend on how small the fixtures are
    spark.conf.set(key, "-1")
    try:
        assert _hash_exchanges(gap_status(members, claims, codes, PARAMS)) == 2
        assert _hash_exchanges(gap_status_multi(members, claims, measures)) == 2
    finally:
        spark.conf.set(key, old)


def test_exception_fact_dedups_incrementally(spark, demo):
    members, claims, codes = demo
    status = gap_status(members, claims, codes, PARAMS)
    corrupted = status.withColumn(
        "gap_flag",
        F.when(F.col("member_id") == 1, F.lit(7)).otherwise(F.col("gap_flag")),
    )
    violations = gap_tri_state_violations(corrupted)
    first = fct_gap_exceptions(violations, "2026-01-01 00:00:00")
    assert first.count() == 1
    # second run with the same violations: anti-join dedup -> nothing new
    second = fct_gap_exceptions(violations, "2026-01-02 00:00:00", existing=first)
    assert second.count() == 0
    # key is the md5 surrogate (stable, non-null)
    key = first.collect()[0].exception_key
    assert len(key) == 32 and key is not None
