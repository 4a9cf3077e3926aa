"""Tests for llmops/preferences.py: the per-match-row rating paths
checked against the shipped oracles (the shipped queries read the
pre-collapsed pair-period board instead)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from refs import SF_DIR


@pytest.mark.battery
def test_elo_ratings_driver_shape_duckdb_replay(spark, oracle_check):
    """``elo_ratings(k=16)`` over the per-match rows of the supplier
    match log, one row per match, against the ``elo_ratings`` oracle:
    the shipped query fits the pre-collapsed pair-period board, so this
    is the unweighted path (weighted rows must give the same ratings)."""
    from healthcare_dbt_datamart_spark.llmops.preferences import elo_ratings
    from healthcare_dbt_datamart_spark.models.testdata_queries import (
        ORACLE,
        _supplier_matches,
    )

    m = _supplier_matches(spark, SF_DIR)
    assert m.select("period").distinct().count() >= 3  # real years
    out = elo_ratings(m, k=16).select(
        "item", "n_matches", "wins", "rating_fp"
    )
    assert oracle_check(out, ORACLE["elo_ratings"])["spark_rows"] > 0


@pytest.mark.battery
def test_wilson_winrate_driver_shape_duckdb_replay(spark, oracle_check):
    """The Wilson board over per-match rows (no ``n_col``) against the
    ``wilson_winrate`` oracle, which the shipped query meets through the
    weighted pair-period board."""
    from healthcare_dbt_datamart_spark.llmops.preferences import (
        wilson_winrate,
    )
    from healthcare_dbt_datamart_spark.models.testdata_queries import (
        ORACLE,
        _supplier_matches,
    )

    out = wilson_winrate(_supplier_matches(spark, SF_DIR))
    assert oracle_check(out, ORACLE["wilson_winrate"])["spark_rows"] > 0


@pytest.mark.battery
def test_kendall_tau_driver_shape_duckdb_replay(spark, oracle_check):
    """Tau-b between ``bradley_terry`` and ``elo_ratings`` fitted on the
    per-match rows, against the ``kendall_tau`` oracle: the shipped query
    reads both fits off the pre-collapsed pair boards."""
    from healthcare_dbt_datamart_spark.llmops.evaluation import kendall_tau
    from healthcare_dbt_datamart_spark.llmops.preferences import (
        bradley_terry,
        elo_ratings,
    )
    from healthcare_dbt_datamart_spark.models.testdata_queries import (
        ORACLE,
        _supplier_matches,
    )

    m = _supplier_matches(spark, SF_DIR)
    bt = bradley_terry(m, n_iter=3).select(
        "item", F.col("rating_fp").alias("bt")
    )
    elo = elo_ratings(m, k=16).select(
        "item", F.col("rating_fp").alias("elo")
    )
    out = kendall_tau(bt.join(elo, "item"), "item", "bt", "elo")
    assert oracle_check(out, ORACLE["kendall_tau"])["spark_rows"] > 0


@pytest.mark.battery
def test_leaderboard_gate_driver_shape_duckdb_replay(spark, oracle_check):
    """The leaderboard-release DAG fitting every board itself from the
    match log, against the ``leaderboard_gate`` oracle: the shipped query
    injects the session's fits through the warm-start hook instead."""
    from healthcare_dbt_datamart_spark.models.leaderboard_release import (
        build_leaderboard_release,
    )
    from healthcare_dbt_datamart_spark.models.testdata_queries import (
        ORACLE,
        _supplier_matches,
    )

    gate = build_leaderboard_release(
        spark, _supplier_matches(spark, SF_DIR)
    ).build("leaderboard_gate")
    assert oracle_check(gate, ORACLE["leaderboard_gate"])["spark_rows"] > 0
