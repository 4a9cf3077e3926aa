"""Tests for llmops/splits.py: winsorization against a DuckDB replay,
the median/MAD unit, guard and pure-Python property checks, UniMax at a
fixed budget, and the leakage-safe split building its own components
(``mad_scores`` and the shipped UniMax and split queries are checked by
the query gate)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from refs import SF_DIR


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=12
    )
)


def test_mad_scores_matches_python_order_stats(spark, vals):
    """Median/MAD equal the pure-Python lower-median reference; every
    robust_z follows; zero-MAD yields NULLs."""
    from healthcare_dbt_datamart_spark.llmops.splits import mad_scores

    docs = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, v double"
    )
    got = {r.id: r for r in mad_scores(docs, "v", "id").collect()}

    def lower_med(xs):
        s = sorted(xs)
        return s[(len(s) + 1) // 2 - 1]

    med = lower_med([float(v) for v in vals])
    mad = lower_med([abs(float(v) - med) for v in vals])
    for i, v in enumerate(vals):
        r = got[i]
        assert (r.median, r.mad) == (med, mad)
        if mad > 0:
            # mirror the engine's 6dp half-up integer-domain quantization
            # (floor(z·10⁶ + 0.5) on the IEEE double — NOT decimal-string
            # rounding, which disagrees on exact 6dp half-way cases like
            # 0.6745·(−18)/16) and the integer-fp outlier compare
            import math

            z_fp = math.floor(
                0.6745 * (float(v) - med) / mad * 1000000.0 + 0.5
            )
            z = z_fp / 1000000.0
            assert r.robust_z == z and r.outlier == (abs(z_fp) > 3500000)
        else:
            assert r.robust_z is None and r.outlier is None


def test_mad_scores_unit_and_guards(spark):
    """Median/MAD robust scoring on hand-built groups: exact lower
    medians at ceil ranks, the 0.6745 modified z, outlier flag at 3.5,
    NULL robust_z on a zero-MAD group (never a fabricated infinity),
    and the NULL/NaN guard."""
    from healthcare_dbt_datamart_spark.llmops.splits import mad_scores

    df = spark.createDataFrame(
        [("g1", i, v) for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 100.0])]
        + [("g2", i, v) for i, v in enumerate([5.0, 5.0, 5.0, 9.0])],
        "grp string, id long, v double",
    )
    got = {
        (r.grp, r.id): r
        for r in mad_scores(df, "v", "id", grp_col="grp").collect()
    }
    # g1: n=5 -> k=3 -> median 3; |dev| = [2,1,0,1,97] -> MAD 1
    g1 = got[("g1", 4)]
    assert (g1.median, g1.mad) == (3.0, 1.0)
    assert g1.robust_z == round(0.6745 * 97 / 1.0, 6) and g1.outlier
    assert got[("g1", 0)].robust_z == round(0.6745 * -2 / 1.0, 6)
    assert not got[("g1", 0)].outlier
    # g2: median 5, MAD 0 -> NULL score + flag, values intact
    g2 = got[("g2", 3)]
    assert (g2.median, g2.mad) == (5.0, 0.0)
    assert g2.robust_z is None and g2.outlier is None and g2.value == 9.0

    # global shape (grp_col=None) keeps one group, no grp column
    glob = mad_scores(df, "v", "id").columns
    assert glob == ["id", "value", "median", "mad", "robust_z", "outlier"]

    with pytest.raises(ValueError, match="z_thresh_pct"):
        mad_scores(df, "v", "id", grp_col="grp", z_thresh_pct=0)
    with pytest.raises(ValueError, match="NULL/NaN"):
        mad_scores(
            df.unionByName(
                spark.createDataFrame(
                    [("g1", 99, float("nan"))], "grp string, id long, v double"
                )
            ),
            "v", "id", grp_col="grp",
        )


@pytest.mark.battery
def test_unimax_allocation_driver_shape_duckdb_replay(spark, oracle_check):
    """UniMax water-filling at the future query shape: per-language
    character budgets over documents, budget 300k / max_epochs 2 (a
    mixed capped/uncapped fill at sf0.001) — the closed-form window
    SQL replays every output column."""
    from healthcare_dbt_datamart_spark.llmops.splits import (
        unimax_allocation,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    counts = docs.groupBy(F.col("lang").alias("grp")).agg(
        F.sum("n_chars").alias("n_tokens")
    )
    out = unimax_allocation(counts, budget=300_000, max_epochs=2)

    B, E = 300_000, 2
    sql = f"""
WITH counts AS (
  SELECT lang AS grp, CAST(SUM(n_chars) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
ranked AS (
  SELECT grp, n_tokens, n_tokens * {E} AS cap,
    row_number() OVER w AS r,
    COALESCE(SUM(n_tokens * {E}) OVER (w ROWS BETWEEN UNBOUNDED
      PRECEDING AND 1 PRECEDING), 0) AS cum_before,
    COUNT(*) OVER () AS n
  FROM counts
  WINDOW w AS (ORDER BY n_tokens * {E} ASC, grp ASC)
),
staged AS (
  SELECT *, cap * (n - r + 1) <= {B} - cum_before AS capped
  FROM ranked
),
tot AS (
  SELECT *,
    SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS k,
    COALESCE(SUM(CASE WHEN capped THEN cap END) OVER (), 0) AS s
  FROM staged
)
SELECT grp, n_tokens, CAST(cap AS BIGINT) AS cap, capped,
  CAST(CASE WHEN capped THEN cap ELSE
    ({B} - s) // (n - k)
    + CASE WHEN r - k <= ({B} - s) % (n - k) THEN 1 ELSE 0 END
  END AS BIGINT) AS alloc,
  round(CAST(CASE WHEN capped THEN cap ELSE
    ({B} - s) // (n - k)
    + CASE WHEN r - k <= ({B} - s) % (n - k) THEN 1 ELSE 0 END
  END AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS epochs_alloc
FROM tot
"""
    assert oracle_check(out, sql)["spark_rows"] > 0


@pytest.mark.battery
def test_winsorize_scores_driver_shape_duckdb_replay(spark, oracle_check):
    """Winsorization at the future query shape: per-language document
    lengths clamped at the exact 5th/95th ceil-rank order statistics —
    window SQL replays every output column."""
    from healthcare_dbt_datamart_spark.llmops.splits import winsorize_scores

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("len_d")
    )
    out = winsorize_scores(
        docs, "len_d", "doc_id", grp_col="lang", lo_pct=5, hi_pct=95
    )

    sql = """
WITH t AS (
  SELECT lang, doc_id AS id, CAST(n_chars AS DOUBLE) AS v FROM documents
),
ranked AS (
  SELECT lang, id, v,
    row_number() OVER (PARTITION BY lang ORDER BY v ASC, id ASC) AS r,
    COUNT(*) OVER (PARTITION BY lang) AS n
  FROM t
),
bounds AS (
  SELECT lang,
    MIN(CASE WHEN r = GREATEST((n * 5 + 99) // 100, 1) THEN v END) AS lo,
    MIN(CASE WHEN r = GREATEST((n * 95 + 99) // 100, 1) THEN v END) AS hi
  FROM ranked GROUP BY lang
)
SELECT t.lang, t.id, t.v AS value, b.lo, b.hi,
  GREATEST(LEAST(t.v, b.hi), b.lo) AS value_w,
  (t.v < b.lo OR t.v > b.hi) AS clipped
FROM t JOIN bounds b USING (lang)
"""
    assert oracle_check(out, sql)["spark_rows"] > 0


@pytest.mark.battery
def test_leakage_safe_split_driver_shape_duckdb_replay(spark, oracle_check):
    """``leakage_safe_split`` building its own near-dup components from
    the text, against the ``leakage_safe_split`` oracle: the shipped query
    passes the session's component table in."""
    from healthcare_dbt_datamart_spark.llmops.splits import (
        leakage_safe_split,
    )
    from healthcare_dbt_datamart_spark.models.testdata_queries import ORACLE

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = leakage_safe_split(docs, "text", "doc_id")
    verdict = oracle_check(out, ORACLE["leakage_safe_split"])
    assert verdict["spark_rows"] > 0
