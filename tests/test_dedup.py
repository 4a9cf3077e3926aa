"""Tests for llmops/dedup.py operators that are not covered by a
shipped query: the LSH planner, the CCNet line dedup and the
edit-distance verifier's unit, guard and pure-Python property checks
(``levenshtein_pairs`` itself is checked against its oracle by the query
gate)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from refs import SF_DIR, r6, texts


def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[len(b)]


@settings(max_examples=6, deadline=None)
@given(st.lists(texts(0, 5), min_size=2, max_size=6))
def test_levenshtein_pairs_matches_python_dp(spark, texts):
    """Every emitted distance equals the classic DP, the gate is the
    exact integer cross-multiplication, and no pair below threshold
    survives."""
    from healthcare_dbt_datamart_spark.llmops.dedup import levenshtein_pairs

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(i, j) for i in range(len(texts)) for j in range(i + 1, len(texts))],
        "id_a long, id_b long",
    )
    got = {
        (r.id_a, r.id_b): (r.dist, r.maxlen, r.sim)
        for r in levenshtein_pairs(
            pairs, docs, "text", "doc_id", threshold_pct=30
        ).collect()
    }
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            d = _py_lev(texts[i], texts[j])
            m = max(len(texts[i]), len(texts[j]))
            kept = 100 * (m - d) >= 30 * m
            if kept:
                want_sim = 1.0 if m == 0 else r6(1 - d / m)
                assert got[(i, j)] == (d, m, want_sim)
            else:
                assert (i, j) not in got

def test_levenshtein_pairs_unit_and_guards(spark):
    """Hand-computed edit distances, the identical-empty edge (sim 1),
    the integer cross-multiplied gate, and both guards (over-length
    texts raise naming offenders; bad threshold raises)."""
    from healthcare_dbt_datamart_spark.llmops.dedup import (
        levenshtein_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "kitten"),
            (2, "sitting"),   # lev(kitten, sitting) = 3, maxlen 7
            (3, "kitten"),    # exact dup of 1
            (4, ""),
            (5, ""),          # empty-empty: maxlen 0 -> sim 1, kept
            (6, "wholly different text"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5), (1, 6)], "id_a long, id_b long"
    )
    got = {
        (r.id_a, r.id_b): r
        for r in levenshtein_pairs(
            pairs, docs, "text", "doc_id", threshold_pct=50
        ).collect()
    }
    # (1,2): dist 3, maxlen 7 -> 100*(7-3)=400 >= 50*7=350 -> kept
    assert got[(1, 2)].dist == 3 and got[(1, 2)].maxlen == 7
    assert got[(1, 2)].sim == round(1 - 3 / 7, 6)
    # exact dup: dist 0, sim 1.0
    assert got[(1, 3)].dist == 0 and got[(1, 3)].sim == 1.0
    # empty-empty: kept with sim exactly 1
    assert got[(4, 5)].maxlen == 0 and got[(4, 5)].sim == 1.0
    # dissimilar pair filtered
    assert (1, 6) not in got

    # tighter threshold drops the typo pair but keeps the exact dup
    tight = {
        (r.id_a, r.id_b)
        for r in levenshtein_pairs(
            pairs, docs, "text", "doc_id", threshold_pct=90
        ).collect()
    }
    assert (1, 3) in tight and (1, 2) not in tight

    with pytest.raises(ValueError, match="threshold_pct"):
        levenshtein_pairs(pairs, docs, "text", "doc_id", threshold_pct=101)
    long_docs = spark.createDataFrame(
        [(1, "x" * 60), (2, "y" * 10)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="max_chars"):
        levenshtein_pairs(
            pairs.limit(1), long_docs, "text", "doc_id", max_chars=50
        )

@pytest.mark.battery
def test_lsh_plan_driver_shape_duckdb_replay(spark, oracle_check):
    """The LSH planner at driver shape (pure bounded math — the oracle
    generates the factorizations and the S-curve arithmetic in SQL):
    threshold 40%, 8 hashes — the repo's own near-dup operating
    point."""
    from healthcare_dbt_datamart_spark.llmops.dedup import lsh_plan

    out = lsh_plan(spark, 40, 8)

    sql = """
WITH f AS (
  SELECT CAST(b AS INTEGER) AS bands, CAST(8 // b AS INTEGER)
    AS rows_per_band
  FROM (SELECT unnest(range(1, 9)) AS b) WHERE 8 % b = 0
),
curves AS (
  SELECT bands, rows_per_band,
    round(pow(1.0 / bands, 1.0 / rows_per_band), 6) AS curve_threshold,
    round(1 - pow(1 - pow(0.4, rows_per_band), bands), 6) AS p_at_target,
    round(1 - pow(1 - pow(0.4 - 0.1, rows_per_band), bands), 6) AS p_below,
    round(1 - pow(1 - pow(0.4 + 0.1, rows_per_band), bands), 6) AS p_above
  FROM f
),
under AS (
  SELECT *, row_number() OVER (ORDER BY curve_threshold DESC,
    rows_per_band DESC) AS rk
  FROM curves WHERE curve_threshold <= 0.4
),
over_ AS (
  SELECT *, (SELECT COUNT(*) FROM under)
    + row_number() OVER (ORDER BY curve_threshold ASC,
      rows_per_band DESC) AS rk
  FROM curves WHERE curve_threshold > 0.4
)
SELECT CAST(rk AS INTEGER) AS rank, bands, rows_per_band,
  curve_threshold, p_at_target, p_below, p_above
FROM under
UNION ALL
SELECT CAST(rk AS INTEGER), bands, rows_per_band,
  curve_threshold, p_at_target, p_below, p_above
FROM over_
"""
    assert oracle_check(out, sql)["spark_rows"] > 0

@pytest.mark.battery
def test_line_dedup_driver_shape_duckdb_replay(spark, oracle_check):
    """CCNet line dedup at the future query shape: the c4_line_filter
    line-shaped rebuild gives every doc 4 lines where the
    javascript/sentence filler lines repeat corpus-wide — min_copies=2
    drops every copy but the deterministically first, and the rebuild
    keeps original bytes and order."""
    from healthcare_dbt_datamart_spark.llmops.dedup import line_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    nl = F.lit("\n")
    lined = docs.select(
        "doc_id",
        F.concat(
            F.concat(F.substring("text", 1, 60), F.lit(".")),
            nl,
            F.substring("text", 61, 15),
            nl,
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("Enable javascript to view this content please."),
            ).otherwise(
                F.lit("Another proper sentence arrives with plenty of words.")
            ),
            nl,
            F.concat(F.substring("text", 76, 60), F.lit("?")),
        ).alias("text"),
    )
    out = line_dedup(lined, "text", "doc_id")

    sql = """
WITH lined AS (
  SELECT doc_id,
    substr(text, 1, 60) || '.' || chr(10)
    || substr(text, 61, 15) || chr(10)
    || CASE WHEN doc_id % 7 = 0
       THEN 'Enable javascript to view this content please.'
       ELSE 'Another proper sentence arrives with plenty of words.' END
    || chr(10)
    || substr(text, 76, 60) || '?' AS t
  FROM documents
),
lines AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, l[i] AS line
  FROM (SELECT doc_id, string_split(COALESCE(t, ''), chr(10)) AS l
        FROM lined),
       unnest(generate_series(1, len(l))) AS u(i)
),
keyed AS (
  SELECT doc_id, pos, line,
    CASE WHEN regexp_replace(lower(trim(line)), '\\s+', ' ', 'g') != ''
         THEN md5(regexp_replace(lower(trim(line)), '\\s+', ' ', 'g'))
    END AS k
  FROM lines
),
stats AS (
  SELECT k, COUNT(*) AS copies,
         MIN(ROW(doc_id, pos)) AS first
  FROM keyed WHERE k IS NOT NULL GROUP BY k
),
marked AS (
  SELECT keyed.doc_id, keyed.pos, keyed.line,
    COALESCE(stats.copies >= 2
             AND NOT (stats.first = ROW(keyed.doc_id, keyed.pos)),
             FALSE) AS dropped
  FROM keyed LEFT JOIN stats USING (k)
)
SELECT doc_id,
  COALESCE(string_agg(CASE WHEN NOT dropped THEN line END,
                      chr(10) ORDER BY pos), '') AS text_deduped,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
    AS n_lines_dropped,
  CAST(SUM(CASE WHEN dropped THEN length(line) ELSE 0 END) AS BIGINT)
    AS chars_removed
FROM marked GROUP BY doc_id
"""
    assert oracle_check(out, sql)["spark_rows"] > 0
    # the dedup really fires: the shared filler line survives exactly
    # once per distinct normalized text across the corpus
    rows = out.collect()
    assert any(r.n_lines_dropped > 0 for r in rows)
    assert all(r.n_lines == 4 for r in rows)
