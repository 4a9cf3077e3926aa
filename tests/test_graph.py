"""Tests for llmops/graph.py: integer HITS over the verified near-dup
graph, and personalized PageRank cut every round (the shipped query cuts
once at the end)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from refs import SF_DIR


@pytest.mark.battery
def test_hits_fixedpoint_driver_shape_duckdb_replay(spark, oracle_check):
    """Integer HITS over the verified near-dup graph (directed
    id_a -> id_b, the pagerank_docs edge construction): 3 power
    iterations unrolled as MATERIALIZED CTEs with the per-round L-inf
    max computed in-SQL — hubs/authorities in exact scale units."""
    from healthcare_dbt_datamart_spark.llmops.graph import hits_fixedpoint
    from healthcare_dbt_datamart_spark.models.testdata_queries import (
        ORACLE,
        _near_dup_verified,
    )

    edges = _near_dup_verified(spark, SF_DIR).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    out = hits_fixedpoint(edges, n_iter=3).select(
        F.col("id").cast("bigint").alias("doc_id"), "hub_fp", "auth_fp"
    )

    sql = f"""
WITH e AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM ({ORACLE["near_dup_jaccard"]})
),
h0 AS MATERIALIZED (
  SELECT id, CAST(1000000 AS BIGINT) AS h
  FROM (SELECT src AS id FROM e UNION SELECT dst FROM e)
)"""
    for r in range(1, 4):
        sql += f""",
a{r}raw AS MATERIALIZED (
  SELECT dst, CAST(SUM(h) AS BIGINT) AS s
  FROM e JOIN h{r - 1} ON e.src = h{r - 1}.id GROUP BY dst
),
a{r} AS MATERIALIZED (
  SELECT dst AS id,
         CAST((s * 1000000) // (SELECT MAX(s) FROM a{r}raw) AS BIGINT)
           AS a
  FROM a{r}raw
),
h{r}raw AS MATERIALIZED (
  SELECT src, CAST(SUM(a) AS BIGINT) AS s
  FROM e JOIN a{r} ON e.dst = a{r}.id GROUP BY src
),
h{r} AS MATERIALIZED (
  SELECT src AS id,
         CAST((s * 1000000) // (SELECT MAX(s) FROM h{r}raw) AS BIGINT)
           AS h
  FROM h{r}raw
)"""
    sql += """
SELECT CAST(COALESCE(h3.id, a3.id) AS BIGINT) AS doc_id,
       COALESCE(h3.h, 0) AS hub_fp,
       COALESCE(a3.a, 0) AS auth_fp
FROM h3 FULL OUTER JOIN a3 ON h3.id = a3.id
"""
    assert oracle_check(out, sql)["spark_rows"] > 0


@pytest.mark.battery
def test_personalized_pagerank_driver_shape_duckdb_replay(
    spark, oracle_check
):
    """Seed-restart PageRank over the verified near-dup graph with the
    default lineage cut after every round, against the
    ``personalized_pagerank`` oracle (the shipped query cuts once, after
    round 3)."""
    from healthcare_dbt_datamart_spark.llmops.graph import (
        personalized_pagerank,
        undirected_edges,
    )
    from healthcare_dbt_datamart_spark.models.testdata_queries import (
        ORACLE,
        _near_dup_verified,
    )

    edges = undirected_edges(
        _near_dup_verified(spark, SF_DIR).select("id_a", "id_b")
    )
    seed = str(
        edges.select(F.least("src", "dst").alias("m"))
        .agg(F.min("m")).collect()[0][0]
    )
    out = personalized_pagerank(edges, [seed], n_iter=3).select(
        F.col("id").cast("bigint").alias("doc_id"),
        "rank_fp",
    )
    verdict = oracle_check(out, ORACLE["personalized_pagerank"])
    assert verdict["spark_rows"] > 0
