"""Tests for llmops/similarity.py and the index release: the paths the
shipped queries do not take (``ivf_topk`` fitting its own centroids, the
index DAG training its own quantizer)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from refs import SF_DIR


@pytest.mark.battery
def test_rbo_driver_shape_duckdb_replay(spark, oracle_check):
    """RBO between the exact cosine top-10 and an ``ivf_topk`` that fits
    its own centroids, against the ``rbo`` oracle: the shipped query
    passes the session's trained centroids in, so this is the only run
    of the in-call Lloyd fit."""
    from pyspark.sql.window import Window as W

    from healthcare_dbt_datamart_spark.llmops.evaluation import rbo
    from healthcare_dbt_datamart_spark.llmops.similarity import (
        cosine_topk,
        ivf_topk,
    )
    from healthcare_dbt_datamart_spark.models.testdata_queries import ORACLE

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    order = W.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    exact = cosine_topk(emb, query_id=0, k=10).select(
        F.col("vec_id").alias("item"),
        F.row_number().over(order).cast("bigint").alias("ra"),
    )
    approx = ivf_topk(
        emb, query_id=0, k=10, n_centroids=8, nprobe=2, n_iter=2
    ).select(
        F.col("vec_id").alias("item"),
        F.row_number().over(order).cast("bigint").alias("rb"),
    )
    out = rbo(exact.join(approx, "item", "full_outer"), "item", "ra", "rb")
    assert oracle_check(out, ORACLE["rbo"])["spark_rows"] > 0


@pytest.mark.battery
def test_index_scorecard_driver_shape_duckdb_replay(spark, oracle_check):
    """The ANN index-release DAG training its own coarse quantizer,
    against the ``index_scorecard`` oracle: the shipped query injects
    the session's trained centroids through the warm-start hook."""
    from healthcare_dbt_datamart_spark.models.index_release import (
        build_index_scorecard,
    )
    from healthcare_dbt_datamart_spark.models.testdata_queries import ORACLE

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = build_index_scorecard(spark, emb, query_ids=[0, 7, 21]).build(
        "index_scorecard"
    )
    assert oracle_check(out, ORACLE["index_scorecard"])["spark_rows"] > 0
