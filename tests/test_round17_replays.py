"""Driver-shape DuckDB replays of the operators that have no ``QUERIES``
slot: best-of-n, DPO pairs, the sparse logistic-regression trainer,
Matryoshka truncation and MMR re-ranking. Each compares through the
shared comparator (the ``oracle_check`` fixture).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from refs import SF_DIR

pytestmark = pytest.mark.battery


def test_best_of_n_driver_shape_duckdb_replay(spark, oracle_check):
    """Best-of-n at the future query shape: per user keep the
    highest-value event — one rank-then-filter window per prompt
    partition, ties on ascending event id, NULL rewards never win."""
    from healthcare_dbt_datamart_spark.llmops.preferences import best_of_n

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        F.col("user_id").alias("prompt_id"),
        F.col("event_id").alias("response_id"),
        F.col("value").cast("double").alias("reward"),
    )
    out = best_of_n(ev)

    sql = """
WITH s AS (
  SELECT user_id AS prompt_id, event_id AS response_id,
         CAST(value AS DOUBLE) AS reward
  FROM events
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY prompt_id
              ORDER BY reward DESC NULLS LAST, response_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY prompt_id) AS n_samples
  FROM s
)
SELECT prompt_id, response_id, reward,
       CAST(n_samples AS BIGINT) AS n_samples
FROM ranked WHERE rn = 1
"""
    assert oracle_check(out, sql)["spark_rows"] > 0


def test_dpo_pairs_driver_shape_duckdb_replay(spark, oracle_check):
    """DPO pair construction at the future query shape: per user the
    highest-value event (chosen) against the lowest (rejected), kept
    only when the reward gap exceeds the margin — 6dp gap, NULL
    rewards excluded up front, single-response prompts pair with
    themselves and drop."""
    from healthcare_dbt_datamart_spark.llmops.preferences import dpo_pairs

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        F.col("user_id").alias("prompt_id"),
        F.col("event_id").alias("response_id"),
        F.col("value").cast("double").alias("reward"),
    )
    out = dpo_pairs(ev, min_margin=0.5)

    sql = """
WITH s AS (
  SELECT user_id AS prompt_id, event_id AS response_id,
         CAST(value AS DOUBLE) AS reward
  FROM events
  WHERE value IS NOT NULL
),
ranked AS (
  SELECT prompt_id AS prompt, response_id AS resp, reward AS r,
    row_number() OVER (PARTITION BY prompt_id
      ORDER BY reward DESC, response_id ASC) AS best,
    row_number() OVER (PARTITION BY prompt_id
      ORDER BY reward ASC, response_id ASC) AS worst
  FROM s
),
b AS (SELECT prompt, resp AS chosen, r AS reward_chosen
      FROM ranked WHERE best = 1),
w AS (SELECT prompt, resp AS rejected, r AS reward_rejected
      FROM ranked WHERE worst = 1)
SELECT prompt AS prompt_id, chosen, rejected,
       reward_chosen, reward_rejected,
       round(reward_chosen - reward_rejected, 6) AS reward_gap
FROM b JOIN w USING (prompt)
WHERE chosen != rejected
  AND round(reward_chosen - reward_rejected, 6) > 0.5
"""
    assert oracle_check(out, sql)["spark_rows"] > 0
    rows = out.collect()
    assert all(r.reward_gap > 0.5 for r in rows)


def test_sparse_logreg_driver_shape_duckdb_replay(spark, oracle_check):
    """The fastText-shape classifier trainer at the future query shape:
    sparse logistic regression over hashed unigram+bigram features
    (labels = lang == 'en'), 3 quantized joint rounds — margins are
    exact integers, the sigmoid quantizes once per id per round (the
    driver-green logreg_quality discipline), per-feature gradients are
    associative integer sums, and the intercept is one scalar CTE per
    round. Returns the weight table with the intercept as the feat=-1
    row; the oracle unrolls the whole loop."""
    from healthcare_dbt_datamart_spark.llmops.textstats import (
        hashed_ngram_features,
        sparse_logreg_train,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    feats = hashed_ngram_features(docs, "text", "doc_id", n_buckets=2**18)
    labels = docs.select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("y")
    )
    model = sparse_logreg_train(feats, labels, n_iter=3)
    out = model["weights"].unionByName(
        spark.createDataFrame(
            [(-1, int(model["intercept_fp"]))], "feat bigint, w_fp bigint"
        )
    )

    lr, scale = 0.5, 10**6
    sql = r"""
WITH toks AS (
  SELECT doc_id AS id,
         string_split_regex(lower(trim(text)), '\s+') AS w
  FROM documents
),
grams AS (
  SELECT id, unnest(list_filter(w, x -> x != '')) AS g FROM toks
  UNION ALL
  SELECT id, g FROM (
    SELECT id, unnest([w[i] || ' ' || w[i+1]
      for i in range(1, greatest(len(w) - 1, 0) + 1)]) AS g
    FROM toks
  ) WHERE NOT regexp_matches(g, '(^ )|( $)|(^$)')
),
f3 AS MATERIALIZED (
  SELECT id, CAST(('0x' || substr(md5(g), 1, 5))::BIGINT % 262144
           AS BIGINT) AS feat,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM grams GROUP BY 1, 2
),
lab AS MATERIALIZED (
  SELECT doc_id AS id, CAST(lang = 'en' AS INT) AS y FROM documents
),
nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lab),
w0 AS MATERIALIZED (
  SELECT DISTINCT feat, CAST(0 AS BIGINT) AS w_fp FROM f3
),
b0 AS (SELECT CAST(0 AS BIGINT) AS b)"""
    for r in range(3):
        sql += f""",
z{r} AS MATERIALIZED (
  SELECT id, CAST(SUM(w_fp * v) AS BIGINT) AS z_fp
  FROM f3 JOIN w{r} USING (feat) GROUP BY id
),
err{r} AS MATERIALIZED (
  SELECT lab.id,
    CAST(floor((1.0 / (1.0 + exp(-((b0x.b + COALESCE(z_fp, 0))
      / {scale}.0))) - y) * {scale} + 0.5) AS BIGINT) AS q
  FROM lab LEFT JOIN z{r} ON z{r}.id = lab.id
  CROSS JOIN (SELECT b FROM b{r}) b0x
),
g{r} AS MATERIALIZED (
  SELECT feat, CAST(SUM(q * v) AS BIGINT) AS G
  FROM f3 JOIN err{r} USING (id) GROUP BY feat
),
w{r + 1} AS MATERIALIZED (
  SELECT w{r}.feat,
    CAST(floor((w_fp / {scale}.0 - {lr!r}
      * (COALESCE(G, 0) / (nr.n * CAST({scale} AS BIGINT))
         + 0.0 * (w_fp / {scale}.0))) * {scale} + 0.5) AS BIGINT) AS w_fp
  FROM w{r} LEFT JOIN g{r} USING (feat) CROSS JOIN nr
),
b{r + 1} AS (
  SELECT CAST(floor((b{r}.b / {scale}.0 - {lr!r}
    * ((SELECT SUM(q) FROM err{r}) / (nr.n * CAST({scale} AS BIGINT))))
    * {scale} + 0.5) AS BIGINT) AS b
  FROM b{r}, nr
)"""
    sql += """
SELECT feat, w_fp FROM w3
UNION ALL
SELECT CAST(-1 AS BIGINT), b FROM b3
"""
    assert oracle_check(out, sql)["spark_rows"] > 0
    # the trained model is non-trivial: weights moved off zero
    assert out.filter("w_fp != 0").count() > 0


def test_matryoshka_truncate_driver_shape_duckdb_replay(spark, oracle_check):
    """MRL prefix truncation at the future query shape: keep the first
    16 of 64 dims and L2-renormalize — per-row left-fold norm (the
    oracle's list_reduce matches Spark's F.aggregate element order
    exactly), 6dp-rounded output vectors."""
    from healthcare_dbt_datamart_spark.llmops.similarity import (
        matryoshka_truncate,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = matryoshka_truncate(emb, "embedding", d_out=16)

    sql = """
SELECT vec_id,
  list_transform(sliced,
    x -> round(CAST(x AS DOUBLE) / greatest(nrm, 1e-12), 6)) AS embedding,
  label
FROM (
  SELECT vec_id, label, sliced,
    sqrt(list_reduce(
      list_transform(sliced, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      (a, b) -> a + b)) AS nrm
  FROM (SELECT vec_id, label, embedding[1:16] AS sliced FROM embeddings)
)
"""
    assert oracle_check(out, sql)["spark_rows"] > 0
    # unit geometry: renormalized prefixes have ~unit L2 norm
    row = out.filter("embedding is not null").first()
    assert abs(sum(x * x for x in row.embedding) - 1.0) < 1e-4


def test_mmr_rerank_driver_shape_duckdb_replay(spark, oracle_check):
    """MMR re-ranking at the future query shape: diversify the proven
    cosine top-10 pool down to k=5 at lambda=0.5 — the greedy rounds
    unroll as selection CTEs, and every float matches bit-for-bit
    because the SQL dot/norm folds run in the same element order as
    the driver's sequential sums (list_reduce over index order), the
    relevance column is the already-6dp-rounded cosine, and
    multiplication/division/sqrt are IEEE-correctly-rounded on both
    engines. (The earlier 'not hash-gateable' note was too
    pessimistic — THIS test is the evidence.)"""
    from healthcare_dbt_datamart_spark.llmops.similarity import mmr_rerank
    from healthcare_dbt_datamart_spark.models.testdata_queries import ORACLE

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = mmr_rerank(emb, 0, k=5, pool=10, lam=0.5)

    fold = (
        "list_reduce(list_transform(generate_series(1, len({a})),"
        " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)),"
        " (x, y) -> x + y)"
    )
    sql = f"""
WITH ct AS ({ORACLE["cosine_topk"]}),
pool AS MATERIALIZED (
  SELECT ct.vec_id AS id, ct.cosine AS rel, e.embedding AS v
  FROM ct JOIN embeddings e USING (vec_id)
),
nrm AS MATERIALIZED (
  SELECT id, sqrt({fold.format(a="v", b="v")}) AS n FROM pool
),
sims AS MATERIALIZED (
  SELECT a.id AS ia, b.id AS ib,
    CASE WHEN na.n > 0 AND nb.n > 0
         THEN {fold.format(a="a.v", b="b.v")} / (na.n * nb.n)
         ELSE 0.0 END AS s
  FROM pool a JOIN pool b ON a.id != b.id
  JOIN nrm na ON na.id = a.id JOIN nrm nb ON nb.id = b.id
),
sel1 AS MATERIALIZED (
  SELECT id, rel, 0.0 AS red, 0.5 * rel - 0.5 * 0.0 AS score
  FROM pool ORDER BY (0.5 * rel - 0.5 * 0.0) DESC, id ASC LIMIT 1
)"""
    for r in range(2, 6):
        prev_union = " UNION ALL ".join(
            f"SELECT id FROM sel{p}" for p in range(1, r)
        )
        sql += f""",
sel{r} AS MATERIALIZED (
  SELECT p.id, p.rel, red.red,
         0.5 * p.rel - 0.5 * red.red AS score
  FROM pool p
  JOIN (SELECT ia AS id, MAX(s) AS red FROM sims
        WHERE ib IN ({prev_union}) GROUP BY ia) red USING (id)
  WHERE p.id NOT IN ({prev_union})
  ORDER BY score DESC, p.id ASC LIMIT 1
)"""
    sql += """
SELECT CAST(id AS BIGINT) AS vec_id, CAST(rnk AS INT) AS mmr_rank,
       round(rel, 6) AS relevance, round(red, 6) AS redundancy,
       round(score, 6) AS mmr_score
FROM (
""" + "\n  UNION ALL\n".join(
        f"  SELECT id, {r} AS rnk, rel, red, score FROM sel{r}"
        for r in range(1, 6)
    ) + """
)
"""
    assert oracle_check(out, sql)["spark_rows"] > 0
    # diversification is real: later picks carry nonzero redundancy
    rows = {r.mmr_rank: r for r in out.collect()}
    assert rows[1].redundancy == 0.0
    assert any(rows[r].redundancy > 0 for r in range(2, 6))
