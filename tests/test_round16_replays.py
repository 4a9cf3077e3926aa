"""Driver-shape DuckDB replays of the operators that have no ``QUERIES``
slot: the tie-aware Bradley-Terry fit, hashed n-gram features, the
curriculum phases and report, and trained-merge BPE token counts. Each
compares through the shared comparator (the ``oracle_check`` fixture).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from refs import SF_DIR

pytestmark = pytest.mark.battery


def test_bradley_terry_ties_driver_shape_duckdb_replay(spark, oracle_check):
    """Rao-Kupper BT at the future query shape: within-order supplier
    comparisons where a unit-price gap within 5% is a TIE (exact
    BIGINT cross-multiplied rule — the data carries no exact price
    ties, so the margin rule is what makes ties a real population:
    275 tie rows at sf0.001), the cheaper side wins otherwise.
    3 MM rounds at theta = 3/2, unrolled as MATERIALIZED CTEs with
    the per-direction theta split (the leaderboard_gate BT oracle
    discipline)."""
    from healthcare_dbt_datamart_spark.llmops.preferences import (
        bradley_terry_ties,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    lx = li.select(
        "l_orderkey",
        F.col("l_suppkey").alias("supp"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    a, b = lx.alias("a"), lx.alias("b")
    d = F.col("a.cents") * F.col("b.qty") - F.col("b.cents") * F.col("a.qty")
    tie = F.abs(d) * 20 <= F.col("b.cents") * F.col("a.qty")
    rows = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.supp") < F.col("b.supp"))
        .select(
            F.when(tie | (d < 0), F.col("a.supp"))
            .otherwise(F.col("b.supp"))
            .alias("side_a"),
            F.when(tie | (d < 0), F.col("b.supp"))
            .otherwise(F.col("a.supp"))
            .alias("side_b"),
            tie.alias("is_tie"),
        )
    )
    out = bradley_terry_ties(rows, n_iter=3, theta=(3, 2))

    s2, tn, td = 10**12, 3, 2
    sql = """
WITH lx AS MATERIALIZED (
  SELECT l_orderkey, l_suppkey AS supp,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
),
o AS MATERIALIZED (
  SELECT CASE WHEN tie OR d < 0 THEN sa ELSE sb END AS a,
         CASE WHEN tie OR d < 0 THEN sb ELSE sa END AS b,
         tie AS t
  FROM (
    SELECT CAST(x.supp AS VARCHAR) AS sa, CAST(y.supp AS VARCHAR) AS sb,
           x.cents * y.qty - y.cents * x.qty AS d,
           abs(x.cents * y.qty - y.cents * x.qty) * 20
             <= y.cents * x.qty AS tie
    FROM lx x JOIN lx y USING (l_orderkey)
    WHERE x.supp < y.supp
  )
),
w AS MATERIALIZED (
  SELECT a AS i, b AS j, CAST(2 * COUNT(*) + 1 AS BIGINT) AS w2
  FROM o WHERE NOT t GROUP BY 1, 2
),
tsym AS MATERIALIZED (
  SELECT i, j, CAST(2 * COUNT(*) AS BIGINT) AS t2 FROM (
    SELECT a AS i, b AS j FROM o WHERE t
    UNION ALL SELECT b, a FROM o WHERE t
  ) GROUP BY 1, 2
),
obs AS (
  SELECT i, j FROM w UNION SELECT j, i FROM w UNION SELECT i, j FROM tsym
),
pairs AS MATERIALIZED (
  SELECT obs.i, obs.j,
         COALESCE(w.w2, 1) AS w2_f,
         COALESCE(wr.w2, 1) AS w2_r,
         COALESCE(tsym.t2, 0) AS t2
  FROM obs
  LEFT JOIN w ON w.i = obs.i AND w.j = obs.j
  LEFT JOIN w wr ON wr.i = obs.j AND wr.j = obs.i
  LEFT JOIN tsym ON tsym.i = obs.i AND tsym.j = obs.j
),
tot AS MATERIALIZED (
  SELECT i, CAST(SUM(w2_f + t2) AS BIGINT) AS A,
         CAST(SUM(w2_f) AS BIGINT) AS wins2,
         CAST(SUM(t2) AS BIGINT) AS ties2,
         CAST(SUM(w2_f + w2_r + t2) AS BIGINT) AS comparisons2
  FROM pairs GROUP BY 1
),
bt0 AS MATERIALIZED (
  SELECT i AS id, CAST(1000000 AS BIGINT) AS p FROM tot
)"""
    for r in range(3):
        sql += f""",
btd{r} AS MATERIALIZED (
  SELECT pairs.i,
         CAST(SUM(
           ((w2_f + t2) * CAST({s2} AS BIGINT) * {td})
             // ({td} * ri.p + {tn} * rj.p)
           + ((w2_r + t2) * CAST({s2} AS BIGINT) * {tn})
             // ({td} * rj.p + {tn} * ri.p)
         ) AS BIGINT) AS B
  FROM pairs JOIN bt{r} ri ON ri.id = pairs.i
             JOIN bt{r} rj ON rj.id = pairs.j
  GROUP BY 1
),
bt{r + 1} AS MATERIALIZED (
  SELECT btd{r}.i AS id,
         CAST((A * CAST({s2} AS BIGINT)) // B AS BIGINT) AS p
  FROM btd{r} JOIN tot ON tot.i = btd{r}.i
)"""
    sql += """
SELECT tot.i AS item, wins2, ties2, comparisons2, bt3.p AS rating_fp
FROM bt3 JOIN tot ON tot.i = bt3.id
"""
    assert oracle_check(out, sql)["spark_rows"] > 0
    # the tie population is real at this SF and theta > 1 weighs it
    rows_out = out.collect()
    assert sum(r.ties2 for r in rows_out) > 0


def test_hashed_ngram_features_driver_shape_duckdb_replay(spark, oracle_check):
    """The fastText input layer at the future query shape: word
    unigrams + bigrams hashed into 2^18 buckets over the documents
    corpus — (id, feat, v) sparse triples, feat a deterministic
    md5-prefix bucket (5 hex digits mod n_buckets), v an exact BIGINT
    term frequency."""
    from healthcare_dbt_datamart_spark.llmops.textstats import (
        hashed_ngram_features,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = hashed_ngram_features(docs, "text", "doc_id", n_buckets=2**18)

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
)
SELECT id, CAST(('0x' || substr(md5(g), 1, 5))::BIGINT % 262144 AS BIGINT)
         AS feat,
       CAST(COUNT(*) AS BIGINT) AS v
FROM grams GROUP BY 1, 2
"""
    assert oracle_check(out, sql)["spark_rows"] > 0


def test_curriculum_report_driver_shape_duckdb_replay(spark, oracle_check):
    """Curriculum scheduling audit at the future query shape: documents
    phased by n_chars against ascending thresholds [200, 350] — per
    phase, row counts + the observed difficulty envelope next to the
    declared bounds; the oracle recomputes the first-threshold phase
    rule in SQL."""
    from healthcare_dbt_datamart_spark.llmops.splits import (
        curriculum_report,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.col("n_chars").cast("double").alias("difficulty")
    )
    out = curriculum_report(
        docs, "difficulty", "doc_id", thresholds=[200.0, 350.0]
    )

    sql = """
WITH staged AS (
  SELECT CAST(n_chars AS DOUBLE) AS d,
    CASE WHEN CAST(n_chars AS DOUBLE) <= 200.0 THEN 0
         WHEN CAST(n_chars AS DOUBLE) <= 350.0 THEN 1
         ELSE 2 END AS phase
  FROM documents
)
SELECT CAST(phase AS INT) AS phase,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(d) AS d_min, MAX(d) AS d_max,
       CASE WHEN phase = 1 THEN 200.0 WHEN phase = 2 THEN 350.0 END
         AS bound_lo,
       CASE WHEN phase = 0 THEN 200.0 WHEN phase = 1 THEN 350.0 END
         AS bound_hi
FROM staged GROUP BY phase
"""
    assert oracle_check(out, sql)["spark_rows"] > 0
    # the thresholds genuinely split the corpus into 3 phases
    assert {r.phase for r in out.collect()} == {0, 1, 2}


def test_curriculum_phases_key_matches_sql_hash(spark, oracle_check):
    """The per-row shuffle key is the engine-independent md5-prefix
    integer (seed:id, 15 hex digits) — full projection replay so the
    phase rule AND the key replay bit-for-bit."""
    from healthcare_dbt_datamart_spark.llmops.splits import (
        curriculum_phases,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.col("n_chars").cast("double").alias("difficulty")
    )
    out = curriculum_phases(
        docs, "difficulty", "doc_id", thresholds=[200.0, 350.0]
    ).select("doc_id", "phase", "curriculum_key")

    sql = """
SELECT doc_id,
  CAST(CASE WHEN CAST(n_chars AS DOUBLE) <= 200.0 THEN 0
            WHEN CAST(n_chars AS DOUBLE) <= 350.0 THEN 1
            ELSE 2 END AS INT) AS phase,
  ('0x' || substr(md5('cur1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
    AS curriculum_key
FROM documents
"""
    assert oracle_check(out, sql)["spark_rows"] > 0


def test_bpe_token_counts_driver_shape_duckdb_replay(spark, oracle_check):
    """Trained-merge BPE token budgets at the future query shape: 3
    merges trained on the corpus (driver model state, the bpe_merges
    construction), then per-document exact piece counts — the oracle
    TRAINS the same 3 merges in SQL (the _bpe_ctes unroll) and applies
    them as data-dependent three-replace chains over the distinct-word
    table, so the whole train+encode loop is one statement."""
    from healthcare_dbt_datamart_spark.llmops.bpe import (
        bpe_token_counts,
        bpe_train,
    )
    from healthcare_dbt_datamart_spark.models.testdata_queries import (
        _bpe_ctes,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    merges = bpe_train(docs, "text", n_merges=3)
    assert len(merges) == 3
    out = bpe_token_counts(docs, "text", "doc_id", merges)

    enc = []
    for k in range(3):
        prev = "enc0" if k == 0 else f"enc{k}"
        enc.append(f"""enc{k + 1} AS (
  SELECT w, replace(replace(replace({prev}.syms, ' ', '  '),
                 ' ' || b{k}.l || '  ' || b{k}.r || ' ',
                 ' ' || b{k}.l || b{k}.r || ' '),
                 '  ', ' ') AS syms
  FROM {prev}, b{k}
)""")
    sql = (
        "WITH "
        + _bpe_ctes(3)
        + r""",
toks AS (
  SELECT doc_id AS id, w FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
    FROM documents)
  WHERE w <> ''
),
enc0 AS (
  SELECT w, ' ' || array_to_string(
           list_transform(generate_series(1, length(w)),
                          i -> substr(w, i, 1)), ' ') || ' ' AS syms
  FROM (SELECT DISTINCT w FROM toks)
),
"""
        + ",\n".join(enc)
        + """,
pieces AS (
  SELECT w, len(string_split(trim(syms), ' ')) AS n_pieces FROM enc3
),
counts AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(n_pieces) AS BIGINT) AS n_tokens
  FROM toks JOIN pieces USING (w) GROUP BY id
)
SELECT d.doc_id AS id,
       COALESCE(c.n_words, 0) AS n_words,
       COALESCE(c.n_tokens, 0) AS n_tokens
FROM documents d LEFT JOIN counts c ON c.id = d.doc_id
"""
    )
    assert oracle_check(out, sql)["spark_rows"] > 0
    # the merges genuinely compress: total pieces < total characters
    tot = out.agg(F.sum("n_tokens")).collect()[0][0]
    chars = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            F.aggregate(
                F.transform(
                    F.filter(
                        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                        lambda w: w != "",
                    ),
                    lambda w: F.length(w),
                ),
                F.lit(0),
                lambda a, x: a + x,
            ).alias("c")
        )
        .agg(F.sum("c"))
        .collect()[0][0]
    )
    assert tot < chars
