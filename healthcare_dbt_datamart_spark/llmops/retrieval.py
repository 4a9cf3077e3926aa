"""Lexical retrieval over the documents table: BM25 keyword ranking.

The lexical half of a retrieval stack (the vector half lives in
``similarity.py``): Okapi BM25 (Robertson & Walker, SIGIR 1994; the
Lucene-default ranking function) scored entirely with built-in Catalyst
expressions — tokenize, posting-filter, aggregate, join — no Python
anywhere.

Scale shape: the query-term ``isin`` filter lands on the EXPLODED token
stream BEFORE any shuffle, so the only rows that ever move are the
postings of the |q| query terms (for a 3-term query over 100 TB of text
that is a few-GB shuffle, not a corpus-wide one). Document length rides
through the explode as a grouping key — one int per MATCHED posting —
so there is NO doc_id join anywhere (the naive tf⋈dl shape either
broadcasts an N-doc build side, which breaks at corpus scale, or pays
a second corpus-wide shuffle). The corpus constants (N, avgdl) are a
1-row broadcast and the per-term df a |q|-row broadcast, so the scoring
join is map-side end to end and the final top-k is
TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast

from .text import words


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 15,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents by BM25 score for a bag of query ``terms``.

    idf uses the +1-inside-the-log form (``ln(1 + (N - df + 0.5) /
    (df + 0.5))``, Lucene's non-negative variant) so stopword-frequent
    terms degrade to ~0 instead of going negative. Deterministic output:
    score rounded to 6dp, ties broken by ascending id; matched terms
    come back as a sorted comma-joined STRING (hash-stable across
    fetch layers, unlike an array column). Returns
    (id, matched_terms, score).
    """
    qterms = sorted(set(t.lower() for t in terms))
    toks = docs.select(
        F.col(id_col),
        words(text_col).alias("_w"),
    )
    # corpus constants: ONE row, broadcast into the scoring join;
    # doc length is a size() projection — no explode, no shuffle
    stats = toks.select(F.size("_w").alias("_dl")).agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.avg("_dl").alias("_avgdl"),
    )
    # postings of the query terms ONLY — the isin filter runs on the
    # exploded stream before the groupBy, so non-matching tokens never
    # shuffle. The doc length RIDES THROUGH the explode as a grouping
    # key (it is functionally dependent on the id): one extra int per
    # MATCHED posting buys the complete absence of a doc_id join — the
    # naive tf-join-dl shape either broadcasts an N-doc build side
    # (breaks at corpus scale) or pays a second corpus-wide shuffle
    tf = (
        toks.select(
            F.col(id_col),
            F.size("_w").alias("_dl"),
            F.explode("_w").alias("term"),
        )
        .filter(F.col("term").isin(qterms))
        .groupBy(id_col, "_dl", "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    # per-term document frequency: |q| rows, broadcast
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("_n_docs") - F.col("_df") + F.lit(0.5))
        / (F.col("_df") + F.lit(0.5))
    )
    tf_norm = (F.col("_tf") * (k1 + 1)) / (
        F.col("_tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl"))
    )
    return (
        tf.join(broadcast(df_t), "term")
        .crossJoin(broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("term"))).alias(
                "matched_terms"
            ),
            F.round(F.sum(idf * tf_norm), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def rrf_fuse(
    rankings: DataFrame,
    system_col: str = "system",
    id_col: str = "id",
    rank_col: str = "rank",
    k0: int = 60,
    scale: int = 10**9,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    — combine rankings from heterogeneous retrievers (BM25 lexical,
    ANN vector, recency, ...) without score calibration:

        rrf(d) = Σ_systems 1 / (k0 + rank_system(d))

    the standard hybrid-search merge (k0 = 60, the paper's constant,
    dominates every learned fusion it was tested against). A document
    missing from a system's list simply contributes nothing — no
    NULL/default-rank imputation.

    Exactness discipline: each term quantizes ONCE to BIGINT
    ``scale``-units (``scale div (k0 + rank)`` — pure integer
    division, not even a float in sight) and the fusion is an
    associative integer SUM — bit-identical under any partitioning,
    replayable in DuckDB verbatim. The fused ``rrf_fp`` is that exact
    integer; ``rrf`` is the single 6dp float division at print.

    Scale shape: one partial-agg groupBy on the id — per-system lists
    are top-k slices (bounded), so this is leaderboard-sized work; at
    corpus scale it is one shuffle of |systems|·k skinny rows.

    Raises on NULL ids/ranks or non-positive ranks, and on duplicate
    (system, id) pairs — a doc ranked twice by one system would double
    its vote. Returns ``(id, n_systems, best_rank, rrf_fp, rrf)``
    ordered nowhere (callers sort); ranks within the fused board come
    from (rrf_fp DESC, id ASC)."""
    if int(k0) < 0:
        raise ValueError(f"k0 must be >= 0: got {k0!r}")
    scale = int(scale)
    r = rankings.select(
        F.col(system_col).cast("string").alias("sys"),
        F.col(id_col).alias("id"),
        F.col(rank_col).cast("bigint").alias("rnk"),
    )
    bad = r.agg(
        F.sum(
            (
                F.col("sys").isNull()
                | F.col("id").isNull()
                | F.col("rnk").isNull()
                | (F.col("rnk") < 1)
            ).cast("bigint")
        ).alias("nb"),
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("sys"), F.col("id")).alias("nd"),
    ).collect()[0]
    if int(bad.nb or 0) > 0:
        raise ValueError(
            f"rrf_fuse: {bad.nb} rows have a NULL system/id/rank or"
            " rank < 1 — feed 1-based per-system rankings"
        )
    if int(bad.n or 0) != int(bad.nd or 0):
        raise ValueError(
            f"rrf_fuse: {int(bad.n) - int(bad.nd)} duplicate (system, id)"
            " pairs — a doc ranked twice by one system double-counts"
        )
    term = F.expr(f"{scale} div (rnk + {int(k0)})")
    return (
        r.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_systems"),
            F.min("rnk").cast("bigint").alias("best_rank"),
            F.sum(term).cast("bigint").alias("rrf_fp"),
        )
        .withColumn(
            "rrf", F.round(F.col("rrf_fp").cast("double") / F.lit(float(scale)), 6)
        )
    )
