"""Per-source corpus DATA CARD — the one-table profile a training-data
release ships next to the corpus (what HuggingFace dataset cards and
Dolma-style release notes tabulate per source): volume, token budget,
exact-duplication rate, language mix, and model-based quality, all from
the engine's own operators.

Reference framing: this is the release-documentation analogue of the
reference's schema-test summary (a datamart ships its test results as
data; a corpus ships its per-source profile as data).

Exactness discipline: every reported number derives from associative
integer sums — token counts are BIGINTs, the duplicate count is
Σ(copies − 1) over in-source fingerprint groups, the quality mean sums
6dp-quantized classifier scores as BIGINTs before ONE division — so the
card is bit-identical on any layout (a plain float mean would be
merge-order-sensitive and unfit for hash gating).

Scale shape: four partial-agg passes over the corpus (base stats,
fingerprint groups, language cells, classifier scores joined back on
the id key) converging on the BOUNDED source dimension, then three
broadcast-sized joins on the source key. Nothing is collected; the
majority-language pick is a window over (source, lang) cells, never
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..llmops.text import words
from ..llmops.textstats import quality_classifier


def source_data_card(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """One row per source: ``(source, n_docs, n_exact_dup_docs,
    dup_rate, total_tokens, mean_tokens, majority_lang, n_langs,
    mean_quality, keep_rate)`` — 6dp ratios, ordered by source.

    ``n_exact_dup_docs`` counts copies beyond the first of each
    in-source md5 fingerprint (the ``exact_dedup_fingerprints``
    semantics, scoped per source); ``mean_quality`` / ``keep_rate``
    come from the ``quality_classifier`` gate. NULL text is treated as
    the empty document EVERYWHERE (token count 0, the empty-string
    fingerprint, the classifier's deterministic empty-doc score), so
    every per-source population equals ``n_docs`` — no column can
    silently cover a different denominator than its neighbors.
    """
    df = df.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    toks = F.size(
        F.filter(
            words(F.coalesce(F.col(text_col), F.lit(""))),
            lambda w: w != "",
        )
    )
    base = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).cast("bigint").alias("total_tokens"),
    )
    dups = (
        df.groupBy(
            F.col(source_col).alias("source"),
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("fp"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg((F.sum("c") - F.count(F.lit(1))).alias("n_exact_dup_docs"))
    )
    lang_cells = df.groupBy(
        F.col(source_col).alias("source"), F.col(lang_col).alias("lang")
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("lang").asc()
    )
    langs = (
        lang_cells.withColumn("rn", F.row_number().over(w))
        .groupBy("source")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("lang"))).alias(
                "majority_lang"
            ),
            F.count(F.lit(1)).cast("int").alias("n_langs"),
        )
    )
    scored = quality_classifier(df, text_col, id_col).select(
        F.col(id_col).alias("_id"),
        F.expr("cast(floor(score * 1000000 + 0.5d) as bigint)").alias("sq"),
        F.col("keep").cast("bigint").alias("kp"),
    )
    qual = (
        df.select(
            F.col(id_col).alias("_id"), F.col(source_col).alias("source")
        )
        .join(scored, "_id")
        .groupBy("source")
        .agg(
            F.sum("sq").alias("sq_sum"),
            F.sum("kp").alias("kp_sum"),
            F.count(F.lit(1)).alias("nq"),
        )
    )
    return (
        base.join(dups, "source")
        .join(langs, "source")
        .join(qual, "source")
        .select(
            F.col("source").alias(source_col),
            F.col("n_docs").cast("bigint"),
            F.col("n_exact_dup_docs").cast("bigint"),
            F.round(
                F.col("n_exact_dup_docs").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_rate"),
            "total_tokens",
            F.round(
                F.col("total_tokens").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("mean_tokens"),
            "majority_lang",
            "n_langs",
            F.round(
                F.col("sq_sum").cast("double")
                / (F.col("nq") * F.lit(10**6)).cast("double"),
                6,
            ).alias("mean_quality"),
            F.round(
                F.col("kp_sum").cast("double") / F.col("nq").cast("double"),
                6,
            ).alias("keep_rate"),
        )
        .orderBy(source_col)
    )
