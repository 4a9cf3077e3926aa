"""Measured scaling curve for SCALE.md: run representative heavy queries
at sf0.1 and on a 10x replica, and report wall-clock ratios.

The replica is DERIVED from the driver's sf0.1 parquet (never synthesized
semantics): each table unions 10 copies with deterministic id offsets,
and text/embedding payloads get a tiny per-copy perturbation (a copy-tag
token / a +copy*1e-4 on one dimension) so duplicate rates and hash
distributions stay comparable instead of collapsing into 10x exact dups
— the workload SHAPE is preserved, only the volume grows.

A linear-ish ratio (~10x on 10x rows) is the evidence that an operator's
cost is scan/shuffle-proportional with no super-linear term hiding at
small scale (quadratic pair blowups, driver collects, single-partition
sorts would all show >>10x). Ratios meaningfully BELOW 10x just mean
fixed local-mode job overhead still dominates at sf0.1.

    python tools/scale_curve.py [--copies N] [name ...]

A name is a ``queries()`` key or one of the ``OPS`` below: operators
with no query slot, each run on a fixed input built from the testdata.
Prints one JSON line per name: {query, base_sec, scaled_sec, ratio}.
Replica parquet lives under /tmp (process-unique, removed on exit).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# id-ish columns to offset per copy so keys stay unique across copies —
# joins keep working AND per-key group sizes stay comparable: part and
# supplier replicate with offset keys alongside lineitem's foreign keys,
# so the corpus gains 10x parts/suppliers rather than every part gaining
# 10x-deeper lineitem groups (which would hide a super-linear per-key
# term, the exact class this probe exists to expose). nation/region stay
# un-replicated (bounded dims), so nationkey FKs are NOT offset.
OFFSETS = {
    "customer": {"c_custkey": 10_000_000},
    "supplier": {"s_suppkey": 10_000_000},
    "part": {"p_partkey": 10_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 10_000_000},
    "lineitem": {
        "l_orderkey": 10_000_000,
        "l_partkey": 10_000_000,
        "l_suppkey": 10_000_000,
    },
    "events": {"event_id": 10_000_000, "user_id": 10_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
}

DEFAULT_QUERIES = [
    "substr_coverage", "near_dup_jaccard", "gap_status", "tfidf_top_terms",
    "ccnet_buckets", "bloom_prefilter", "cosine_topk", "pricing_summary",
    "event_funnel", "cluster_keep_best",
    # round-4 additions: span-level removal (text rebuild fold), the
    # one-shuffle claim-grain rollup, the composed trained-quantizer index
    "exact_substr_dedup", "claim_rollups", "ivfadc_topk",
]


def _docs(spark, d):
    return spark.read.parquet(f"{d}/documents.parquet")


def _lineitem(spark, d):
    return spark.read.parquet(f"{d}/lineitem.parquet")


def _scored_lineitem(spark, d):
    return _lineitem(spark, d).select(
        (F.pmod(F.col("l_partkey"), F.lit(97)) / 96.0).alias("score"),
        (F.col("l_orderkey") % 2).cast("int").alias("label"),
    )


def op_retrieval_metrics(spark, d):
    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        retrieval_metrics,
    )

    pool = _lineitem(spark, d).select(
        F.pmod(F.col("l_orderkey"), F.lit(50000)).alias("query"),
        F.col("l_partkey").alias("doc_id"),
        (F.pmod(F.col("l_suppkey"), F.lit(97)) / 96.0).alias("score"),
        F.pmod(F.col("l_partkey"), F.lit(4)).cast("int").alias("rel"),
    )
    return retrieval_metrics(pool, "query", "doc_id", "score", "rel")


def op_calibration_summary(spark, d):
    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        calibration_summary,
    )

    return calibration_summary(_scored_lineitem(spark, d), "score", "label")


def op_bleu_corpus(spark, d):
    from healthcare_dbt_datamart_spark.llmops.evaluation import bleu_corpus

    pairs = _docs(spark, d).select(
        "doc_id",
        F.col("text").alias("cand"),
        F.concat_ws(" ", F.col("text"), F.lit("tail token")).alias("ref"),
    )
    return bleu_corpus(pairs, "cand", "ref", "doc_id")


def op_rouge_l(spark, d):
    from healthcare_dbt_datamart_spark.llmops.evaluation import rouge_l

    pairs = _docs(spark, d).select(
        "doc_id",
        F.col("text").alias("cand"),
        F.reverse(F.col("text")).alias("ref"),
    )
    return rouge_l(pairs, "cand", "ref", "doc_id")


def op_line_dedup(spark, d):
    from healthcare_dbt_datamart_spark.llmops.dedup import line_dedup

    return line_dedup(_docs(spark, d), "text", "doc_id")


def op_hits_fixedpoint(spark, d):
    from healthcare_dbt_datamart_spark.llmops.graph import hits_fixedpoint

    edges = _lineitem(spark, d).select(
        F.pmod(F.col("l_partkey"), F.lit(20000)).alias("src"),
        F.pmod(F.col("l_suppkey"), F.lit(20000)).alias("dst"),
    ).filter("src != dst")
    return hits_fixedpoint(edges, n_iter=2)


def op_pca_train(spark, d):
    from healthcare_dbt_datamart_spark.llmops.similarity import pca_train

    emb = spark.read.parquet(f"{d}/embeddings.parquet")
    return pca_train(emb, "embedding", d_out=4)


def op_curriculum_report(spark, d):
    from healthcare_dbt_datamart_spark.llmops.splits import curriculum_report

    return curriculum_report(
        _docs(spark, d), "n_chars", "doc_id", [500.0, 2000.0]
    )


def op_brier_decomposition(spark, d):
    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        brier_decomposition,
    )

    return brier_decomposition(_scored_lineitem(spark, d), "score", "label")


def op_isotonic_calibration(spark, d):
    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        isotonic_apply,
        isotonic_calibration,
    )

    sc = _scored_lineitem(spark, d)
    blocks = isotonic_calibration(sc, "score", "label")
    return isotonic_apply(sc, "score", blocks)


def op_sparse_logreg(spark, d):
    from healthcare_dbt_datamart_spark.llmops.textstats import (
        hashed_ngram_features,
        sparse_logreg_score,
        sparse_logreg_train,
    )

    docs = _docs(spark, d)
    feats = hashed_ngram_features(docs, "text", "doc_id", n_buckets=2**16)
    labels = docs.select(
        "doc_id", (F.col("n_chars") % 2).cast("int").alias("y")
    )
    model = sparse_logreg_train(feats, labels, n_iter=2, lr=0.5)
    return sparse_logreg_score(feats, model)


def op_bradley_terry_ties(spark, d):
    from healthcare_dbt_datamart_spark.llmops.preferences import (
        bradley_terry_ties,
    )

    # the supplier match log (cheaper unit price wins within an order),
    # with the matches of every seventh order year called ties
    orders = spark.read.parquet(f"{d}/orders.parquet")
    lx = _lineitem(spark, d).select(
        "l_orderkey",
        F.col("l_suppkey").alias("supp"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    a, b = lx.alias("a"), lx.alias("b")
    m = (
        a.join(b, "l_orderkey")
        .filter(
            (F.col("a.supp") != F.col("b.supp"))
            & (
                F.col("a.cents") * F.col("b.qty")
                < F.col("b.cents") * F.col("a.qty")
            )
        )
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("a.supp").alias("side_a"),
            F.col("b.supp").alias("side_b"),
            (F.year("o_orderdate") % 7 == 0).alias("is_tie"),
        )
    )
    return bradley_terry_ties(m, n_iter=2)


def op_procrustes_align(spark, d):
    from healthcare_dbt_datamart_spark.llmops.similarity import (
        procrustes_align,
    )

    emb = spark.read.parquet(f"{d}/embeddings.parquet")
    pairs = emb.select(
        "vec_id",
        F.col("embedding").alias("x"),
        F.reverse(F.col("embedding")).alias("y"),  # a fixed permutation
    )
    return procrustes_align(pairs, "x", "y")


def op_bpe_token_counts(spark, d):
    from healthcare_dbt_datamart_spark.llmops.bpe import (
        bpe_token_counts,
        bpe_train,
    )

    docs = _docs(spark, d)
    merges = bpe_train(docs.limit(200), "text", n_merges=4)
    return bpe_token_counts(docs, "text", "doc_id", merges)


# operators with no queries() slot: name -> (spark, sf_dir) -> the result
# frame, or the fitted model for the trainers, which run at call time
OPS = {
    "retrieval_metrics": op_retrieval_metrics,
    "calibration_summary": op_calibration_summary,
    "bleu_corpus": op_bleu_corpus,
    "rouge_l": op_rouge_l,
    "line_dedup": op_line_dedup,
    "hits_fixedpoint": op_hits_fixedpoint,
    "pca_train": op_pca_train,
    "curriculum_report": op_curriculum_report,
    "brier_decomposition": op_brier_decomposition,
    "isotonic_calibration": op_isotonic_calibration,
    "sparse_logreg": op_sparse_logreg,
    "bradley_terry_ties": op_bradley_terry_ties,
    "procrustes_align": op_procrustes_align,
    "bpe_token_counts": op_bpe_token_counts,
}


def _run(fn, spark, sf_dir: str) -> None:
    out = fn(spark, sf_dir)
    if isinstance(out, DataFrame):
        out.write.format("noop").mode("overwrite").save()


def build_replica(spark, base_dir: str, out_dir: str, copies: int) -> None:
    for t in TABLES:
        src = spark.read.parquet(f"{base_dir}/{t}.parquet")
        if t in OFFSETS:
            parts = []
            for c in range(copies):
                df = src
                for col, step in OFFSETS[t].items():
                    df = df.withColumn(col, F.col(col) + F.lit(c * step))
                if t == "documents":
                    # per-copy tag token keeps exact/near-dup rates at the
                    # base corpus's level instead of 10x-ing every doc
                    df = df.withColumn(
                        "text", F.concat_ws(" ", F.col("text"), F.lit(f"c{c}"))
                    )
                if t == "embeddings":
                    df = df.withColumn(
                        "embedding",
                        F.transform(
                            F.col("embedding"),
                            lambda x, i: x
                            + F.when(i == 0, F.lit(c * 1e-4)).otherwise(F.lit(0.0)),
                        ),
                    )
                parts.append(df)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        else:
            out = src  # dims without id use: same content at any scale
        out.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")


def main() -> None:
    args = sys.argv[1:]
    copies = 10
    if "--copies" in args:
        i = args.index("--copies")
        copies = int(args[i + 1])
        del args[i : i + 2]
    names = args or DEFAULT_QUERIES

    import __spark_entry__ as e
    from healthcare_dbt_datamart_spark.session import get_spark

    spark = get_spark("scale-curve")
    spark.sparkContext.setLogLevel("ERROR")
    base = "/root/testdata/sf0.1"
    out_dir = tempfile.mkdtemp(prefix="spark-graft-scale-")
    try:
        t0 = time.perf_counter()
        build_replica(spark, base, out_dir, copies)
        print(f"# replica x{copies} built in {time.perf_counter() - t0:.1f}s "
              f"at {out_dir}", file=sys.stderr)
        table = {**e.queries(), **OPS}
        for name in names:
            fn = table[name]
            # warm codegen on the base dir, then time base and replica
            _run(fn, spark, base)
            t0 = time.perf_counter()
            _run(fn, spark, base)
            t_base = time.perf_counter() - t0
            t0 = time.perf_counter()
            _run(fn, spark, out_dir)
            t_scaled = time.perf_counter() - t0
            print(json.dumps({
                "query": name,
                "base_sec": round(t_base, 2),
                "scaled_sec": round(t_scaled, 2),
                "ratio": round(t_scaled / t_base, 1) if t_base > 0 else None,
            }))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
