"""The ANN-index release pipeline assembled on the engine runtime — the
embedding capstone beside ``corpus_release``'s text one.

A serving index is a RELEASE ARTIFACT exactly like a curated corpus:
trained model state + encoded payload + a manifest, rebuilt on a
schedule, consumed by systems that never see the raw vectors. The same
registry that runs the datamart runs this:

  stg_vectors       stage view: typed projection of the embedding feed
  index_quantizers  TABLE — the trained model state AS A RELATION
                    (``save_ann_model``'s (kind, grp, cid, cvec) shape):
                    coarse centroids + per-subspace PQ codebooks, Lloyd-
                    trained once per release; a fresh session reads this
                    table and can probe/decode the codes without any
                    Python state (llmops/similarity.py::load_ann_model)
  index_codes       TABLE PARTITIONED BY (cell) — the serving codes in
                    ``build_ivfpq_index``'s layout, declared through the
                    registry's dbt-style ``partition_by`` config, so
                    probes are partition prunes and ``ivfpq_index_upsert``
                    maintains it incrementally between releases
  index_manifest    per-cell release stats: population and code width —
                    the index data card (cell-balance check before the
                    release is accepted)

Scale: training collects only k·d + m·k·(d/m) model floats (the
_lloyd_fit carve-out); the encode is one map-only pass against the
broadcast quantizers; the manifest is one partial-agg groupBy over the
codes table. The DAG's lineage/retry/test machinery is the registry's —
nothing here is new execution machinery.

``build_index_scorecard`` below is the QUALITY gate beside this
ARTIFACT pipeline: an index build is only releasable when its serving
quality is GRADED against the exact oracle — the test-harness
fail-as-data pattern (reference analog: ``dbt-adapters/macros/
materializations/tests/helpers.sql:7-16`` — a gate is a query whose
rows ARE the verdict), the way ``corpus_release`` gates the data
funnel on dedup/quality/decontamination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import ModelRegistry
from ..session import local_frame, truncate_lineage

N_CELLS = 8
PQ_M = 8
PQ_CODES = 16
LLOYD_ROUNDS = 2


def quantizers_from_relation(
    df: DataFrame,
) -> tuple[
    list[tuple[int, list[float]]], list[list[tuple[int, list[float]]]]
]:
    """Rebuild the (centroids, codebooks) python lists from the
    ``index_quantizers`` relation — ``load_ann_model``'s logic given a
    DataFrame instead of a table name (registry models hand refs, not
    catalog names). Bounded model-state collect."""
    rows = df.orderBy("kind", "grp", "cid").collect()
    centroids = [
        (int(r.cid), [float(x) for x in r.cvec])
        for r in rows
        if r.kind == "coarse"
    ]
    books: dict[int, list[tuple[int, list[float]]]] = {}
    for r in rows:
        if r.kind == "pq":
            books.setdefault(int(r.grp), []).append(
                (int(r.cid), [float(x) for x in r.cvec])
            )
    return centroids, [books[s] for s in sorted(books)]


def build_index_release(
    spark: SparkSession, raw_embeddings: DataFrame
) -> ModelRegistry:
    r = ModelRegistry(spark)
    r.add_source("raw_embeddings", raw_embeddings)

    @r.model()
    def stg_vectors(ctx):
        return ctx.source("raw_embeddings").select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("embedding"),
        )

    @r.model(materialized="table")
    def index_quantizers(ctx):
        # TABLE: training is the expensive, once-per-release step; every
        # downstream consumer (encode, probe, NEXT session's upsert)
        # reads the persisted state instead of re-fitting
        from ..llmops.similarity import kmeans_lloyd, pq_codebooks_trained

        vecs = ctx.ref("stg_vectors")
        cents = kmeans_lloyd(vecs, k=N_CELLS, n_iter=LLOYD_ROUNDS)
        books = pq_codebooks_trained(
            vecs, m=PQ_M, k=PQ_CODES, n_iter=LLOYD_ROUNDS
        )
        rows = [
            ("coarse", -1, int(cid), [float(x) for x in cv])
            for cid, cv in cents
        ] + [
            ("pq", s, int(cid), [float(x) for x in cv])
            for s, book in enumerate(books)
            for cid, cv in book
        ]
        return local_frame(
            ctx.spark,
            rows,
            "kind string, grp int, cid int, cvec array<double>",
        )

    @r.model(materialized="table", partition_by=["cell"])
    def index_codes(ctx):
        from ..llmops.similarity import ivfpq_index_rows

        cents, books = quantizers_from_relation(ctx.ref("index_quantizers"))
        return ivfpq_index_rows(ctx.ref("stg_vectors"), cents, books)

    @r.model()
    def index_manifest(ctx):
        return (
            ctx.ref("index_codes")
            .groupBy("cell")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
                F.min(F.size("codes")).alias("min_code_width"),
                F.max(F.size("codes")).alias("max_code_width"),
            )
        )

    return r


# -- the serving-quality release gate ---------------------------------------

K_EVAL = 10
NPROBE = 2
N_ITER = 2
RECALL_FLOOR = 0.6  # release bar: mean ANN recall@k >= 0.6
_SENTINEL = -2.0  # below any cosine: padded misses never rank


PROBE_SWEEP = (1, 2, 4, 8)  # the recall-vs-cost tuning curve's x axis


def build_index_scorecard(
    spark: SparkSession,
    embeddings: DataFrame,
    query_ids: list,
    centroids: list | None = None,
) -> ModelRegistry:
    """The QUALITY gate beside the artifact pipeline above — registry
    models:

      stg_vectors       stage view: typed projection
      ann_index         TABLE, partitioned by cell: the trained IVF
                        assignment (probing = partition pruning)
      ann_results       batched IVF top-k for the release's query
                        panel, served FROM the index table
      brute_topk        the exact cosine oracle for the same panel —
                        brute BY DESIGN: at 100 TB you grade a SAMPLED
                        panel, one map-only scan per release
      judged_pool       system list ∪ oracle-only misses: every brute
                        top-k member the index failed to retrieve
                        re-enters at sentinel −2.0 (below any cosine),
                        the TREC unretrieved-judged convention; rel =
                        brute-membership
      index_scorecard   terminal ONE-row gate: per-query recall@k /
                        MRR / NDCG@k fold into exact-integer release
                        arithmetic — metric means sum the 6dp
                        per-query values as half-up-quantized BIGINTs
                        (associative, layout-stable where a float mean
                        is not) and ``released`` compares Σ recall_fp
                        against floor(RECALL_FLOOR·10⁶)·n in pure
                        integers.

    Recall@k here is ANN recall in the literature's sense:
    |IVF top-k ∩ brute top-k| / k, since the judged pool's n_relevant
    per query is the brute list's k members.
    """
    from ..llmops.similarity import (
        cosine_topk_batch,
        ivf_assign,
        ivf_topk_batch,
        kmeans_lloyd,
    )

    r = ModelRegistry(spark)
    r.add_source("raw_vectors", embeddings)
    # trained-model side channel between build steps (bounded k·d
    # floats): ann_index trains it, ann_results probes with it — the
    # registry's DAG order (ann_results refs ann_index) guarantees the
    # write happens before the read
    _state: dict = {"centroids": centroids}

    @r.model()
    def stg_vectors(ctx):
        return ctx.source("raw_vectors").select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("embedding"),
        )

    @r.model(materialized="table", partition_by=["cell"])
    def ann_index(ctx):
        # the one materialization: train once, write the assignment
        # partitioned by cell so every later probe is partition pruning
        vecs = ctx.ref("stg_vectors")
        cents = _state["centroids"]
        if cents is None:
            cents = kmeans_lloyd(vecs, N_CELLS, N_ITER, "vec_id", "embedding")
            _state["centroids"] = cents
        return ivf_assign(vecs, cents, "vec_id", "embedding")

    @r.model()
    def ann_results(ctx):
        # |panel|·k rows — materialize ONCE: judged_pool references this
        # frame twice (hits + anti-join misses) and the terminal gate
        # references the pool twice (retrieval_metrics + ndcg); as a
        # bare view each reference re-ran the whole probe scan (guide
        # §1.2 — the similarity.py "k rows; materialize before release"
        # convention applied at the DAG layer)
        idx = ctx.ref("ann_index")
        return truncate_lineage(
            ivf_topk_batch(
                idx,
                query_ids,
                k=K_EVAL,
                nprobe=NPROBE,
                centroids=_state["centroids"],
                assigned=idx,
            )
        )

    @r.model()
    def brute_topk(ctx):
        # |panel|·k rows — the exact-oracle scan runs ONCE per release
        # instead of once per downstream reference (same reasoning as
        # ann_results; the full-corpus cosine scan is the expensive part)
        return truncate_lineage(
            cosine_topk_batch(ctx.ref("stg_vectors"), query_ids, k=K_EVAL)
        )

    @r.model()
    def judged_pool(ctx):
        ann = ctx.ref("ann_results").select(
            "query_id", "vec_id", F.col("cosine").alias("score")
        )
        brute = ctx.ref("brute_topk").select("query_id", "vec_id")
        # rel = brute membership; oracle-only misses pad in at the
        # sentinel so they are judged-but-unretrieved, never top-k
        hits = ann.join(
            brute.withColumn("rel", F.lit(1)),
            ["query_id", "vec_id"],
            "left",
        ).select(
            "query_id",
            "vec_id",
            "score",
            F.coalesce("rel", F.lit(0)).alias("rel"),
        )
        misses = (
            brute.join(
                ann.select("query_id", "vec_id"),
                ["query_id", "vec_id"],
                "left_anti",
            )
            .select(
                "query_id",
                "vec_id",
                F.lit(_SENTINEL).alias("score"),
                F.lit(1).alias("rel"),
            )
        )
        return hits.unionByName(misses)

    @r.model()
    def index_scorecard(ctx):
        from ..llmops.evaluation import ndcg_at_k, retrieval_metrics

        pool = ctx.ref("judged_pool")
        rm = retrieval_metrics(
            pool, "query_id", "vec_id", "score", "rel", k=K_EVAL
        )
        nd = ndcg_at_k(pool, "query_id", "vec_id", "score", "rel", k=K_EVAL)
        per_q = rm.join(nd.select("query_id", "ndcg"), "query_id")
        fp = 10**6

        def _q(c):  # half-up 6dp quantization: associative BIGINT sums
            return F.expr(f"cast(floor({c} * {fp} + 0.5d) as bigint)")

        agg = per_q.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum(_q("recall_at_k")).alias("recall_fp"),
            F.min("recall_at_k").alias("min_recall"),
            F.sum(_q("mrr")).alias("mrr_fp"),
            F.sum(_q("ndcg")).alias("ndcg_fp"),
        )
        floor_fp = int(RECALL_FLOOR * fp)
        return agg.select(
            F.col("n_queries"),
            F.lit(K_EVAL).cast("int").alias("k"),
            F.round(F.col("recall_fp") / (F.col("n_queries") * fp), 6).alias(
                "mean_recall"
            ),
            F.col("min_recall"),
            F.round(F.col("mrr_fp") / (F.col("n_queries") * fp), 6).alias(
                "mean_mrr"
            ),
            F.round(F.col("ndcg_fp") / (F.col("n_queries") * fp), 6).alias(
                "mean_ndcg"
            ),
            (
                F.col("recall_fp") >= F.lit(floor_fp) * F.col("n_queries")
            ).alias("released"),
        )

    @r.model()
    def probe_frontier(ctx):
        """The recall-vs-cost TUNING CURVE: one row per nprobe in
        ``PROBE_SWEEP`` — exact mean ANN recall@k against the brute
        oracle next to the measured scan cost (candidate rows actually
        touched = Σ over queries of probed-cell populations, minus the
        query's self-row when probed). This is the table an index
        operator reads to pick nprobe: recall is non-decreasing in
        nprobe and probing every cell IS the brute scan, so the last
        row pins ``recall = 1.0`` exactly (the test's property).
        Exact-integer arithmetic throughout: recall_fp sums
        |IVF∩brute|·(10⁶/k) per query (exact — multiples of 10⁶/k),
        candidates are BIGINT counts."""
        from ..llmops.similarity import _query_probe_frame, ivf_topk_batch

        idx = ctx.ref("ann_index")
        brute = ctx.ref("brute_topk").select(
            "query_id", "vec_id", F.lit(1).alias("rel")
        )
        cell_sizes = idx.groupBy("cell").agg(
            F.count(F.lit(1)).alias("cell_n")
        )
        fp = 10**6
        frames = []
        for nprobe in PROBE_SWEEP:
            res = ivf_topk_batch(
                idx,
                query_ids,
                k=K_EVAL,
                nprobe=nprobe,
                centroids=_state["centroids"],
                assigned=idx,
            )
            hits = (
                res.join(brute, ["query_id", "vec_id"], "left")
                .groupBy("query_id")
                .agg(
                    (
                        F.sum(F.coalesce("rel", F.lit(0)))
                        * F.lit(fp // K_EVAL)
                    ).alias("r_fp")
                )
            )
            probes = _query_probe_frame(
                idx, query_ids, "vec_id", "embedding",
                _state["centroids"], nprobe,
            ).select("qid", "cell")
            # cost: candidate rows touched per query = probed-cell
            # populations minus the self-row when its own cell is probed
            self_cells = idx.filter(
                F.col("vec_id").isin([int(q) for q in query_ids])
            ).select(F.col("vec_id").alias("qid"), F.col("cell"))
            cost = (
                probes.join(cell_sizes, "cell")
                .join(
                    self_cells.withColumn("is_self", F.lit(1)),
                    ["qid", "cell"],
                    "left",
                )
                .groupBy("qid")
                .agg(
                    F.sum(
                        F.col("cell_n")
                        - F.coalesce("is_self", F.lit(0))
                    ).alias("scanned")
                )
            )
            frames.append(
                hits.join(
                    cost, hits["query_id"] == cost["qid"]
                ).select(
                    F.lit(int(nprobe)).alias("nprobe"),
                    F.col("r_fp"),
                    F.col("scanned"),
                )
            )
        allf = frames[0]
        for f in frames[1:]:
            allf = allf.unionByName(f)
        return (
            allf.groupBy("nprobe")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_queries"),
                F.round(
                    F.sum("r_fp") / (F.count(F.lit(1)) * F.lit(fp)), 6
                ).alias("mean_recall"),
                F.sum("scanned").cast("bigint").alias("candidates_scanned"),
            )
            .orderBy("nprobe")
        )

    return r
