"""Similarity search over embedding columns (``array<float>``).

Two paths, both pure Catalyst expressions (``zip_with`` + ``aggregate``
fold — sequential, deterministic, whole-stage codegen; no Python UDF):

- **brute-force top-k**: cosine against a 1-row broadcast query vector —
  O(n·d) scan, the exact baseline. At 100 TB this is a map-only pass +
  TakeOrderedAndProject; it parallelizes perfectly.
- **bucketed ANN**: restrict the scan to a coarse partition — here the
  ``label`` column plays the IVF cell / LSH bucket role, and
  ``sign_lsh_bits`` derives a banded random-hyperplane-style signature
  from the vector itself. On a partitioned/bucketed table this becomes
  partition pruning: the scan reads only the candidate cells.

The fold accumulates in ``double`` left-to-right, so results are
bit-reproducible; cross-engine comparison rounds to 6 decimals to absorb
summation-order differences in the oracle engine.

One body per search step: every exact cosine is ``_cosine_score``, every
PQ/IVFADC search is ``_adc_search`` and the batch searches rank in
``_ranked_probe``. The single-query ``cosine_topk``/``ivf_topk`` keep
their own TakeOrderedAndProject plans: the batch body's per-query window
would add an exchange to them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..session import local_frame, pinned, truncate_lineage


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _cosine_score(
    vec: Column, q: Column, q_nrm: Column, nrm: Column | None = None
) -> Column:
    """The exact-cosine score every search, assignment and pairing path
    ranks by: ``dot(vec, q) / (‖vec‖ · q_nrm)`` rounded to 6 dp. The
    query norm (and ``nrm``, when the caller staged the row's own norm)
    comes in precomputed, so a norm known once per query or per vector
    is not folded again per candidate."""
    if nrm is None:
        nrm = _norm(vec)
    return F.round(_dot(vec, q) / (nrm * q_nrm), 6)


def cosine_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    restrict_label: bool = False,
    label_col: str = "label",
) -> DataFrame:
    """Top-k most-similar vectors to ``query_id`` (excluded from results).

    ``restrict_label=True`` is the IVF-style path: only the query's coarse
    cell is scanned (on a label-partitioned table Catalyst prunes the
    rest).
    """
    # the query norm is staged ON the broadcast 1-row relation: the
    # same _norm fold over the same array yields the identical double,
    # but it runs ONCE instead of once per candidate row — on the
    # advertised O(n·d) full scan that is a third of the fold work
    qcols = [
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_nrm"),
    ]
    if restrict_label:
        qcols.append(F.col(label_col).alias("q_label"))
    q = emb.filter(F.col(id_col) == query_id).select(*qcols)
    cand = emb.filter(F.col(id_col) != query_id)
    joined = cand.join(broadcast(q))
    if restrict_label:
        joined = joined.filter(F.col(label_col) == F.col("q_label"))
    return (
        joined.select(
            id_col,
            _cosine_score(
                F.col(vec_col), F.col("q_vec"), F.col("q_nrm")
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_centroids(
    emb: DataFrame, k: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """Coarse-quantizer centroids: the k lowest-id vectors (deterministic
    seeding; a production build would Lloyd-iterate from these). Returns
    driver-side Python values — centroids are bounded MODEL STATE (k·d
    floats), not data, so this collect is the same class as dbt's
    introspective compile-time queries (SURVEY §3), not a data-path
    collect."""
    rows = (
        emb.filter(F.col(id_col) < k)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    if len(rows) < k:
        # fail LOUDLY: a short seed set would silently train fewer cells
        # (or codes) and hand downstream assigns NULL cells /
        # semantic_salt a zero divisor
        raise ValueError(
            f"seed rule needs {id_col} 0..{k - 1} present; found"
            f" {len(rows)} of {k} — pass a smaller k, remap ids or pass"
            " a pre-trained model"
        )
    return [(int(r[0]), [float(x) for x in r[1]]) for r in rows]


def _lit_vec(vals: list[float]) -> Column:
    return F.array(*[F.lit(v) for v in vals])


def _query_vec(
    df: DataFrame, id_col: str, vec_col: str, query_id
) -> list[float]:
    """Fetch the query row's vector as driver floats, failing LOUDLY
    when the id is absent — the bare ``collect()[0][0]`` this replaces
    raised an opaque IndexError only after whatever index build
    preceded it had already paid its passes over the corpus.

    A plain filtered collect reads every partition in one result job.
    A ``limit(1)`` collect reads the first partition, then the rest in a
    further job only when the row was not there, so its job count
    depended on which partition held the query row."""
    rows = df.filter(F.col(id_col) == query_id).select(vec_col).collect()
    if not rows:
        raise ValueError(
            f"query_id {query_id!r} not found in {id_col} — nothing to search for"
        )
    return [float(x) for x in rows[0][0]]


def ivf_assign(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine, ties to the
    lowest centroid id) — one map-only pass, zero shuffle: the centroid
    table rides in as a broadcast 1-row array-of-structs (a JVM
    ``LocalRelation`` from ``session.local_frame``, so the broadcast
    never round-trips through a Python worker) and the per-row
    work is a generic ``transform`` + ``array_max`` over (sim, -cid)
    structs. Carrying the centroids as broadcast DATA (not k·d literal
    expressions) keeps the generated code small and constant in k — an
    iterative caller (Lloyd) recompiles only a tiny plan per round, and
    k can grow to thousands of cells without blowing up codegen.

    At scale the assignment is written once and the table is PARTITIONED
    BY (cell): probing then becomes partition pruning at the scan."""
    spark = emb.sparkSession
    cdata = [
        (int(cid), [float(x) for x in cv], float(_py_norm(cv)))
        for cid, cv in centroids
    ]
    cdf = local_frame(
        spark,
        [(cdata,)],
        "cents array<struct<cid:int,cvec:array<double>,cnorm:double>>",
    )
    sims = F.transform(
        "cents",
        lambda c: F.struct(
            _cosine_score(F.col(vec_col), c["cvec"], c["cnorm"]).alias("sim"),
            (-c["cid"]).alias("neg_cid"),
        ),
    )
    staged = (
        emb.crossJoin(broadcast(cdf))
        .select(F.col(id_col), F.col(vec_col), F.array_max(sims).alias("_best"))
    )
    return staged.select(
        F.col(id_col),
        F.col(vec_col),
        (-F.col("_best.neg_cid")).cast("int").alias("cell"),
        F.col("_best.sim").alias("cell_sim"),
    )


def _py_norm(vals: list[float]) -> float:
    s = 0.0
    for v in vals:
        s += float(v) * float(v)
    return s ** 0.5


def _probe_cells(
    centroids: list[tuple[int, list[float]]],
    qvec: list[float],
    qn: float,
    nprobe: int,
) -> list[int]:
    """The probe rule — top-``nprobe`` cells by cosine to the query,
    rounded to 6 decimals, ties to the LOWEST cell id. k·d driver-side
    arithmetic on model state. This is the ONLY place the rule lives:
    ``ivf_topk``, ``ivfadc_topk`` and ``ivfadc_topk_indexed`` are
    hash-gated on this exact rounding/tie discipline, so a second copy
    that drifted would silently break their documented parity."""

    def cos(cv: list[float]) -> float:
        return sum(a * b for a, b in zip(qvec, cv)) / (qn * _py_norm(cv))

    return [
        cid
        for cid, _ in sorted(
            centroids, key=lambda c: (-round(cos(c[1]), 6), c[0])
        )
    ][:nprobe]


def _adc_tables(
    codebooks: list[list[tuple[int, list[float]]]], qv: list[float]
) -> list[list[float]]:
    """Per-subspace query→codebook squared-L2 distance tables —
    m·n_codes doubles of driver-computed model state, the ADC lookup
    side of Jégou et al.'s product quantization, read by
    ``_adc_search``; residual mode passes the query's residual to a
    probed cell as ``qv``."""
    sub = len(codebooks[0][0][1])
    return [
        [
            sum(
                (qv[s * sub + i] - cv[i]) * (qv[s * sub + i] - cv[i])
                for i in range(sub)
            )
            for _cid, cv in book
        ]
        for s, book in enumerate(codebooks)
    ]


def ivf_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-style ANN: TRAIN the coarse quantizer (``n_iter`` Lloyd rounds
    from the deterministic low-id seeds — pass ``n_iter=0`` for the raw
    seed cells, or supply pre-trained ``centroids``), assign vectors to
    cells, probe the ``nprobe`` cells nearest the query, exact cosine
    top-k inside the probed cells only — the scan shrinks by
    ~nprobe/n_centroids vs brute force (and becomes partition pruning on
    a cell-partitioned table).

    The input is persisted across train + assign + scan (each is a full
    pass over the vectors; without the cache every pass re-runs the
    upstream lineage — a per-round full re-scan at 100 TB), and the k-row
    result is eagerly materialized off the cache before release. In a
    real deployment train/assign happen once at index-build time and only
    the probe scan runs per query."""
    with pinned(emb) as cached:
        if centroids is None:
            centroids = _lloyd_fit(cached, n_centroids, n_iter, id_col, vec_col)
        qvec = _query_vec(cached, id_col, vec_col, query_id)
        qn = _py_norm(qvec)
        probes = _probe_cells(centroids, qvec, qn, nprobe)

        assigned = ivf_assign(cached, centroids, id_col, vec_col)
        cand = assigned.filter(
            F.col("cell").isin(probes) & (F.col(id_col) != query_id)
        )
        out = (
            cand.select(
                id_col,
                "cell",
                _cosine_score(
                    F.col(vec_col), _lit_vec(qvec), F.lit(qn)
                ).alias("cosine"),
            )
            .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k)
        )
        # k rows; materialize before the cache is released so the caller's
        # later action doesn't recompute the whole train+assign lineage
        return truncate_lineage(out)


def _query_probe_frame(
    emb: DataFrame,
    query_ids: list,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]] | None,
    nprobe: int,
):
    """Collect the query vectors (bounded QUERY state: |Q|·d floats, the
    MMR-pool class — loud on missing ids) and, when ``centroids`` is
    given, expand each into its ``_probe_cells`` probe list. Returns a
    broadcast-sized DataFrame with one row per (query, probe cell) —
    or per query when centroids is None (the brute path): ``(qid, cell,
    q_vec, q_nrm)``."""
    qids = sorted({int(q) for q in query_ids})
    if not qids:
        raise ValueError("query_ids must be non-empty")
    rows = (
        emb.filter(F.col(id_col).isin(qids))
        .select(id_col, vec_col)
        .collect()
    )
    found = {int(r[0]): [float(x) for x in r[1]] for r in rows}
    missing = [q for q in qids if q not in found]
    if missing:
        raise ValueError(
            f"query ids not found in {id_col}: {missing} — nothing to"
            " search for"
        )
    data = []
    for q in qids:
        qv, qn = found[q], _py_norm(found[q])
        cells = (
            _probe_cells(centroids, qv, qn, nprobe)
            if centroids is not None
            else [-1]
        )
        for c in cells:
            data.append((q, int(c), qv, qn))
    return local_frame(
        emb.sparkSession,
        data,
        "qid bigint, cell int, q_vec array<double>, q_nrm double",
    )


def cosine_topk_batch(
    emb: DataFrame,
    query_ids: list,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-query brute-force cosine top-k — ``cosine_topk`` for a
    QUERY BATCH, and the exact recall oracle the ANN release gate
    (``models/index_release.py``) grades against. It is
    ``_ranked_probe`` with every vector in cell −1, the one cell
    ``_query_probe_frame`` gives each query without centroids: one
    O(n·|Q|·d) scan against the broadcast query vectors, per-query top-k
    in a window PARTITIONED BY the query. Returns ``(query_id, vec_id,
    cosine, rank)``, rank 1..k by (cosine desc, id asc) per query."""
    q = _query_probe_frame(emb, query_ids, id_col, vec_col, None, 0)
    idx = emb.select(id_col, vec_col, F.lit(-1).alias("cell"))
    return _ranked_probe(idx, q, k, id_col, vec_col, keep_cell=False)


def _ranked_probe(
    idx: DataFrame,
    q: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    keep_cell: bool,
) -> DataFrame:
    """The per-query rank body of the batch searches: index rows
    ``(id, vec, cell)`` meet the broadcast ``_query_probe_frame`` rows
    on ``cell`` (a query never matches itself), and exact cosine ranks
    1..k per query by (cosine desc, id asc) in one window PARTITIONED BY
    the query. Returns ``(query_id, id[, cell], cosine, rank)``."""
    cand = idx.join(broadcast(q), "cell").filter(
        F.col(id_col) != F.col("qid")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        cand.select(
            F.col("qid").alias("query_id"),
            F.col(id_col),
            *(["cell"] if keep_cell else []),
            _cosine_score(
                F.col(vec_col), F.col("q_vec"), F.col("q_nrm")
            ).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
    )


def ivf_topk_batch(
    emb: DataFrame,
    query_ids: list,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Batched IVF serving — ``ivf_topk`` for a QUERY BATCH: one index
    build (train + assign, or a pre-built ``assigned`` index table),
    then ONE probe scan for all queries. Each query's ``_probe_cells``
    list joins as a broadcast (query, cell) relation and
    ``_ranked_probe`` ranks per query; on a cell-PARTITIONED index table
    the cell join becomes partition pruning of the union of probe cells.

    Returns ``(query_id, vec_id, cell, cosine, rank)`` — rank 1..k per
    query by (cosine desc, id asc); queries never match themselves."""

    def search(vecs: DataFrame) -> DataFrame:
        cents = (
            centroids
            if centroids is not None
            else _lloyd_fit(vecs, n_centroids, n_iter, id_col, vec_col)
        )
        q = _query_probe_frame(vecs, query_ids, id_col, vec_col, cents, nprobe)
        idx = (
            assigned
            if assigned is not None
            else ivf_assign(vecs, cents, id_col, vec_col)
        )
        return _ranked_probe(idx, q, k, id_col, vec_col, keep_cell=True)

    if assigned is not None:
        return search(emb)
    with pinned(emb) as cached:
        # |Q|·k rows; materialize before the cache is released
        return truncate_lineage(search(cached))


# 16 axis-aligned hyperplane dims spread across a 64-dim embedding
DEFAULT_LSH_DIMS: tuple[int, ...] = tuple(range(0, 64, 4))


def sign_lsh_bits(vec: Column, dims: tuple[int, ...] = DEFAULT_LSH_DIMS) -> Column:
    """Random-hyperplane-style LSH signature: concatenated signs of chosen
    coordinates (axis-aligned hyperplanes — deterministic and
    cross-engine-reproducible; a production variant would use seeded
    random projections). len(dims) sign bits as a '0'/'1' string."""
    bits = [
        F.when(F.element_at(vec, d + 1).cast("double") >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for d in dims
    ]
    return F.concat(*bits)


def near_dup_pairs_lsh(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: tuple[int, ...] = DEFAULT_LSH_DIMS,
    band_size: int = 8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Embedding near-dup detection: 16-bit sign-LSH signature, banded
    (MinHash-style) into ``len(dims)/band_size`` bands, candidate pairs
    from shared (band_idx, band_key) cells, verified with exact cosine.

    Scale shape: with b-bit bands the corpus spreads over 2^b cells per
    band (256 at the default), so candidate count is Σ bucket² ≈ n²/2^b
    per band — not the n²/16 of a single short signature — and banding
    keeps recall (a pair needs to agree on any ONE band, not all bits).
    ``max_bucket`` drops degenerate mega-cells (the all-positive
    signature region of normalized embeddings) whose quadratic pair
    blowup would otherwise dominate at 100 TB — same guard as the
    MinHash ``candidate_pairs``. Pair generation reuses
    ``dedup.candidate_pairs``: one groupBy shuffle per band key,
    in-cell pairing as an array expression, distinct across bands.

    The vector norm is computed once per VECTOR before the pair join
    (each vector participates in O(bucket) pairs); per pair only the dot
    product folds."""
    from .dedup import candidate_pairs

    band_size = min(band_size, len(dims))  # short signatures: one band
    # cover ALL signature bits: len(dims) % band_size != 0 emits a final
    # shorter band for the remainder bits instead of silently dropping them
    # (e.g. 12 dims with band_size=8 -> bands of 8 and 4 bits)
    starts = list(range(0, len(dims), band_size))
    bits = sign_lsh_bits(F.col(vec_col), dims)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.substring(
                    bits, 1 + s, min(band_size, len(dims) - s)
                ).alias("band_key"),
            )
            for b, s in enumerate(starts)
        ]
    )
    buckets = emb.select(F.col(id_col), F.explode(bands).alias("band")).select(
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_key").alias("band_key"),
        F.col(id_col),
    )
    pairs = candidate_pairs(buckets, id_col, max_bucket=max_bucket)
    vec = emb.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("nrm")
    )
    a = vec.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = vec.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("nrm").alias("nrm_b"),
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            _cosine_score(
                F.col("vec_a"), F.col("vec_b"), F.col("nrm_b"), F.col("nrm_a")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def hard_negatives(
    emb: DataFrame,
    k: int = 5,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: tuple[int, ...] = DEFAULT_LSH_DIMS,
    band_size: int = 8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Hard-negative mining for contrastive training data: for each
    anchor, the top-``k`` most-similar vectors with a DIFFERENT label —
    the negatives that actually move a contrastive loss (random
    negatives are trivially separable; the hard ones live near the
    decision boundary). The standard mining pass of retrieval/embedding
    training pipelines (e.g. DPR, Karpukhin et al. 2020 — there mined
    per-query via BM25/ANN; here corpus-wide in one plan).

    Composition, not new machinery: candidates come from the SAME
    banded sign-LSH bucketing the near-dup path uses (similar vectors
    collide in some band), pairs symmetrize so each side serves as the
    other's anchor, the label inequality filters map-side after a
    bounded join, and one window per anchor ranks by exact cosine.
    Scale shape is therefore exactly ``near_dup_pairs_lsh``'s — banding
    bounds the quadratic, ``max_bucket`` caps degenerate cells — plus
    one row_number window partitioned by anchor. An exhaustive k-NN
    join would be n² at 100 TB; LSH-candidate mining trades a recall
    epsilon (asserted against brute force in tests) for linearity.

    Returns ``(anchor_id, negative_id, cosine, neg_rank)`` with
    neg_rank 1..k by descending cosine (ties → ascending negative id).
    """
    pairs = _lsh_labeled_pairs(
        emb, label_col, id_col, vec_col, dims, band_size, max_bucket
    )
    return _top_neighbours(pairs, False, k, "neg_rank").select(
        "anchor_id",
        F.col("other_id").alias("negative_id"),
        "cosine",
        "neg_rank",
    )


def _top_neighbours(
    pairs: DataFrame, same_label: bool, k: int, rank_col: str
) -> DataFrame:
    """Per-anchor top-``k`` of ``_lsh_labeled_pairs`` rows on one side
    of the label predicate, ranked into ``rank_col`` by (cosine desc,
    other_id asc) in one window partitioned by anchor."""
    same = F.col("_lab_a").eqNullSafe(F.col("_lab_b"))
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("other_id").asc()
    )
    return (
        pairs.filter(same if same_label else ~same)
        .withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def _lsh_labeled_pairs(
    emb: DataFrame,
    label_col: str,
    id_col: str,
    vec_col: str,
    dims: tuple[int, ...],
    band_size: int,
    max_bucket: int,
) -> DataFrame:
    """Symmetrized, label-tagged LSH candidate pairs — the shared base
    of ``hard_negatives`` (cross-label) and ``contrastive_triplets``
    (both sides): every banded candidate pair once per direction as
    (anchor_id, other_id, cosine, _lab_a, _lab_b)."""
    pairs = near_dup_pairs_lsh(
        emb,
        threshold=-1.0,  # keep every candidate; ranking picks the top
        id_col=id_col,
        vec_col=vec_col,
        dims=dims,
        band_size=band_size,
        max_bucket=max_bucket,
    )
    sym = pairs.select(
        F.col("id_a").alias("anchor_id"),
        F.col("id_b").alias("other_id"),
        "cosine",
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("anchor_id"),
            F.col("id_a").alias("other_id"),
            "cosine",
        )
    )
    labels = emb.select(F.col(id_col), F.col(label_col))
    la = labels.withColumnsRenamed(
        {id_col: "anchor_id", label_col: "_lab_a"}
    )
    lb = labels.withColumnsRenamed(
        {id_col: "other_id", label_col: "_lab_b"}
    )
    return sym.join(la, "anchor_id").join(lb, "other_id")


def contrastive_triplets(
    emb: DataFrame,
    k_pos: int = 1,
    k_neg: int = 2,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: tuple[int, ...] = DEFAULT_LSH_DIMS,
    band_size: int = 8,
    max_bucket: int = 1000,
) -> DataFrame:
    """(anchor, positive, negative) triplet assembly for contrastive /
    triplet-loss training: per anchor, the top-``k_pos`` most-similar
    SAME-label neighbors crossed with the top-``k_neg`` most-similar
    DIFFERENT-label neighbors (the hard negatives), each row carrying
    ``margin = pos_cosine − neg_cosine`` — the quantity a triplet loss
    trains against, so a curriculum can sort by it (smallest margin =
    hardest triplet) without recomputing anything.

    One LSH banding shuffle feeds BOTH sides (the candidate table is
    built once and split by the label predicate); two per-anchor
    windows rank, and the final join fans out k_pos·k_neg bounded rows
    per anchor. Anchors lacking either a candidate positive or negative
    emit nothing — an anchor with no same-label LSH neighbor has no
    (useful) triplet at this recall level.

    Returns ``(anchor_id, positive_id, negative_id, pos_cosine,
    neg_cosine, margin)``, margins rounded 6dp."""
    base = _lsh_labeled_pairs(
        emb, label_col, id_col, vec_col, dims, band_size, max_bucket
    )
    pos = _top_neighbours(base, True, k_pos, "_rn").select(
        "anchor_id",
        F.col("other_id").alias("positive_id"),
        F.col("cosine").alias("pos_cosine"),
    )
    neg = _top_neighbours(base, False, k_neg, "_rn").select(
        "anchor_id",
        F.col("other_id").alias("negative_id"),
        F.col("cosine").alias("neg_cosine"),
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "positive_id",
        "negative_id",
        "pos_cosine",
        "neg_cosine",
        F.round(F.col("pos_cosine") - F.col("neg_cosine"), 6).alias(
            "margin"
        ),
    )


def quantize_int8_report(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector int8 scalar quantization + reconstruction-error report —
    the storage-compression pass before ANN indexing (4x smaller than
    float32; at 100 TB of embeddings the scan-time win IS the feature).

    Each vector quantizes against its own [min, max] range:
    ``q = round((x - mn) / scale)`` with ``scale = (mx - mn) / 255``;
    the report carries the max and mean absolute reconstruction error.
    Pure per-row array expressions (map-only, zero shuffle), arithmetic
    entirely in double with half-up rounding on non-negative values —
    bit-reproducible across engines. Constant vectors (scale 0)
    reconstruct exactly."""
    v = F.col(vec_col)
    mn = F.array_min(F.transform(v, lambda x: x.cast("double")))
    mx = F.array_max(F.transform(v, lambda x: x.cast("double")))
    scale = (mx - mn) / F.lit(255.0)
    err = F.transform(
        v,
        lambda x: F.when(F.col("_scale") == 0, F.lit(0.0)).otherwise(
            F.abs(
                x.cast("double")
                - (
                    F.round((x.cast("double") - F.col("_mn")) / F.col("_scale"), 0)
                    * F.col("_scale")
                    + F.col("_mn")
                )
            )
        ),
    )
    staged = emb.select(
        F.col(id_col), v, mn.alias("_mn"), scale.alias("_scale")
    ).select(F.col(id_col), F.size(v).alias("n_dims"), err.alias("_err"))
    return staged.select(
        id_col,
        "n_dims",
        F.round(F.array_max("_err"), 6).alias("max_err"),
        F.round(
            F.aggregate("_err", F.lit(0.0), lambda a, x: a + x)
            / F.col("n_dims").cast("double"),
            6,
        ).alias("mean_err"),
    )


def pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Product-quantization codebooks: split the d-dim space into ``m``
    subspaces of d/m dims; each subspace gets ``k`` centroids taken from
    the k lowest-id vectors' subvectors (deterministic seeding, the same
    rule, via ``ivf_centroids`` — a production build Lloyd-iterates each
    subspace from these). Returns bounded MODEL STATE: m·k·(d/m) = k·d
    floats, one driver collect of k rows."""
    vecs = [v for _, v in ivf_centroids(emb, k, id_col, vec_col)]
    d = len(vecs[0])
    if d % m:
        raise ValueError(f"dims {d} not divisible by m={m}")
    sub = d // m
    return [
        [(cid, v[s * sub : (s + 1) * sub]) for cid, v in enumerate(vecs)]
        for s in range(m)
    ]


def pq_codebooks_trained(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[float]]]]:
    """Lloyd-TRAINED product-quantization codebooks — the quantizer a
    production PQ index actually ships: per-subspace k-means on the
    subvector distribution, seeded from ``pq_codebooks``'s deterministic
    low-id rule so the whole fit is reproducible. Training against the
    data (instead of serving the raw seed subvectors as "centroids")
    is what converts the 32x code compression into usable recall — ADC
    distances are only as good as the codebook's fit.

    Scale shape — all m subspaces train in the SAME jobs: the working
    set is one row per (subspace, vector) with only its d/m-dim
    subvector, so each Lloyd round is ONE map-only assignment pass (the
    m·k codebooks ride in as a single broadcast data row, exactly
    ``_pq_cdf``) plus ONE skinny groupBy(s, cell, pos) mean shuffle with
    full partial aggregation — never m separate fits, never the full
    vectors. The m·k·(d/m) = k·d mean rows per round are bounded MODEL
    STATE (driver collect, same carve-out as ``_lloyd_fit``). The
    subvector frame is persisted across rounds and released on return.

    Determinism across engines (the oracle unrolls these rounds in
    SQL): assignment argmin is over the raw double d2 — identical
    left-to-right fold on identical inputs on both engines (the proven
    ``pq_encode`` convention) — with ties to the lowest code id; the
    per-dimension means round to 9dp on both engines (the
    ``embedding_outliers`` discipline) so the next round's codebooks are
    identical literals. Empty cells keep their previous centroid.
    """
    spark = emb.sparkSession
    books = pq_codebooks(emb, m, k, id_col, vec_col)
    sub = len(books[0][0][1])
    subs = (
        emb.select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s"),
            F.col(vec_col),
        )
        .select(
            "s",
            F.col(id_col),
            F.transform(
                F.slice(F.col(vec_col), F.col("s") * sub + 1, sub),
                lambda x: x.cast("double"),
            ).alias("sv"),
        )
    )
    with pinned(subs) as subs:
        for _ in range(n_iter):
            best = _nearest_code(F.col("sv"), F.element_at("cb", F.col("s") + 1))
            assigned = subs.crossJoin(broadcast(_pq_cdf(spark, books))).select(
                "s", "sv", best["cid"].alias("cell")
            )
            means = (
                assigned.select("s", "cell", F.posexplode("sv"))
                .groupBy("s", "cell", "pos")
                .agg(F.round(F.avg("col"), 9).alias("m"))
                .collect()
            )
            acc: dict[tuple[int, int], dict[int, float]] = {}
            for r in means:
                acc.setdefault((int(r["s"]), int(r["cell"])), {})[
                    int(r["pos"])
                ] = float(r["m"])
            books = [
                [
                    (
                        cid,
                        [v for _, v in sorted(acc[(s, cid)].items())]
                        if (s, cid) in acc
                        else cv,
                    )
                    for cid, cv in book
                ]
                for s, book in enumerate(books)
            ]
    return books


def _nearest_code(seg: Column, book: Column) -> Column:
    """struct(d2, cid) of the code in ``book`` (``array<struct<cid,
    cvec>>``) nearest the subvector ``seg`` by squared L2, ties to the
    lowest code id — the one PQ encode rule the codebook fit and every
    encode share."""
    return F.array_min(
        F.transform(
            book,
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(
                        seg,
                        c["cvec"],
                        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d2"),
                c["cid"].alias("cid"),
            ),
        )
    )


def _pq_best_cols(
    vec_col: str, codebooks: list[list[tuple[int, list[float]]]]
) -> list[Column]:
    """Per-subspace nearest-code columns ``_b{s}`` against the broadcast
    codebook column ``cb`` (see ``pq_encode_report``)."""
    sub = len(codebooks[0][0][1])
    return [
        _nearest_code(
            F.slice(F.col(vec_col), s * sub + 1, sub), F.element_at("cb", s + 1)
        ).alias(f"_b{s}")
        for s in range(len(codebooks))
    ]


def _pq_cdf(spark, codebooks):
    """The m codebooks as one broadcastable 1-row frame,
    ``cb array<array<struct<cid, cvec>>>`` (subspace → codes): a JVM
    ``LocalRelation`` from ``session.local_frame``, so encoding and ADC
    probes read the model state without starting a Python worker."""
    cdata = [
        [(int(cid), [float(x) for x in cv]) for cid, cv in book]
        for book in codebooks
    ]
    return local_frame(
        spark,
        [(cdata,)],
        "cb array<array<struct<cid:int,cvec:array<double>>>>",
    )


def pq_encode_report(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """Product quantization encode + reconstruction-error report — the
    memory-compression path for ANN at 100 TB: d float32 dims become m
    uint8 codes (64-dim → 8 bytes = 32x), small enough to keep the whole
    index in executor memory while the raw vectors stay on disk for
    re-ranking.

    Per row and subspace: nearest codebook entry by squared L2 (ties to
    the lowest code id); ``code`` is the dash-joined per-subspace ids and
    ``recon_err`` the full-vector L2 distance to the PQ reconstruction.
    The codebooks ride in as ONE broadcast array-of-arrays-of-structs
    data row (codegen constant in m·k, same pattern as ``ivf_assign``);
    the encode itself is map-only, zero shuffle, no Python."""
    spark = emb.sparkSession
    if codebooks is None:
        codebooks = pq_codebooks(emb, m, k, id_col, vec_col)
    staged = emb.crossJoin(broadcast(_pq_cdf(spark, codebooks))).select(
        F.col(id_col), *_pq_best_cols(vec_col, codebooks)
    )
    n = len(codebooks)
    total_d2 = sum((F.col(f"_b{s}.d2") for s in range(1, n)), F.col("_b0.d2"))
    return staged.select(
        id_col,
        F.concat_ws(
            "-", *[F.col(f"_b{s}.cid").cast("string") for s in range(n)]
        ).alias("code"),
        F.round(F.sqrt(total_d2), 6).alias("recon_err"),
    )


def pq_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over PQ codes — the
    search half of a production PQ index: the QUERY stays exact, every
    database vector is represented by its m codes, and its distance
    sqrt(Σ_s ‖q_s − cvec_{s,code_s}‖²) is summed from per-subspace
    lookup tables (``_adc_search``). The codes are encoded in the same
    pass here; at scale they are materialized once at index-build and
    the scan reads only the 32x-smaller code columns. Map-only +
    TakeOrderedAndProject. Returns ``(id, adc_dist)``."""
    if codebooks is None:
        codebooks = pq_codebooks(emb, m, n_codes, id_col, vec_col)
    qvec = _query_vec(emb, id_col, vec_col, query_id)
    codes = _pq_codes(emb, codebooks, id_col, vec_col)
    return _adc_search(codes, codebooks, qvec, query_id, k, id_col)


def _pq_codes(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str,
    enc_col: str,
    *extra: str,
) -> DataFrame:
    """``(id, codes, *extra)``: every row's per-subspace nearest code ids
    of ``enc_col`` against the broadcast books, one map-only pass — the
    codes column every ADC search reads, in flight or from the index
    table."""
    staged = df.crossJoin(
        broadcast(_pq_cdf(df.sparkSession, codebooks))
    ).select(F.col(id_col), *extra, *_pq_best_cols(enc_col, codebooks))
    codes = F.array(*[F.col(f"_b{s}.cid") for s in range(len(codebooks))])
    return staged.select(F.col(id_col), codes.alias("codes"), *extra)


def _adc_search(
    index: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    qvec: list[float],
    query_id,
    shortlist: int,
    id_col: str,
    probes: list[int] | None = None,
    residual_to: list[tuple[int, list[float]]] | None = None,
    rerank: DataFrame | None = None,
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """The ADC search of every PQ and IVFADC operator, over an
    ``(id, codes[, cell])`` index frame in flight or in a table: keep
    the ``probes`` cells (partition pruning on a cell-partitioned table)
    minus the query row, sum each row's per-subspace ``_adc_tables``
    lookups, and take ``shortlist`` rows by (adc_dist, id). With
    ``residual_to`` (a residual build's coarse centroids) the tables are
    per probed cell, against the query's residual to it; other cells
    carry empty slots. With a ``rerank`` source frame the shortlist
    joins back to its ``vec_col`` as a broadcast and the top ``k`` by
    exact cosine are kept. Returns ``(id[, cell], adc_dist[, cosine])``."""
    spark = index.sparkSession
    keep = F.col(id_col) != query_id
    cell = []
    if probes is not None:
        keep = F.col("cell").isin(probes) & keep
        cell = ["cell"]
    if residual_to is None:
        ddf = local_frame(
            spark, [(_adc_tables(codebooks, qvec),)], "dt array<array<double>>"
        )
        table = F.col("dt")
    else:
        cmap = {cid: [float(x) for x in cv] for cid, cv in residual_to}
        dtc: list[list[list[float]]] = [[] for _ in range(max(cmap) + 1)]
        for cid in probes:
            dtc[cid] = _adc_tables(
                codebooks, [q - c for q, c in zip(qvec, cmap[cid])]
            )
        ddf = local_frame(spark, [(dtc,)], "dtc array<array<array<double>>>")
        table = F.element_at("dtc", F.col("cell") + 1)
    lookups = [
        F.element_at(
            F.element_at(table, s + 1), F.element_at("codes", s + 1) + 1
        )
        for s in range(len(codebooks))
    ]
    short = (
        index.filter(keep)
        .crossJoin(broadcast(ddf))
        .select(
            id_col,
            *cell,
            F.round(F.sqrt(sum(lookups[1:], lookups[0])), 6).alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(shortlist)
    )
    if rerank is None:
        return short
    return (
        rerank.join(broadcast(short), id_col)
        .select(
            id_col,
            *cell,
            "adc_dist",
            _cosine_score(
                F.col(vec_col), _lit_vec(qvec), F.lit(_py_norm(qvec))
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def kmeans_lloyd(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd's k-means over the embedding column — the trained
    coarse quantizer ``ivf_centroids`` stubs (deterministic low-id seeds
    kept as the seeding rule, so the whole fit is reproducible).

    Each round: (1) ``ivf_assign`` — map-only nearest-centroid pass;
    (2) centroid update — posexplode to (cell, dim, value) and one
    groupBy(cell, dim) avg: a single shuffle of n·d skinny rows with full
    partial aggregation, the standard scalable mean-update (no driver
    data-path collect; only the k·d model state comes back per round).
    Empty cells keep their previous centroid. Genuinely iterative —
    driver-held model state feeds the next round's literal expressions,
    same carve-out class as the connected-components fixpoint.

    The input is persisted for the duration of the fit: every round
    re-reads the full vector set, and without the cache each Lloyd round
    re-runs whatever lineage produced ``emb`` — at 100 TB that is a full
    re-scan per round (memory-and-disk: spills rather than evicts under
    pressure). Released before returning."""
    with pinned(emb) as cached:
        return _lloyd_fit(cached, k, n_iter, id_col, vec_col)


def _lloyd_fit(
    cached: DataFrame,
    k: int,
    n_iter: int,
    id_col: str,
    vec_col: str,
) -> list[tuple[int, list[float]]]:
    """Lloyd iterations over an ALREADY-PERSISTED input — callers that do
    further passes over the same vectors (``kmeans_cells`` report,
    ``ivf_topk`` assignment) share one persist lifecycle instead of
    re-scanning the unpersisted lineage after the fit."""
    centroids = ivf_centroids(cached, k, id_col, vec_col)
    for _ in range(n_iter):
        assigned = ivf_assign(cached, centroids, id_col, vec_col)
        # ONE shuffle per round: groupBy(cell, pos) with full partial
        # aggregation; the k·d mean rows are bounded model state, so the
        # per-cell centroid lists assemble on the driver (a second
        # groupBy(cell) stage would only re-shuffle those k·d rows).
        # The mean is rounded to 9dp (the pq_codebooks_trained
        # discipline, mirrored by _lloyd_ctes' oracle unroll): an
        # unrounded double avg depends on partial-sum merge order, so a
        # different shuffle-partition count could flip a later
        # 6dp cell_sim boundary.
        means = (
            assigned.select("cell", F.posexplode(F.col(vec_col)))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg(F.col("col").cast("double")), 9).alias("m"))
            .collect()
        )
        acc: dict[int, dict[int, float]] = {}
        for r in means:
            acc.setdefault(int(r["cell"]), {})[int(r["pos"])] = float(r["m"])
        updated = {cid: [d[p] for p in sorted(d)] for cid, d in acc.items()}
        centroids = [(cid, updated.get(cid, cv)) for cid, cv in centroids]
    return centroids


def kmeans_cells(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Cluster-quality report after a Lloyd fit: per-cell population and
    mean/min similarity to the trained centroid (the IVF cell-balance
    check run before committing a partitioning). Pass pre-trained
    ``centroids`` to skip the fit — a quantizer is trained ONCE at
    index-build time and shared by every downstream pass (the same
    contract as ``ivf_topk``'s centroids parameter).

    The fit and the final report pass share ONE persist of the input —
    the report's ``ivf_assign`` reads the cache instead of re-running the
    unpersisted lineage a further time (the round-2 bench regression),
    and the k-row report is eagerly materialized before the cache is
    released so the caller's collect doesn't recompute anything."""
    with pinned(emb) as cached:
        trained = (
            centroids
            if centroids is not None
            else _lloyd_fit(cached, k, n_iter, id_col, vec_col)
        )
        report = (
            ivf_assign(cached, trained, id_col, vec_col)
            .groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("n_vectors"),
                F.round(F.avg("cell_sim"), 6).alias("mean_sim"),
                F.round(F.min("cell_sim"), 6).alias("min_sim"),
            )
        )
        return truncate_lineage(report)


def _semantic_salt(n_cells: int, parallelism: int) -> int:
    """Keeper-side replication factor for ``semantic_dedup``'s pair join:
    ceil(parallelism / n_cells), floored at 1 — enough salt values that
    cells × salts covers every core, and exactly 1 once the cell count
    alone saturates the cluster (replication only costs shuffle bytes
    then). Pure arithmetic so the policy is unit-testable without a
    session."""
    return max(1, -(-parallelism // max(1, n_cells)))


def semantic_dedup(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540, the method behind large web-corpus semantic
    pruning): assign every vector to its k-means cell, then drop any
    item whose cosine to a LOWER-id item in the SAME cell reaches
    ``threshold``. The keep-rule is the paper's one-shot form — an item
    is dropped if any higher-priority near-twin exists, even when that
    twin is itself dropped (no transitive chasing), which keeps the
    operator a single self-join, not a fixpoint.

    Scale shape: clustering bounds the quadratic — pairs are generated
    per-cell via ONE equi-join shuffle on ``cell``, never all-pairs
    (the paper's reason for clustering first). The cell count is the
    knob: choose k ≈ n / target_cell_size so per-cell work stays
    constant as the corpus grows; at 100 TB the assignment is written
    PARTITIONED BY (cell) once and this join co-locates for free. Norms
    are computed once per vector BEFORE the pair join (map-side), so
    pair work is one dot product; cosine is 6dp-rounded before the
    threshold test so the drop decision is reproducible across engines.

    Returns the DROPPED rows: (id, cell, kept_id, sim) where ``kept_id``
    is the lowest-id qualifying twin and ``sim`` its cosine.
    """
    assigned = (
        ivf_assign(emb, centroids, id_col, vec_col)
        .select(F.col(id_col), F.col(vec_col), "cell")
        .withColumn("_nrm", _norm(F.col(vec_col)))
    )
    keep = assigned.select(
        "cell",
        F.col(id_col).alias("_kid"),
        F.col(vec_col).alias("_kvec"),
        F.col("_nrm").alias("_knrm"),
    )
    cand = assigned.select(
        "cell", F.col(id_col), F.col(vec_col), F.col("_nrm")
    )
    sim = _cosine_score(
        F.col("_kvec"), F.col(vec_col), F.col("_nrm"), F.col("_knrm")
    )
    # Salt-replicate the pair join (operators/skew.py pattern): the pair
    # stage's INPUT is tiny (one vector per row) but its compute is
    # quadratic-per-cell, so with few cells AQE's byte-based coalescing
    # folds the whole pair set into ONE task (measured at 250k pairs).
    # Salting the candidate side deterministically and replicating the
    # keeper side S ways turns k join keys into k·S, and the user-pinned
    # repartition on (cell, salt) is exempt from AQE coalescing — the
    # dot products spread across the cluster. Each (keeper, candidate)
    # combination still meets exactly once: at the candidate's own salt.
    # The salt is ADAPTIVE: just enough replication to give every core a
    # key (measured 1.9x at sf0.1 with 8 cells / 32 cores → salt 4). At
    # production k (thousands of cells ≥ parallelism) it degrades to 1 —
    # the join already parallelizes on cells alone, and a fixed factor
    # would multiply keeper-side shuffle bytes (full embedding vectors)
    # for nothing.
    n_spread = emb.sparkSession.sparkContext.defaultParallelism
    n_salt = _semantic_salt(len(centroids), n_spread)
    keep_s = keep.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    cand_s = cand.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt)).cast("int")
    )
    dup = (
        keep_s.repartition(n_spread, "cell", "_salt")
        .join(cand_s.repartition(n_spread, "cell", "_salt"), ["cell", "_salt"])
        .filter(F.col("_kid") < F.col(id_col))
        .select("cell", "_kid", F.col(id_col), sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )
    return dup.groupBy(id_col, "cell").agg(
        F.min("_kid").alias("kept_id"),
        F.min_by("sim", "_kid").alias("sim"),
    )


def embedding_outliers(
    emb: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Embedding-space quality filter: the k vectors FARTHEST from their
    own group's centroid (lowest cosine), per group — the "does this doc
    belong to its cluster/domain" outlier sweep run before training
    (mislabeled, junk, or off-domain points surface first).

    Fully in-plan — no driver model state: per-(group, dim) means come
    from one posexplode + partial-agg groupBy (k·d rows), centroid arrays
    reassemble via collect_list(struct(pos, m)) + array_sort (ordered by
    pos regardless of arrival order), and join back broadcast (group
    count is bounded). Centroid components round to 9dp on both engines
    to absorb partial-sum order jitter BEFORE the 6dp cosine. Outliers
    rank per group (window partitioned by group — never a global sort).

    At 100 TB: the means pass is the same single-shuffle shape as the
    Lloyd update; the rank pass shuffles once on the group key. With a
    bounded group count the centroid join is always a broadcast.
    """
    means = (
        emb.select(F.col(group_col).alias("_g"), F.posexplode(F.col(vec_col)))
        .groupBy("_g", "pos")
        .agg(F.round(F.avg(F.col("col").cast("double")), 9).alias("m"))
    )
    cents = means.groupBy("_g").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("_cvec")
    )
    scored = emb.join(
        broadcast(cents), emb[group_col] == cents["_g"], "inner"
    ).select(
        F.col(group_col),
        F.col(id_col),
        _cosine_score(
            F.col(vec_col), F.col("_cvec"), _norm(F.col("_cvec"))
        ).alias("centroid_cosine"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("centroid_cosine").asc(), F.col(id_col).asc()
    )
    return (
        scored.select(
            group_col, id_col, "centroid_cosine", F.row_number().over(w).alias("rank")
        )
        .filter(F.col("rank") <= k)
    )


def pq_rerank(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    shortlist: int = 30,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """Two-stage retrieval — the production PQ serving pattern: ADC over
    the codes shortlists ``shortlist`` candidates, then exact cosine
    re-ranks ONLY that broadcast shortlist against the raw vectors to
    the top ``k``. The recall/cost dial is ``shortlist``, not data
    volume. Returns ``(id, adc_dist, cosine)`` ordered by exact cosine."""
    if codebooks is None:
        codebooks = pq_codebooks(emb, m, n_codes, id_col, vec_col)
    qvec = _query_vec(emb, id_col, vec_col, query_id)
    codes = _pq_codes(emb, codebooks, id_col, vec_col)
    return _adc_search(
        codes, codebooks, qvec, query_id, shortlist, id_col,
        rerank=emb, vec_col=vec_col, k=k,
    )


def ivfadc_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    shortlist: int = 30,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """IVFADC — the composed production ANN index (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): a TRAINED
    coarse quantizer prunes the scan to the ``nprobe`` cells nearest the
    query, ADC over TRAINED PQ codes ranks only vectors inside those
    cells, and exact cosine re-ranks the constant-size shortlist. Three
    cost dials: n_centroids/nprobe (fraction of the corpus touched),
    m/n_codes (bytes per compressed vector), shortlist (raw vectors
    read). Either quantizer can be passed in pre-trained (the session
    caches do) or is fit on the spot.

    The codes are encoded in flight by ``ivfpq_index_rows``, the rows
    ``build_ivfpq_index`` writes, and searched by the same
    ``_adc_search`` as ``ivfadc_topk_indexed``, so the two are
    row-for-row identical. Raw vectors are encoded, not residuals; the
    raw books are shared with ``pq_encode_report``/``pq_topk``.

    Returns (id, cell, adc_dist, cosine) ordered by exact cosine."""
    with pinned(emb) as cached:
        if centroids is None:
            centroids = _lloyd_fit(cached, n_centroids, n_iter, id_col, vec_col)
        if codebooks is None:
            codebooks = pq_codebooks_trained(
                cached, m, n_codes, n_iter, id_col, vec_col
            )
        qvec = _query_vec(cached, id_col, vec_col, query_id)
        # the in-flight encode is the indexed path's table, row for row
        out = _adc_search(
            ivfpq_index_rows(cached, centroids, codebooks, id_col, vec_col),
            codebooks, qvec, query_id, shortlist, id_col,
            probes=_probe_cells(centroids, qvec, _py_norm(qvec), nprobe),
            rerank=cached, vec_col=vec_col, k=k,
        )
        # k rows; materialize before the cache is released
        return truncate_lineage(out)


def ivfpq_index_rows(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """The IVFADC index row shape ``(id, codes, cell)`` as ONE stateless
    map-only projection — assignment and PQ encode against broadcast
    frozen quantizers in the same stage. Shared verbatim by the batch
    build (``build_ivfpq_index``) and the streaming ingest
    (``streaming/dedup_join.py::streaming_ivfpq_ingest``): the identical
    function serving both engines is what makes a streamed append land
    byte-compatible in the batch-built table."""
    if residual:
        enc = ivf_residuals(df, centroids, id_col, vec_col)
        return _pq_codes(enc, codebooks, id_col, "residual", "cell")
    enc = ivf_assign(df, centroids, id_col, vec_col)
    return _pq_codes(enc, codebooks, id_col, vec_col, "cell")


def build_ivfpq_index(
    emb: DataFrame,
    table: str,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> None:
    """Materialize the IVFADC serving index: one row per vector with its
    coarse cell and per-subspace PQ codes, written PARTITIONED BY (cell)
    — the index-build half of the deployment split ``ivfadc_topk``'s
    docstring promises. The raw vector column stays OUT of the index
    (m uint8-range ints per row ≈ the 32x compression on disk too);
    re-rank reads the source table for the shortlist only.

    ``residual=True`` is the paper's variant (Jégou et al. §III): PQ
    encodes r = x − q1(x), so the codebooks spend their budget on the
    WITHIN-cell structure the coarse quantizer already removed — pass
    ``codebooks`` trained on ``ivf_residuals`` output. The probe side
    then needs per-CELL distance tables (``ivfadc_topk_indexed``
    residual mode); everything else — layout, pruning, codes-only scan —
    is identical.

    At 100 TB this is the once-per-build job: one map-only pass
    (assignment + encode against broadcast quantizers, zero shuffle
    before the partitioned write), and every query after is partition
    pruning + a codes-only scan of ~nprobe/n_centroids of the rows."""
    spark = emb.sparkSession
    # stale-slot discipline (operators/materialize.py): a warehouse dir
    # the CATALOG does not know about — a previous session's leftover,
    # since in-memory catalogs evaporate with their session — wedges the
    # CTAS with LOCATION_ALREADY_EXISTS forever
    from ..operators.materialize import _drop_stale_location

    if not spark.catalog.tableExists(table):
        _drop_stale_location(spark, table)
    (
        ivfpq_index_rows(emb, centroids, codebooks, id_col, vec_col, residual)
        # REBALANCE on the partition key (materialize_table discipline):
        # without it every encode task writes a file into every cell
        # directory — tasks × cells small files; AQE's rebalance gives
        # each cell directory as few files as its size needs and splits
        # an oversized cell across reducers. Layout only; one exchange
        # of the skinny (id, cell, codes) rows, never the raw vectors.
        .hint("rebalance", "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .format("parquet")
        .saveAsTable(table)
    )


def ivfpq_index_upsert(
    delta: DataFrame,
    table: str,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> None:
    """Incremental maintenance of the materialized IVFADC index: encode
    a delta batch against the FROZEN build-time quantizers and merge it
    into the codes table — new ids append, re-supplied ids REPLACE
    their old row (the re-embed case: a corrected or re-encoded vector
    may land in a DIFFERENT coarse cell than its old row). Completes
    the index lifecycle next to ``build_ivfpq_index`` (full build) and
    ``streaming/dedup_join.py::streaming_ivfpq_ingest`` (append-only
    feed): this is the batch upsert a nightly re-embed job runs.
    Quantizers stay frozen, exactly like the streaming path —
    retraining is a new index VERSION, not a maintenance operation.

    Scale shape — the rewrite touches ONLY the partitions the delta
    lands in or vacates, never the index:

    1. locating old rows needs an id → cell lookup; the index table has
       no primary-key sidecar, so this is a codes-table scan of TWO
       skinny columns with the delta-id filter applied map-side (the
       id set is the delta batch — broadcast-size by definition of a
       maintenance batch). No shuffle; at 100 TB this reads the
       (id, cell) column chunks only.
    2. touched = delta's new cells ∪ vacated cells — a bounded
       (≤ n_centroids) collect of model-state class.
    3. survivors (touched-partition rows whose id is NOT re-supplied,
       via broadcast anti-join) UNION the freshly-encoded delta rows
       overwrite exactly the touched partitions: dynamic
       partition-overwrite ``insertInto``, so untouched partitions'
       files are never rewritten (asserted byte-for-byte in the test).

    The merged rows are eagerly cut (``truncate_lineage``) before the write
    because they derive from the table being overwritten (Spark refuses
    the direct self-read cycle); the checkpoint materializes only the
    touched partitions' rows. A deployment with a transactional table
    format would express step 3 as MERGE — the files it rewrites are
    the same ones."""
    spark = delta.sparkSession
    enc = truncate_lineage(  # delta-batch-size; read 3x below
        ivfpq_index_rows(
            delta, centroids, codebooks, id_col, vec_col, residual
        )
    )
    ids = enc.select(id_col)
    old_cells = (
        spark.table(table)
        .join(broadcast(ids), id_col, "left_semi")
        .select("cell")
    )
    touched = [
        int(r.cell)
        for r in enc.select("cell").union(old_cells).distinct().collect()
    ]
    survivors = (
        spark.table(table)
        .filter(F.col("cell").isin(touched))
        .join(broadcast(ids), id_col, "left_anti")
    )
    merged = truncate_lineage(survivors.unionByName(enc).repartition("cell"))
    # a touched cell can end up EMPTY (its only vectors re-embedded
    # into other cells): dynamic overwrite only rewrites partitions
    # present in the written data, so the vacated partition's stale
    # rows would survive — and the moved ids would exist TWICE in the
    # index. Drop emptied partitions explicitly first.
    present = {
        int(r.cell) for r in merged.select("cell").distinct().collect()
    }
    for c in touched:
        if c not in present:
            spark.sql(
                f"ALTER TABLE {table} DROP IF EXISTS PARTITION (cell={c})"
            )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # insertInto is positional: pin to the table's column order
        # (partition column last, matching the build's writer layout)
        merged.select(id_col, "codes", "cell").write.mode(
            "overwrite"
        ).insertInto(table)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def ivfadc_topk_indexed(
    emb: DataFrame,
    table: str,
    query_id: int,
    k: int = 10,
    shortlist: int = 30,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    residual: bool = False,
) -> DataFrame:
    """IVFADC query against the MATERIALIZED ``build_ivfpq_index`` table:
    the probed-cell filter is PARTITION PRUNING (asserted in the parity
    test), ADC reads the stored codes only, and the shortlist re-ranks
    against the source vectors. It is ``_adc_search`` over the table, so
    raw mode is row-for-row identical to the in-plan ``ivfadc_topk``.
    ``residual=True`` matches a ``residual=True`` build: the distance
    tables become one set per probed cell, dt_c[s][j] =
    ‖(q − c_cell)_s − cvec_{s,j}‖² (Jégou et al. §III).

    Both quantizers are REQUIRED (keyword-only): the stored codes were
    produced by the build-time quantizers, so probing with anything else
    — including a fresh on-the-spot fit, which ``ivfadc_topk``'s
    in-plan variant offers — would silently compute distances against
    the wrong codebooks."""
    qvec = _query_vec(emb, id_col, vec_col, query_id)
    return _adc_search(
        emb.sparkSession.table(table), codebooks, qvec, query_id, shortlist,
        id_col,
        probes=_probe_cells(centroids, qvec, _py_norm(qvec), nprobe),
        residual_to=centroids if residual else None,
        rerank=emb, vec_col=vec_col, k=k,
    )


def quantizer_frame(
    spark,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> DataFrame:
    """The trained quantizers as one relation (kind, grp, cid, cvec):
    kind 'coarse' rows carry the centroids with grp=-1, kind 'pq' rows
    carry each codebook entry with its subspace index as grp.
    k·d + m·k·(d/m) = O(k·d) floats in total: pure model state, small
    at any corpus scale. ``quantizers_from_frame`` reads it back."""
    rows = [
        ("coarse", -1, int(cid), [float(x) for x in cv])
        for cid, cv in centroids or []
    ] + [
        ("pq", s, int(cid), [float(x) for x in cv])
        for s, book in enumerate(codebooks or [])
        for cid, cv in book
    ]
    return local_frame(
        spark, rows, "kind string, grp int, cid int, cvec array<double>"
    )


def quantizers_from_frame(
    df: DataFrame,
) -> tuple[
    list[tuple[int, list[float]]], list[list[tuple[int, list[float]]]]
]:
    """(centroids, codebooks) from a ``quantizer_frame`` relation, in the
    list shapes every probe/encode function takes and bit-identical to
    what was written (doubles round-trip parquet exactly). A bounded
    model-state collect (same class as the fit collects)."""
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


def save_ann_model(
    spark,
    table: str,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[list[tuple[int, list[float]]]] | None = None,
) -> None:
    """Persist the trained quantizers next to the codes table — the
    missing half of the index deployment split: ``build_ivfpq_index``
    makes the CODES durable, but the coarse centroids and PQ codebooks
    they were encoded against are session-state Python lists; a fresh
    session reading the index table could not probe or decode it.
    One tiny catalog table holds both model parts, the
    ``quantizer_frame`` relation. Overwrites atomically via the same
    swap as any table."""
    from ..operators.materialize import materialize_table

    materialize_table(
        spark, table, quantizer_frame(spark, centroids, codebooks)
    )


def load_ann_model(
    spark, table: str
) -> tuple[
    list[tuple[int, list[float]]], list[list[tuple[int, list[float]]]]
]:
    """Load quantizers saved by ``save_ann_model``: the
    ``quantizers_from_frame`` reading of the table."""
    return quantizers_from_frame(spark.table(table))


def ivf_residuals(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, residual) where residual = v − its coarse centroid —
    the encoding input of RESIDUAL IVFADC (Jégou et al. §III: quantize
    r = x − q1(x), not x). One map-only pass: the assignment and the
    subtraction share the same broadcast centroid array; residuals come
    out as double arrays ready for ``pq_codebooks_trained`` (rename the
    column and the same per-subspace Lloyd trains residual books)."""
    spark = emb.sparkSession
    cents = sorted(centroids)
    cdata = [[float(x) for x in cv] for _cid, cv in cents]
    if [cid for cid, _ in cents] != list(range(len(cents))):
        # a real error, not an assert: under python -O an assert
        # vanishes and element_at(cvecs, cell + 1) would silently
        # subtract the WRONG centroid for every vector past the gap
        raise ValueError(
            "residual path expects dense 0..k-1 centroid ids, got "
            f"{[cid for cid, _ in cents]}"
        )
    cdf = local_frame(spark, [(cdata,)], "cvecs array<array<double>>")
    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    return assigned.crossJoin(broadcast(cdf)).select(
        F.col(id_col),
        F.col("cell"),
        F.zip_with(
            F.col(vec_col),
            F.element_at("cvecs", F.col("cell") + 1),
            lambda a, b: a.cast("double") - b,
        ).alias("residual"),
    )


def pca_train(
    emb: DataFrame,
    vec_col: str = "embedding",
    d_out: int = 8,
    scale: int = 10**6,
) -> dict:
    """DETERMINISTIC distributed PCA fit over an embedding column — the
    whitening/dimension-reduction step embedding pipelines run before
    cosine dedup or ANN indexing (decorrelated, variance-equalized
    axes make cosine thresholds meaningful across the space; truncation
    shrinks index bytes).

    Integer-sum discipline (the ``logreg_train`` class): each row emits
    its dimension sums and upper-triangle second-moment products
    QUANTIZED to BIGINT ``scale``-units (``floor(x_j·x_k·scale + 0.5)``)
    through ONE explode → partial-agg groupBy — d·(d+3)/2 cells of
    bounded model state, associative, so the fitted artifact is
    BIT-IDENTICAL under any partitioning. The covariance assembles in
    driver floats FROM those exact integers, and eigenvectors come from
    one ``numpy.linalg.eigh`` on the d×d symmetric matrix (bounded,
    driver-side); each component's sign is fixed so its largest-|entry|
    coordinate is positive (ties to the lowest index) — a deterministic
    orientation where raw LAPACK output is sign-ambiguous.

    Scale shape: one validation aggregate (n / size-drift check) + one
    moments pass; the explode emits d(d+3)/2 entries per row with
    map-side combine, so the shuffle carries only cells × partitions.
    Overflow: keep ``n · scale · max|x|² < 2⁶³`` — the default 1e6
    scale is safe to ~9·10¹² rows of unit-normalized embeddings.
    Covariance quantization error is ≤ 1/(2·scale) per cell — fit
    noise, not result noise: apply-side projections use the artifact's
    9dp-rounded literals on both engines identically.

    Returns ``{"mean": [d], "components": [d_out][d] (rows =
    eigenvectors, variance-descending), "eigvals": [d_out], "d_in",
    "d_out", "n_rows"}`` — feed to ``pca_apply``.
    """
    import numpy as np

    scale = int(scale)
    chk = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size(vec_col)).alias("mn"),
        F.max(F.size(vec_col)).alias("mx"),
    ).collect()[0]
    n = int(chk.n or 0)
    if n == 0:
        raise ValueError("pca_train got an empty relation")
    if chk.mn != chk.mx:
        raise ValueError(
            f"pca_train needs equal-length vectors: sizes span "
            f"[{chk.mn}, {chk.mx}]"
        )
    d = int(chk.mn)
    if not 1 <= int(d_out) <= d:
        raise ValueError(f"d_out must be in [1, {d}]: got {d_out!r}")

    v = F.col(vec_col)
    idx = F.sequence(F.lit(0), F.lit(d - 1))
    # per-row cells: (j, -1) dimension sums; (j, k>=j) second moments
    sums = F.transform(
        idx,
        lambda j: F.struct(
            j.cast("int").alias("j"),
            F.lit(-1).alias("k"),
            F.floor(
                F.element_at(v, j + 1).cast("double") * F.lit(scale)
                + F.lit(0.5)
            ).cast("bigint").alias("q"),
        ),
    )
    prods = F.flatten(
        F.transform(
            idx,
            lambda j: F.transform(
                F.sequence(j, F.lit(d - 1)),
                lambda k: F.struct(
                    j.cast("int").alias("j"),
                    k.cast("int").alias("k"),
                    F.floor(
                        F.element_at(v, j + 1).cast("double")
                        * F.element_at(v, k + 1).cast("double")
                        * F.lit(scale)
                        + F.lit(0.5)
                    ).cast("bigint").alias("q"),
                ),
            ),
        )
    )
    cells = (
        emb.select(F.explode(F.concat(sums, prods)).alias("c"))
        .groupBy(F.col("c.j").alias("j"), F.col("c.k").alias("k"))
        .agg(F.sum("c.q").alias("s"))
        .collect()
    )  # bounded: d(d+3)/2 BIGINT cells of model state
    m_raw = {r.j: int(r.s) for r in cells if r.k == -1}
    s_raw = {(r.j, r.k): int(r.s) for r in cells if r.k >= 0}
    mean = np.array([m_raw[j] / (n * scale) for j in range(d)])
    cov = np.empty((d, d))
    for j in range(d):
        for k in range(j, d):
            c = s_raw[(j, k)] / (n * scale) - mean[j] * mean[k]
            cov[j, k] = cov[k, j] = c
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1][: int(d_out)]
    comps, evs = [], []
    for c_idx in order:
        vec = eigvecs[:, c_idx]
        pivot = int(np.argmax(np.abs(vec)))
        if vec[pivot] < 0:
            vec = -vec
        comps.append([round(float(x), 9) for x in vec])
        evs.append(round(float(max(eigvals[c_idx], 0.0)), 9))
    return {
        "mean": [round(float(x), 9) for x in mean],
        "components": comps,
        "eigvals": evs,
        "d_in": d,
        "d_out": int(d_out),
        "n_rows": n,
    }


def pca_apply(
    df: DataFrame,
    vec_col: str,
    model: dict,
    whiten: bool = False,
    renorm: bool = False,
    eps: float = 1e-9,
) -> DataFrame:
    """Project an embedding column through a ``pca_train`` artifact —
    pure broadcast-literal projection (the ``logreg_score`` inference
    pattern): zero shuffle, scales as the scan. Each output component
    is ``dot(x, w_c) − b_c`` with the centering constant ``b_c =
    dot(mean, w_c)`` FOLDED INTO the literals at plan-build time;
    ``whiten=True`` additionally folds 1/√(λ_c + eps) into ``w_c`` and
    ``b_c``, so the plan shape is identical either way. ``renorm=True``
    L2-normalizes the projected vector (for cosine-space consumers).
    Output components round to 6dp — per-row left-to-right array folds,
    deterministic on any layout. Replaces ``vec_col`` with array<double>
    of length ``model['d_out']``."""
    import math

    d_in, d_out = int(model["d_in"]), int(model["d_out"])
    ws, bs = [], []
    for c in range(d_out):
        w = [float(x) for x in model["components"][c]]
        b = sum(m * x for m, x in zip(model["mean"], w))
        if whiten:
            inv = 1.0 / math.sqrt(float(model["eigvals"][c]) + float(eps))
            w = [x * inv for x in w]
            b *= inv
        ws.append(w)
        bs.append(b)
    v = F.col(vec_col)
    proj = F.array(
        *[_dot(v, _lit_vec(ws[c])) - F.lit(bs[c]) for c in range(d_out)]
    )
    if renorm:
        nrm = _norm(proj)
        proj = F.transform(proj, lambda x: x / F.greatest(nrm, F.lit(1e-12)))
    out = F.transform(proj, lambda x: F.round(x, 6))
    guarded = F.when(F.size(v) == d_in, out)
    return df.withColumn(vec_col, guarded)


def matryoshka_truncate(
    df: DataFrame,
    vec_col: str,
    d_out: int,
    renorm: bool = True,
) -> DataFrame:
    """Matryoshka-style embedding truncation (Kusupati et al. 2022,
    arXiv:2205.13147): keep the FIRST ``d_out`` coordinates —
    MRL-trained encoders front-load information, so the prefix is the
    sanctioned cheap embedding — and (default) L2-renormalize so cosine
    consumers keep unit-norm geometry. Pure projection: zero shuffle,
    per-row folds, 6dp-rounded output. Vectors shorter than ``d_out``
    become NULL (visible, never silently padded)."""
    if int(d_out) < 1:
        raise ValueError(f"d_out must be >= 1: got {d_out!r}")
    v = F.col(vec_col)
    sliced = F.slice(v, 1, int(d_out))
    if renorm:
        nrm = _norm(sliced)
        sliced = F.transform(
            sliced,
            lambda x: x.cast("double") / F.greatest(nrm, F.lit(1e-12)),
        )
    out = F.transform(sliced, lambda x: F.round(x.cast("double"), 6))
    return df.withColumn(
        vec_col, F.when(F.size(v) >= int(d_out), out)
    )


def mmr_rerank(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    pool: int = 100,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998)
    — the diversity-aware post-processor retrieval stacks run on an
    ANN candidate pool so the final k isn't k near-duplicates of the
    best hit. Greedy selection:

        next = argmax_c  λ·sim(q, c) − (1 − λ)·max_{s ∈ selected} sim(c, s)

    Two-stage shape: the DISTRIBUTED stage is the plain ``cosine_topk``
    scan (or any ANN operator) cutting the corpus to a ``pool``-sized
    candidate set; the greedy stage then runs on the DRIVER over that
    bounded pool (pool·d floats of model state, the Lloyd-codebook
    class) — MMR's selected-set dependency makes each pick depend on
    all previous picks, so it is inherently sequential and belongs on
    bounded data, never the corpus. Deterministic: candidate pool order
    comes from ``cosine_topk``'s (cosine desc, id asc), pairwise sims
    are driver floats of the collected 6dp-rounded vectors, and ties
    break on the smaller id.

    Returns k rows: ``(id, mmr_rank, relevance, redundancy,
    mmr_score)`` — ``redundancy`` is the max similarity to the
    already-selected set at pick time (0 for the first pick).
    """
    import math

    if not 0.0 < float(lam) <= 1.0:
        raise ValueError(f"lam must be in (0, 1]: got {lam!r}")
    if not 1 <= int(k) <= int(pool):
        raise ValueError(f"need 1 <= k <= pool: got k={k!r}, pool={pool!r}")
    top = cosine_topk(emb, query_id, k=int(pool), id_col=id_col,
                      vec_col=vec_col)
    cand = (
        top.join(emb.select(id_col, vec_col), id_col)
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .collect()
    )  # bounded: pool rows of (id, cosine, vector) model state
    if not cand:
        raise ValueError(f"mmr_rerank: query {query_id!r} not found or "
                         "corpus has no other vectors")

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return num / (na * nb) if na > 0 and nb > 0 else 0.0

    items = [(r[id_col], float(r.cosine), list(r[vec_col])) for r in cand]
    selected, out = [], []
    remaining = list(items)
    lam = float(lam)
    for rank in range(1, int(k) + 1):
        best = None
        for cid, rel, vec in remaining:
            red = max((cos(vec, sv) for _, _, sv in selected), default=0.0)
            score = lam * rel - (1.0 - lam) * red
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, cid, rel, red, score, vec)
        _, cid, rel, red, score, vec = best
        selected.append((cid, rel, vec))
        remaining = [t for t in remaining if t[0] != cid]
        out.append((cid, rank, round(rel, 6), round(red, 6),
                    round(score, 6)))
        if not remaining:
            break
    spark = emb.sparkSession
    return local_frame(
        spark,
        out,
        f"{id_col} long, mmr_rank int, relevance double,"
        " redundancy double, mmr_score double",
    )


def procrustes_align(
    pairs: DataFrame,
    x_col: str,
    y_col: str,
    scale: int = 10**6,
) -> dict:
    """Orthogonal Procrustes alignment between two embedding VERSIONS
    (Schönemann 1966): the rotation R minimizing ‖XR − Y‖_F over
    matched vector pairs — the migration operator an embedding upgrade
    needs (align the old space onto the new model's so a serving index
    re-embeds incrementally; Smith et al. 2017, arXiv:1702.03859, use
    exactly this for cross-space word-vector alignment). The solution
    is R = U·Vᵀ from the SVD of the cross-moment matrix M = XᵀY.

    Determinism discipline (the ``pca_train`` class): each matched row
    emits its d×d cross products QUANTIZED to BIGINT ``scale``-units
    through one explode → partial-agg groupBy (d² cells of bounded
    model state, associative integer sums → M is bit-identical under
    any partitioning); the SVD runs once on the exact d×d integers
    driver-side, and R = U·Vᵀ is invariant to LAPACK's per-column sign
    ambiguity (signs cancel in the product) — degenerate singular
    values would not be, so they RAISE rather than return a
    layout-lottery rotation. R rounds to 9dp literals (the artifact
    convention).

    Overflow: keep ``n · scale · max|x·y| < 2⁶³`` — safe to ~9·10¹²
    unit-normalized pairs at the default scale. Returns
    ``{"rotation": [d][d] (row j = where source dim j lands),
    "sigma": [d], "d": d, "n_rows": n}`` — feed to
    ``procrustes_apply``."""
    import numpy as np

    scale = int(scale)
    chk = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size(x_col)).alias("xmn"),
        F.max(F.size(x_col)).alias("xmx"),
        F.min(F.size(y_col)).alias("ymn"),
        F.max(F.size(y_col)).alias("ymx"),
    ).collect()[0]
    n = int(chk.n or 0)
    if n == 0:
        raise ValueError("procrustes_align got an empty relation")
    if not (chk.xmn == chk.xmx == chk.ymn == chk.ymx):
        raise ValueError(
            "procrustes_align needs equal-length vector pairs: sizes"
            f" x in [{chk.xmn}, {chk.xmx}], y in [{chk.ymn}, {chk.ymx}]"
        )
    d = int(chk.xmn)

    xv, yv = F.col(x_col), F.col(y_col)
    idx = F.sequence(F.lit(0), F.lit(d - 1))
    cells = F.flatten(
        F.transform(
            idx,
            lambda j: F.transform(
                idx,
                lambda k: F.struct(
                    j.cast("int").alias("j"),
                    k.cast("int").alias("k"),
                    F.floor(
                        F.element_at(xv, j + 1).cast("double")
                        * F.element_at(yv, k + 1).cast("double")
                        * F.lit(scale)
                        + F.lit(0.5)
                    ).cast("bigint").alias("q"),
                ),
            ),
        )
    )
    rows = (
        pairs.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.j").alias("j"), F.col("c.k").alias("k"))
        .agg(F.sum("c.q").alias("m"))
        .collect()
    )  # d^2 BIGINTs: bounded model state
    m = np.zeros((d, d))
    for r in rows:
        m[int(r.j), int(r.k)] = int(r.m) / scale
    u, sig, vt = np.linalg.svd(m)
    # R = U·Vᵀ is invariant to repeated NONZERO singular values (the
    # joint block rotation cancels in the product); a (near-)ZERO one
    # leaves U/V null-space columns independently arbitrary — a
    # layout-lottery rotation, so it raises instead
    if float(sig[-1]) / max(float(sig[0]), 1e-300) < 1e-9:
        raise ValueError(
            "procrustes_align: (near-)degenerate cross-moment spectrum"
            " (a ~zero singular value) — the rotation is not unique;"
            " add more matched pairs or reduce dimensionality first"
        )
    rot = u @ vt
    return {
        "rotation": [
            [round(float(rot[j, k]), 9) for k in range(d)] for j in range(d)
        ],
        "sigma": [round(float(s), 9) for s in sig],
        "d": d,
        "n_rows": n,
    }


def procrustes_apply(
    df: DataFrame,
    vec_col: str,
    model: dict,
) -> DataFrame:
    """Rotate an embedding column into the aligned space:
    ``y_k = Σ_j x_j · R[j][k]`` — one projection of d dot products
    against broadcast 9dp literals, zero shuffle, scales as the scan
    (the ``pca_apply`` inference pattern). Rows with a wrong-length
    vector map to NULL (the pca_apply guard). Output rounds 6dp."""
    d = int(model["d"])
    cols = [
        [float(model["rotation"][j][k]) for j in range(d)]
        for k in range(d)
    ]
    v = F.col(vec_col)
    rotated = F.array(
        *[F.round(_dot(v, _lit_vec(cols[k])), 6) for k in range(d)]
    )
    return df.withColumn(
        vec_col, F.when(F.size(v) == d, rotated)
    )
