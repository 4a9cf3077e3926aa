"""Dataset splitting and split-contamination checks.

Training-data pipelines need (a) a DETERMINISTIC, engine-independent
train/val/test assignment — re-running the pipeline anywhere must put
every document in the same split — and (b) a leakage check: near-dup
pairs that straddle a split boundary contaminate evaluation.

The split key is the first hex digit of ``md5(text)`` (16 uniform
buckets): digits 0-b → train (75%), c-d → val (12.5%), e-f → test
(12.5%). Pure projection, zero shuffle, and reproducible in any engine
with md5 — the same oracle-ability property as the dedup family.

Contamination composes the MinHash near-dup pipeline with the split
assignment: pairs whose members land in different splits are the leaks.
At 100 TB both sides are the same banding shuffle the dedup path already
pays; the split column rides along for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..session import local_frame
from .dedup import (
    candidate_pairs,
    jaccard_pairs,
    lsh_band_buckets,
    minhash_signatures,
)
from .text import hex_prefix_int

TRAIN_DIGITS = tuple("0123456789ab")
VAL_DIGITS = ("c", "d")


def hash_bucket256(text: Column | str) -> Column:
    """Deterministic 0..255 bucket from the first two hex digits of
    ``md5(text)``. Engine-independent by construction (any SQL engine
    with md5 + strpos reproduces it) — the same property the split
    assignment relies on, at 16x finer rate granularity."""
    c = F.col(text) if isinstance(text, str) else text
    return hex_prefix_int(F.md5(c), 2)


def mixture_sample(df: DataFrame, text_col: str, rate_num: Column) -> DataFrame:
    """Deterministic mixture/downsampling filter: keep a row iff its
    content-hash bucket < ``rate_num`` (out of 256), where ``rate_num``
    may vary per row (e.g. per-source mixture weights). The training-data
    "domain reweighting" step: re-running anywhere keeps exactly the same
    documents, and the kept fraction per group converges to rate/256.
    Pure projection+filter — zero shuffle, fully pushdown-friendly."""
    return df.filter(hash_bucket256(text_col) < rate_num)


def split_col(text: Column | str) -> Column:
    """Deterministic split label from the content hash (not the id, so
    re-ingested copies of the same text land in the same split)."""
    c = F.col(text) if isinstance(text, str) else text
    d = F.substring(F.md5(c), 1, 1)
    return (
        F.when(d.isin(*TRAIN_DIGITS), F.lit("train"))
        .when(d.isin(*VAL_DIGITS), F.lit("val"))
        .otherwise(F.lit("test"))
    )


def assign_splits(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, split) assignment — one projection over the scan."""
    return df.select(F.col(id_col), split_col(text_col).alias("split"))


def _split_from_hash(h: Column) -> Column:
    d = F.substring(h, 1, 1)
    return (
        F.when(d.isin(*TRAIN_DIGITS), F.lit("train"))
        .when(d.isin(*VAL_DIGITS), F.lit("val"))
        .otherwise(F.lit("test"))
    )


def leakage_safe_split(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.4,
    n_shingle: int = 3,
    components: DataFrame | None = None,
    max_iter: int = 10,
) -> DataFrame:
    """Split assignment where near-duplicate CLUSTER members share a
    split — the PREVENTION twin of ``split_contamination`` (which only
    detects the leaks after the fact): run the MinHash→LSH→Jaccard
    near-dup pipeline, connect the verified pairs into components, and
    key every member's split on the cluster's MINIMUM content
    fingerprint instead of its own. By construction
    ``split_contamination`` over the resulting assignment is EMPTY at
    the same threshold — a near-dup of a training document can never
    land in eval.

    The key degenerates exactly: a document in no cluster keys on its
    own ``md5(text)``, so singleton assignments are bit-identical to
    ``assign_splits`` — adopting the leakage-safe split only MOVES
    clustered documents. Keying on the cluster-min fingerprint (not
    the representative's id) keeps the content-determinism contract:
    re-ingesting the same texts anywhere reproduces the same splits.

    ``components`` short-circuits the pair pipeline when the caller
    already materialized a cluster table (``near_dup_components``
    output: (doc_id, component)); otherwise it is computed here. Scale
    shape: the banding shuffle the dedup path already pays + one
    min-aggregation over cluster members + one equi-join of the
    (cluster → key) map back onto the clustered rows — both keyed on
    the component, sized by the dup population (AQE broadcasts when it
    is small; at corpus scale it shuffles on the component key like
    any dedup join).

    Returns ``(id, component, split)`` — ``component`` NULL for
    singletons, one row per input document (nothing vanishes)."""
    if components is None:
        sigs = minhash_signatures(
            df, text_col, id_col, num_hashes=8, n_shingle=n_shingle
        )
        pairs = candidate_pairs(
            lsh_band_buckets(sigs, id_col, 8, 2), id_col
        )
        verified = jaccard_pairs(
            pairs, df, text_col, id_col, threshold, n_shingle
        )
        from .dedup import near_dup_components

        components = near_dup_components(
            verified.select("id_a", "id_b"), max_iter=max_iter
        )
    base = df.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("_fp")
    )
    labeled = base.join(
        components.select(
            F.col("doc_id").alias("id"), F.col("component")
        ),
        "id",
        "left",
    )
    # cluster-min fingerprint: the shared split key; singletons keep
    # their own fp (min over a one-element group), so their split is
    # exactly assign_splits'
    rep = (
        labeled.filter(F.col("component").isNotNull())
        .groupBy("component")
        .agg(F.min("_fp").alias("_rep_fp"))
    )
    keyed = labeled.join(rep, "component", "left").select(
        "id",
        "component",
        _split_from_hash(F.coalesce(F.col("_rep_fp"), F.col("_fp"))).alias(
            "split"
        ),
    )
    return keyed


def split_contamination(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.4,
    n_shingle: int = 3,
) -> DataFrame:
    """Near-dup pairs that straddle split boundaries: verified (Jaccard >=
    threshold) pairs where the two documents were assigned different
    splits — the train/test leakage set an eval pipeline must drop."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes=8, n_shingle=n_shingle)
    pairs = candidate_pairs(lsh_band_buckets(sigs, id_col, 8, 2), id_col)
    verified = jaccard_pairs(pairs, df, text_col, id_col, threshold, n_shingle)
    splits = assign_splits(df, text_col, id_col)
    return (
        verified.join(
            splits.withColumnsRenamed({id_col: "id_a", "split": "split_a"}), "id_a"
        )
        .join(
            splits.withColumnsRenamed({id_col: "id_b", "split": "split_b"}), "id_b"
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "jaccard", "split_a", "split_b")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    k: int,
    seed: str = "s1",
) -> DataFrame:
    """Deterministic exact-k-per-stratum sample — the derandomized
    reservoir: within every stratum, rank rows by the md5 of
    ``seed:id`` (a uniform permutation, reproducible anywhere) and keep
    the first ``k``. Guarantees exact per-stratum counts where
    ``mixture_sample``'s hash-threshold guarantees a RATE — the two
    cover the "sample n docs per source for eval/audit" and "downweight
    a domain" halves of corpus assembly.

    One window pass partitioned by the stratum (never a global sort),
    same scale shape as ``epoch_order``. Changing the seed redraws the
    sample; the id tiebreak makes ranks unique even on the (2^-64-ish)
    chance of colliding hashes.

    Returns ``(strata, id, sample_rank)`` for the kept rows only.
    """
    from pyspark.sql.window import Window

    key = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    w = Window.partitionBy("strata").orderBy(F.col("_k").asc(), F.col(id_col).asc())
    return (
        df.select(F.col(strata_col).alias("strata"), F.col(id_col), key.alias("_k"))
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .select("strata", id_col, "sample_rank")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    k: int,
    strata_col: str | None = None,
    seed: str = "w1",
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement (Efraimidis &
    Spirakis 2006, the exponential race): each row draws u ~ U(0,1]
    from the md5 of ``seed:id`` and races with key ``-ln(u)/w``; the k
    smallest keys win. Selection probability scales with weight — the
    "subsample by quality score" / "prefer under-represented domains"
    step of corpus assembly — and the whole draw is a pure projection
    of (seed, id, weight): rerunning ANYWHERE reproduces the exact
    sample, no RNG state, no collect.

    Rows with NULL or non-positive weight never sample (w→0 ⇒ key→∞).

    Scale shape: global (``strata_col=None``) selection is
    orderBy+limit — TakeOrderedAndProject, per-partition partial top-k
    then a k-row merge at the driver-side reduce, never a full sort;
    per-stratum selection is one window pass partitioned by the
    stratum, the `stratified_sample` shape (that function is the
    equal-weights special case of this one).
    """
    from pyspark.sql.window import Window

    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit(seed), F.col(id_col).cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float(1 << 60))
    wkey = -F.log(u) / F.col(weight_col).cast("double")
    base = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("_wkey", wkey)
    if strata_col is None:
        return base.orderBy(
            F.col("_wkey").asc(), F.col(id_col).asc()
        ).limit(k)
    w = Window.partitionBy(strata_col).orderBy(
        F.col("_wkey").asc(), F.col(id_col).asc()
    )
    return base.withColumn(
        "sample_rank", F.row_number().over(w)
    ).filter(F.col("sample_rank") <= k)


def temperature_weights(
    df: DataFrame,
    group_col: str,
    tau: float = 0.3,
    rate_scale: int = 256,
) -> DataFrame:
    """Temperature-scaled domain mixture weights — the multilingual
    balancing rule of mT5 (arXiv:2010.11934 §3.1) / XLM-R: sample group
    g with probability p_g ∝ share_g^tau, where share_g = n_g / N.
    tau = 1 reproduces natural proportions; tau → 0 approaches uniform;
    mT5 ships tau = 0.3. Complements ``domain_mixture_weights``
    (DoReMi — loss-driven) with the count-driven rule, and
    ``mixture_sample`` (fixed per-row rate) with the rule that CHOOSES
    the rates.

    ``keep_rate`` realizes the target mixture by downsample-only
    selection (no replication): r_g = (p_g / n_g) / max_h(p_h / n_h) —
    the most-upweighted group keeps everything, every other group
    subsamples in exact proportion, so the kept corpus follows p_g.
    ``rate_num`` = floor(keep_rate · rate_scale) feeds
    ``mixture_sample``'s deterministic 0..rate_scale-1 content-hash
    bucket filter directly.

    Scale shape: ONE corpus shuffle (the groupBy(group) count, full
    partial aggregation); the total, the normalizer and the max-ratio
    are unpartitioned-window folds OVER THE BOUNDED COUNTS TABLE — a
    single partition of |domains| rows, deliberately chosen over
    agg + crossJoin branches because each 1-row aggregate branch would
    re-execute the corpus count's lineage (the plan-splitting count()
    anti-pattern this module documents elsewhere); here the corpus is
    scanned once no matter how many derived scalars stack.

    Returns ``(group, n_docs, weight, keep_rate, rate_num)`` with
    weight/keep_rate rounded to 6dp; raw doubles feed the arithmetic so
    the rounding discipline matches the doremi_weights convention.
    """
    counts = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return temperature_weights_from_counts(
        counts, tau, rate_scale
    ).withColumnRenamed("grp", group_col)


def temperature_weights_from_counts(
    counts: DataFrame,
    tau: float = 0.3,
    rate_scale: int = 256,
) -> DataFrame:
    """The same mixture rule from an ALREADY-AGGREGATED ``(grp,
    n_docs)`` table — the incremental path: a streaming ingest that
    maintains per-source counts (plain SUM-merge per micro-batch, the
    count-min discipline) re-derives fresh sampling rates from a
    bounded table without ever re-scanning the corpus.
    ``temperature_weights`` is the batch convenience over this."""
    from pyspark.sql.window import Window

    all_rows = Window.partitionBy()  # |domains| rows: bounded model state
    p_raw = F.pow(
        F.col("n_docs") / F.sum("n_docs").over(all_rows), F.lit(float(tau))
    )
    wtd = (
        counts.withColumn("_p", p_raw)
        .withColumn("_w", F.col("_p") / F.sum("_p").over(all_rows))
        .withColumn(
            "_mx", F.max(F.col("_w") / F.col("n_docs")).over(all_rows)
        )
    )
    ratio = (F.col("_w") / F.col("n_docs")) / F.col("_mx")
    # floor alone would hand a rate_num of 0 to any group with
    # keep_rate < 1/rate_scale (imbalance beyond ~rate_scale^(1/(1-tau))
    # — routine in multilingual corpora), silently DELETING the group
    # from the rebalanced corpus; clamp to 1 so extreme heads are
    # down-sampled to the floor rate, never dropped
    return wtd.select(
        "grp",
        "n_docs",
        F.round("_w", 6).alias("weight"),
        F.round(ratio, 6).alias("keep_rate"),
        F.greatest(
            F.floor(F.lit(float(rate_scale)) * ratio).cast("int"),
            F.lit(1),
        ).alias("rate_num"),
    )


def temperature_rebalance(
    df: DataFrame,
    group_col: str,
    text_col: str,
    tau: float = 0.3,
    rate_scale: int = 256,
) -> DataFrame:
    """Apply the temperature mixture end-to-end: join each row's group
    rate back (broadcast — the domain set is bounded) and keep rows via
    the deterministic content-hash bucket (``mixture_sample``'s rule
    inlined, with the rate varying per group). Re-running anywhere
    keeps exactly the same rows; kept counts per group converge to the
    temperature-scaled proportions as rate_scale → ∞ (floor
    quantization binds at small corpora).

    ``rate_scale`` must equal the content-hash bucket granularity (256,
    ``hash_bucket256``): a rate_num scaled to any other denominator
    compared against a 0..255 bucket silently distorts every group's
    keep rate, so anything else raises. (``temperature_weights`` itself
    accepts other scales — its rate_num is a REPORT there, not a filter
    operand.)"""
    if rate_scale != 256:
        raise ValueError(
            "temperature_rebalance keeps rows via hash_bucket256 (0..255);"
            f" rate_scale must be 256, got {rate_scale}"
        )
    rates = temperature_weights(df, group_col, tau, rate_scale).select(
        group_col, "rate_num"
    )
    return df.join(broadcast(rates), group_col).filter(
        hash_bucket256(text_col) < F.col("rate_num")
    )


def curriculum_phases(
    df: DataFrame,
    difficulty_col: str,
    id_col: str,
    thresholds: list,
    seed: str = "cur1",
) -> DataFrame:
    """Curriculum scheduling (Bengio et al. 2009, "Curriculum
    Learning"): assign each row a training PHASE from ascending
    difficulty thresholds — phase p is the first threshold the row's
    difficulty does not exceed (``d <= thresholds[p]``), rows above
    every threshold land in the final phase ``len(thresholds)`` — plus
    a deterministic md5 shuffle key so examples arrive well-mixed
    WITHIN a phase (consecutive corpus rows are usually correlated;
    the key decorrelates them without RNG state, the
    ``weighted_sample`` u-draw construction).

    Thresholds typically come from ``logbucket_quantiles`` on the
    difficulty column (e.g. the LM score of ``bigram_interp_scores``
    or ``lm_buckets``'s tercile bounds) — sketch-derived, so the whole
    schedule needs no corpus sort anywhere.

    Pure projection — zero shuffle here; the 100 TB write pattern is
    ``.repartitionByRange("phase", "curriculum_key")`` +
    ``sortWithinPartitions`` on the same keys, which delivers global
    curriculum order through Spark's range-partitioned write instead
    of any single-task sort. NULL difficulty surfaces as NULL phase
    (visible, never silently bucketed). Raises on empty or
    non-ascending thresholds.

    Returns the input plus ``(phase int, curriculum_key bigint)``.
    """
    ts = [float(t) for t in thresholds]
    if not ts or any(b <= a for a, b in zip(ts, ts[1:])):
        raise ValueError(
            f"thresholds must be non-empty and strictly ascending: {ts!r}"
        )
    d = F.col(difficulty_col).cast("double")
    phase = F.lit(len(ts))
    for p in range(len(ts) - 1, -1, -1):
        phase = F.when(d <= F.lit(ts[p]), F.lit(p)).otherwise(phase)
    phase = F.when(d.isNotNull(), phase)
    key = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return df.withColumn("phase", phase.cast("int")).withColumn(
        "curriculum_key", key
    )


def curriculum_report(
    df: DataFrame,
    difficulty_col: str,
    id_col: str,
    thresholds: list,
    seed: str = "cur1",
) -> DataFrame:
    """Per-phase audit of a curriculum schedule: row counts and the
    observed difficulty envelope next to the declared phase bounds —
    the check that a threshold refresh (quantile drift!) still
    partitions the corpus the way the training run assumes. One
    partial-agg groupBy over the ``curriculum_phases`` projection;
    output is bounded by the phase count. NULL-difficulty rows appear
    as a NULL-phase row with their count."""
    ts = [float(t) for t in thresholds]
    staged = curriculum_phases(df, difficulty_col, id_col, ts, seed)
    return (
        staged.groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(F.col(difficulty_col).cast("double")).alias("d_min"),
            F.max(F.col(difficulty_col).cast("double")).alias("d_max"),
        )
        .select(
            "phase",
            "n_rows",
            "d_min",
            "d_max",
            F.when(
                F.col("phase") > 0,
                F.element_at(
                    F.array(*[F.lit(t) for t in ts]), F.col("phase")
                ),
            ).alias("bound_lo"),
            F.when(
                F.col("phase") < len(ts),
                F.element_at(
                    F.array(*[F.lit(t) for t in ts]), F.col("phase") + 1
                ),
            ).alias("bound_hi"),
        )
        .orderBy("phase")
    )


def unimax_allocation(
    counts: DataFrame,
    budget: int,
    max_epochs: int = 4,
    grp_col: str = "grp",
    n_col: str = "n_tokens",
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining", public arXiv:2304.09151) — the third mixture rule
    next to temperature sampling and DoReMi: spend a total token
    ``budget`` as UNIFORMLY as possible across domains, but never take
    more than ``max_epochs`` passes over any domain (the cap that stops
    a low-resource language being repeated into memorization).

    This is exact-integer WATER-FILLING over the bounded per-domain
    count table: sort domains by cap ``c_i = max_epochs·n_i`` ascending
    (domain-asc tie-break); a domain is CAPPED iff even granting every
    remaining domain its cap-floor is affordable,

        c_(r) · (N − r + 1)  ≤  budget − Σ_{s<r} c_(s)

    (capped domains form a prefix of the sort — the standard
    water-filling exchange argument); the leftover after paying all
    caps splits as ``div``/``mod`` across the m uncapped domains, the
    first ``R mod m`` in sort order taking one extra token. Every
    comparison and division is BIGINT, so the allocation is bit-exact,
    layout-independent, and replays as one window-function SQL — no
    iteration, no floats anywhere except the 6dp ``epochs_alloc``
    report column.

    All windows run on the |domains| rows of the aggregated count
    table (bounded model state, the ``temperature_weights_from_counts``
    convention). NULL or non-positive counts raise loudly; if budget ≥
    Σ caps every domain is capped and the surplus is visible as
    ``spent < budget``. Returns ``(grp, n_tokens, cap, capped, alloc,
    epochs_alloc)``."""
    from pyspark.sql.window import Window

    if int(budget) <= 0:
        raise ValueError(f"budget must be positive: got {budget!r}")
    if int(max_epochs) < 1:
        raise ValueError(
            f"max_epochs must be a positive integer: got {max_epochs!r}"
        )
    c = counts.select(
        F.col(grp_col).cast("string").alias("grp"),
        F.col(n_col).cast("bigint").alias("n_tokens"),
    )
    bad = c.agg(
        F.sum(
            (
                F.col("grp").isNull()
                | F.col("n_tokens").isNull()
                | (F.col("n_tokens") <= 0)
            ).cast("bigint")
        ).alias("nb")
    ).collect()[0]
    if int(bad.nb or 0) > 0:
        raise ValueError(
            f"unimax_allocation: {bad.nb} domains have a NULL group or"
            f" non-positive {n_col!r} — aggregate counts first"
        )
    B = F.lit(int(budget)).cast("long")
    w_all = Window.partitionBy()  # |domains| rows: bounded model state
    w_ord = Window.orderBy(F.col("cap").asc(), F.col("grp").asc())
    ranked = (
        c.withColumn(
            "cap", F.col("n_tokens") * F.lit(int(max_epochs)).cast("long")
        )
        .withColumn("_r", F.row_number().over(w_ord))
        .withColumn(
            "_cum_before",
            F.coalesce(
                F.sum("cap").over(
                    w_ord.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn("_n", F.count(F.lit(1)).over(w_all))
    )
    capped = (
        F.col("cap") * (F.col("_n") - F.col("_r") + F.lit(1))
        <= B - F.col("_cum_before")
    )
    staged = (
        ranked.withColumn("capped", capped)
        .withColumn(
            "_k", F.sum(F.col("capped").cast("long")).over(w_all)
        )
        .withColumn(
            "_s",
            F.coalesce(
                F.sum(F.when(F.col("capped"), F.col("cap"))).over(w_all),
                F.lit(0).cast("long"),
            ),
        )
    )
    m = F.col("_n") - F.col("_k")
    r_left = B - F.col("_s")
    # integer div/mod split across the uncapped suffix (deterministic:
    # the first R mod m uncapped domains in sort order take +1)
    u_rank = F.col("_r") - F.col("_k")
    alloc = F.when(F.col("capped"), F.col("cap")).otherwise(
        F.expr("(_left) div (_m)")
        + F.when(u_rank <= F.expr("(_left) % (_m)"), F.lit(1).cast("long"))
        .otherwise(F.lit(0).cast("long"))
    )
    return (
        staged.withColumn("_m", m)
        .withColumn("_left", r_left)
        .withColumn("alloc", alloc)
        .select(
            "grp",
            "n_tokens",
            "cap",
            "capped",
            F.col("alloc").cast("bigint").alias("alloc"),
            F.round(
                F.col("alloc").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ).alias("epochs_alloc"),
        )
    )


def domain_concentration(
    counts: DataFrame,
    grp_col: str = "grp",
    n_col: str = "n_tokens",
    scale: int = 10**9,
) -> DataFrame:
    """Corpus concentration diagnostics over the bounded domain-count
    table — the one-row companion a mixture decision reads before
    picking a rule (temperature / DoReMi / UniMax): how UNEQUAL is the
    corpus right now?

        gini    = (2·Σ_i i·x_(i)) / (N·T) − (N+1)/N   (x ascending)
        top1 / top10 share                            (exact rationals)
        entropy = −Σ (x/T)·ln(x/T), 6dp               (nats)

    Gini and the shares are EXACT: integer rank-weighted sums and
    integer divisions, rounded only at print (6dp). Entropy's ln terms
    quantize per domain to BIGINT ``scale``-units half-up (the
    ``vocab_richness`` regression discipline) and integer-sum, so the
    whole row is bit-stable under any layout and replays as window
    SQL. All windows run on the |domains| rows of the aggregated table
    (bounded model state). NULL or non-positive counts raise. Returns
    one row: ``(n_domains, total, gini, top1_share, top10_share,
    entropy)``."""
    from fractions import Fraction

    from pyspark.sql.window import Window

    scale = int(scale)
    c = counts.select(
        F.col(grp_col).cast("string").alias("grp"),
        F.col(n_col).cast("bigint").alias("x"),
    )
    bad = c.agg(
        F.sum(
            (
                F.col("grp").isNull()
                | F.col("x").isNull()
                | (F.col("x") <= 0)
            ).cast("bigint")
        ).alias("nb")
    ).collect()[0]
    if int(bad.nb or 0) > 0:
        raise ValueError(
            f"domain_concentration: {bad.nb} domains have a NULL group"
            f" or non-positive {n_col!r} — aggregate counts first"
        )
    w_asc = Window.orderBy(F.col("x").asc(), F.col("grp").asc())
    w_desc = Window.orderBy(F.col("x").desc(), F.col("grp").asc())
    w_all = Window.partitionBy()  # |domains| rows: bounded model state
    row = (
        c.withColumn("r", F.row_number().over(w_asc))
        .withColumn("rd", F.row_number().over(w_desc))
        .withColumn("tot", F.sum("x").over(w_all))
        .withColumn(
            "hq1",
            F.expr(
                f"cast(floor(-(x / cast(tot as double))"
                f" * ln(x / cast(tot as double)) * {scale} + 0.5d)"
                " as bigint)"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("t"),
            F.sum(F.col("r") * F.col("x")).alias("rw"),
            F.sum(F.when(F.col("rd") == 1, F.col("x"))).alias("t1"),
            F.coalesce(
                F.sum(F.when(F.col("rd") <= 10, F.col("x"))), F.lit(0)
            ).alias("t10"),
            F.sum("hq1").alias("hq"),
        )
        .collect()[0]
    )  # six integers: bounded model state
    n, t = int(row.n), int(row.t)
    gini = Fraction(2 * int(row.rw), n * t) - Fraction(n + 1, n)
    spark = counts.sparkSession
    return local_frame(
        spark,
        [
            (
                n,
                t,
                round(float(gini), 6),
                round(float(Fraction(int(row.t1), t)), 6),
                round(float(Fraction(int(row.t10), t)), 6),
                round(int(row.hq) / scale, 6),
            )
        ],
        "n_domains bigint, total bigint, gini double, top1_share double,"
        " top10_share double, entropy double",
    )


def winsorize_scores(
    df: DataFrame,
    value_col: str,
    id_col: str,
    grp_col: str | None = None,
    lo_pct: int = 1,
    hi_pct: int = 99,
) -> DataFrame:
    """Per-group winsorization at exact ceil-rank order statistics —
    the robust-normalization step before score-driven mixture math
    (temperature/DoReMi weights, quality thresholds): a handful of
    outlier scores otherwise owns the tail arithmetic. Bounds are the
    ceil-rank percentile convention the bootstrap family pins,

        rank(p) = max(ceil(n·p/100), 1)-th smallest (ties → id order)

    — REAL data values, never interpolation (nothing to disagree on
    cross-engine), computed with integer arithmetic
    ``(n·p + 99) div 100``. Values outside [lo, hi] clamp; the bounds
    and a ``clipped`` flag stay visible per row (fail-as-data: the
    audit can count exactly what moved).

    Scale shape (round-10 rewrite — the ``conformal_report`` cell
    collapse): the rank-k VALUE does not depend on the id tie-break,
    so bounds come from the bounded (grp, value, count) CELL table —
    one partial-agg groupBy, a cumulative-count window over CELLS
    (distinct values, not rows), one bounded per-group bounds
    aggregate, one join back keyed on the group. No row-level window
    exists in ANY shape, grouped or global: with ``grp_col=None`` the
    single-partition stage is over the distinct-VALUE cells only —
    score distributions have bounded support in practice (quantized
    scores, small-int ratios); a pathological all-distinct corpus
    still wants a group. NULL/NaN values raise (a clamped NaN would
    silently become a real bound). Returns
    ``(<grp>, id, value, lo, hi, value_w, clipped)``."""
    from pyspark.sql.window import Window

    if not (0 <= int(lo_pct) < int(hi_pct) <= 100):
        raise ValueError(
            f"need 0 <= lo_pct < hi_pct <= 100: got {lo_pct!r}, {hi_pct!r}"
        )
    v = F.col(value_col).cast("double")
    x = df.select(
        *([F.col(grp_col).alias("grp")] if grp_col else [F.lit(0).alias("grp")]),
        F.col(id_col).alias("id"),
        v.alias("v"),
    )
    bad = x.agg(
        F.sum(
            (F.col("v").isNull() | F.isnan("v")).cast("bigint")
        ).alias("nb")
    ).collect()[0]
    if int(bad.nb or 0) > 0:
        raise ValueError(
            f"winsorize_scores: {bad.nb} rows have NULL/NaN"
            f" {value_col!r} — clamping them would fabricate bounds"
        )
    cells = x.groupBy("grp", "v").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    w_cum = (
        Window.partitionBy("grp")
        .orderBy(F.col("v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_n = Window.partitionBy("grp")
    cum = cells.withColumn("_cum", F.sum("_c").over(w_cum)).withColumn(
        "_n", F.sum("_c").over(w_n)
    )
    lo_rank = F.greatest(
        F.expr(f"(_n * {int(lo_pct)} + 99) div 100"), F.lit(1).cast("long")
    )
    hi_rank = F.greatest(
        F.expr(f"(_n * {int(hi_pct)} + 99) div 100"), F.lit(1).cast("long")
    )
    # k-th smallest value = first cell whose cumulative count reaches k
    bounds = cum.groupBy("grp").agg(
        F.min(F.when(F.col("_cum") >= lo_rank, F.col("v"))).alias("lo"),
        F.min(F.when(F.col("_cum") >= hi_rank, F.col("v"))).alias("hi"),
    )
    out = x.join(bounds, "grp").select(
        *([F.col("grp").alias(grp_col)] if grp_col else []),
        "id",
        F.col("v").alias("value"),
        "lo",
        "hi",
        F.greatest(F.least(F.col("v"), F.col("hi")), F.col("lo")).alias(
            "value_w"
        ),
        ((F.col("v") < F.col("lo")) | (F.col("v") > F.col("hi"))).alias(
            "clipped"
        ),
    )
    return out


def mad_scores(
    df: DataFrame,
    value_col: str,
    id_col: str,
    grp_col: str | None = None,
    z_thresh_pct: int = 350,
) -> DataFrame:
    """Robust per-group score normalization at exact order statistics —
    median + MAD (median absolute deviation) with the Iglewicz &
    Hoaglin (1993) modified z-score,

        M_i = 0.6745 · (x_i − median) / MAD,
        outlier iff |M_i| > z_thresh_pct/100     (default 3.5)

    — the mean/stddev z-score's robust twin for quality/length/LM
    score columns whose tails are exactly what the filter is hunting:
    one wild document moves a mean and explodes a stddev, but moves
    neither the median nor the MAD. The companion to
    [[winsorize_scores]] (clamp) — this one SCORES and FLAGS, leaving
    values intact (fail-as-data).

    Exactness discipline: median and MAD are REAL data values at exact
    ceil ranks — median = the ((n+1) div 2)-th smallest (the lower
    median, never an interpolated midpoint), MAD = the lower median of
    |x − median|; both come from cumulative-count windows over the
    bounded (grp, value, count) CELL table (the ``winsorize_scores``
    collapse — no row-level window in any shape). |x − median| and the
    modified z use only IEEE-exact −, ×, ÷ on those values; the
    reported z is then HALF-UP QUANTIZED at 6dp in the integer domain
    (floor(z·10⁶ + 0.5), the repo's quantization convention) and the
    outlier flag compares integer fp against z_thresh_pct·10⁴ — a
    rational input can land z exactly on a 6dp half-way point (seen at
    sf0.01: 0.6745·(−48)/128), where engine ``round`` conventions
    (decimal-string half-up vs binary half-even) disagree; floor(+0.5)
    on the identical IEEE double is engine-independent.
    A zero MAD (over half the group shares one value) yields NULL
    ``robust_z``/``outlier`` — visible, never a fabricated infinity.
    NULL/NaN values raise (the winsorize rule). Returns
    ``(<grp>, id, value, median, mad, robust_z, outlier)``."""
    from pyspark.sql.window import Window

    if int(z_thresh_pct) <= 0:
        raise ValueError(
            f"z_thresh_pct must be positive: got {z_thresh_pct!r}"
        )
    v = F.col(value_col).cast("double")
    x = df.select(
        *([F.col(grp_col).alias("grp")] if grp_col else [F.lit(0).alias("grp")]),
        F.col(id_col).alias("id"),
        v.alias("v"),
    )
    bad = x.agg(
        F.sum((F.col("v").isNull() | F.isnan("v")).cast("bigint")).alias("nb")
    ).collect()[0]
    if int(bad.nb or 0) > 0:
        raise ValueError(
            f"mad_scores: {bad.nb} rows have NULL/NaN {value_col!r} —"
            " scoring them would fabricate medians"
        )

    def _median_of(frame, col):
        # lower median from the bounded value-cell table: the k-th
        # smallest value with k = (n+1) div 2 — a REAL data value
        cells = frame.groupBy("grp", col).agg(
            F.count(F.lit(1)).cast("long").alias("_c")
        )
        w_cum = (
            Window.partitionBy("grp")
            .orderBy(F.col(col).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = cells.withColumn("_cum", F.sum("_c").over(w_cum)).withColumn(
            "_n", F.sum("_c").over(Window.partitionBy("grp"))
        )
        k = F.expr("(_n + 1) div 2")
        return cum.groupBy("grp").agg(
            F.min(F.when(F.col("_cum") >= k, F.col(col))).alias("_med")
        )
    med = _median_of(x, "v").withColumnRenamed("_med", "median")
    dev = x.join(med, "grp").withColumn(
        "_d", F.abs(F.col("v") - F.col("median"))
    )
    mad = _median_of(dev, "_d").withColumnRenamed("_med", "mad")
    z = (
        F.lit(0.6745)
        * (F.col("v") - F.col("median"))
        / F.col("mad")
    )
    z_fp = F.floor(z * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    thresh_fp = F.lit(int(z_thresh_pct) * 10000)
    return (
        dev.join(mad, "grp")
        .select(
            *([F.col("grp").alias(grp_col)] if grp_col else []),
            "id",
            F.col("v").alias("value"),
            "median",
            "mad",
            F.when(F.col("mad") > 0, z_fp / F.lit(1000000.0)).alias(
                "robust_z"
            ),
            F.when(F.col("mad") > 0, F.abs(z_fp) > thresh_fp).alias(
                "outlier"
            ),
        )
    )
