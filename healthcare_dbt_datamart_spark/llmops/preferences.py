"""Preference & annotation aggregation — the RLHF-side data prep.

Reward-model and evaluation datasets arrive as human judgments: A-vs-B
preference pairs and per-item label votes. Before they train anything,
a pipeline aggregates them — consensus labels, annotator reliability,
and a global item ranking from pairwise wins. All three are here,
engine-reproducible like the rest of the llmops family:

- ``majority_vote``: consensus label per item + agreement ratio
  (deterministic tie-break), one partial-agg groupBy + one per-item
  window.
- ``annotator_agreement``: each annotator's rate of matching the
  consensus — the standard quick reliability screen before weighting
  or dropping raters.
- ``bradley_terry``: latent quality ratings from pairwise outcomes
  (Bradley & Terry 1952) via Hunter's MM iteration (Hunter, Annals of
  Statistics 2004) — the model behind Chatbot-Arena-style rankings.
  FIXED-POINT INTEGER arithmetic throughout (the ``pagerank_fixedpoint``
  discipline): ratings are BIGINT in ``scale`` units, every MM round is
  integer floor-division and associative integer sums, so the result is
  bit-exact under any partitioning and replays cell-for-cell in a
  DuckDB oracle's unrolled CTEs — a float MM loop cannot be hash-gated
  across engines.

Scale shape (``bradley_terry``): outcomes collapse ONCE to per-ordered-
pair win counts (one shuffle, partial-agg); each MM round is one join
of ratings onto the bounded pair table + one partial-agg groupBy —
state per round is one (item, rating) row per item, lineage cut by
``session.truncate_lineage`` like every other loop.
"""

from __future__ import annotations

from contextlib import nullcontext

from pyspark.sql import DataFrame, functions as F

from ..session import local_frame, pinned, truncate_lineage


def majority_vote(
    votes: DataFrame,
    item_col: str = "item_id",
    label_col: str = "label",
) -> DataFrame:
    """Consensus per item: ``(item, majority_label, n_votes,
    n_majority, agreement)`` — agreement = n_majority / n_votes rounded
    6dp; ties break to the lexicographically smallest label so the
    result is deterministic on any engine."""
    from pyspark.sql.window import Window

    counts = votes.groupBy(
        F.col(item_col).alias("item"), F.col(label_col).alias("lab")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("item").orderBy(
        F.col("n").desc(), F.col("lab").asc()
    )
    tot = Window.partitionBy("item")
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_votes", F.sum("n").over(tot))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("item").alias(item_col),
            F.col("lab").alias("majority_label"),
            "n_votes",
            F.col("n").alias("n_majority"),
            F.round(F.col("n") / F.col("n_votes"), 6).alias("agreement"),
        )
    )


def annotator_agreement(
    votes: DataFrame,
    item_col: str = "item_id",
    annotator_col: str = "annotator_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-annotator consensus-agreement rate: ``(annotator, n_items,
    n_agree, agree_rate)`` — the reliability screen run before
    weighting or excluding raters. One broadcast-size join against the
    majority table when items are bounded; at corpus scale it is a plain
    equi-join on the item key (both sides partial-agg shaped)."""
    maj = majority_vote(votes, item_col, label_col).select(
        item_col, "majority_label"
    )
    return (
        votes.join(maj, item_col)
        .groupBy(F.col(annotator_col).alias("annotator"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                (F.col(label_col) == F.col("majority_label")).cast("long")
            ).alias("n_agree"),
        )
        .select(
            F.col("annotator").alias(annotator_col),
            "n_items",
            "n_agree",
            F.round(F.col("n_agree") / F.col("n_items"), 6).alias(
                "agree_rate"
            ),
        )
    )


def bradley_terry(
    outcomes: DataFrame,
    n_iter: int = 5,
    scale: int = 10**6,
    smoothing2: int = 1,
    winner_col: str = "winner_id",
    loser_col: str = "loser_id",
    checkpoint_every: int = 1,
) -> DataFrame:
    """Bradley-Terry ratings from pairwise outcomes ``(winner, loser)``
    via ``n_iter`` MM rounds, all-integer:

        D_i  = Σ_j  (n_ij · scale²) div (P_i + P_j)
        P'_i = (W_i · scale²) div D_i

    where P is the rating in ``scale`` fixed-point units (start 1.0 =
    ``scale``), W_i the item's total (smoothed) wins and n_ij the
    (smoothed) comparisons between i and j. ``smoothing2`` is TWICE the
    Laplace smoothing added per observed ordered pair (default 1 =
    +0.5 win each way — doubling keeps the arithmetic integer; BT
    ratings are invariant to scaling all counts, so doubling changes
    nothing else). Smoothing keeps 0-win items at small positive
    ratings instead of collapsing to 0 and guards the division.

    Overflow bounds (BIGINT): ``n_ij · scale²`` and ``W_i · scale²``
    must stay below 2^63 — at the default scale=1e6 that allows ~9e6
    (smoothed-doubled) comparisons per pair and ~9e6 wins per item;
    drop scale to 1e4 for arena-size vote volumes.

    Returns ``(item, wins2, comparisons2, rating_fp)`` — counts in the
    doubled+smoothed units, rating in fixed-point ``scale`` units
    (divide by scale for the real number). Deterministic and bit-exact
    under any partitioning: integer sums are associative."""
    # per-ordered-pair DOUBLED win counts — the sum-mergeable raw shape
    # a streaming ingest maintains (streaming/sketches.py::
    # pref_counts_merge_batch); smoothing applies once, downstream.
    # Self-comparisons are degenerate (an item cannot inform its own
    # rating) and are dropped, the arena convention.
    raw = (
        outcomes.filter(F.col(winner_col) != F.col(loser_col))
        .groupBy(F.col(winner_col).alias("i"), F.col(loser_col).alias("j"))
        .agg((F.lit(2) * F.count(F.lit(1))).alias("w2"))
    )
    # raw is unique per (i, j) by construction — skip from_pairs'
    # defensive re-aggregation (one fewer shuffle of the pair table)
    return bradley_terry_from_pairs(
        raw, n_iter=n_iter, scale=scale, smoothing2=smoothing2,
        checkpoint_every=checkpoint_every, pre_collapsed=True,
    )


def bradley_terry_from_pairs(
    pair_wins2: DataFrame,
    n_iter: int = 5,
    scale: int = 10**6,
    smoothing2: int = 1,
    checkpoint_every: int = 1,
    pre_collapsed: bool = False,
) -> DataFrame:
    """The MM iteration from an ALREADY-AGGREGATED ``(i, j, w2)`` table
    of directed DOUBLED win counts (2 · wins, unsmoothed) — the
    incremental path: per-batch counts SUM-merge (the count-min
    discipline, ledger-gated in ``pref_counts_merge_batch``), and the
    leaderboard re-derives from the bounded pair table without ever
    re-scanning outcomes. ``bradley_terry`` is the batch convenience
    over this. Smoothing is applied HERE, once, so merged and
    single-shot inputs rate identically. Degenerate i = j rows are
    dropped defensively (a self-pair cannot inform a rating, and the
    streamed counts table carries its batch ledger as a sentinel
    self-row).

    ``pre_collapsed=True`` skips the internal (i, j) re-aggregation —
    pure shuffle avoidance for callers whose input IS already unique
    per ordered pair (the output of a groupBy collapse, as
    ``bradley_terry`` builds and the leaderboard DAG's ``pair_counts``
    maintains). UNLIKE elo_ratings' flag this one is a CONTRACT:
    smoothing applies once per (i, j) ROW, so duplicate pair rows
    would each collect their own +smoothing mass and rate differently
    — only set it for genuinely collapsed inputs."""
    if pre_collapsed:
        wins = pair_wins2.filter(F.col("i") != F.col("j")).select(
            "i", "j", (F.col("w2") + F.lit(smoothing2)).alias("w2")
        )
    else:
        wins = (
            pair_wins2.filter(F.col("i") != F.col("j"))
            .groupBy("i", "j")
            .agg(F.sum("w2").alias("_w2raw"))
            .select(
                "i", "j", (F.col("_w2raw") + F.lit(smoothing2)).alias("w2")
            )
        )
    # mirror + smoothing + n_ij in ONE full-outer self-join: a row per
    # ordered direction of every observed pair, the unobserved mirror
    # getting exactly the smoothing mass, and n2(i,j) = w2(i,j) + w2(j,i)
    # riding each direction. (The spelled-out union-distinct +
    # left-join + reverse-join chain computes the same table in three
    # extra shuffles of the pair set.)
    rev = wins.select(
        F.col("j").alias("i"), F.col("i").alias("j"),
        F.col("w2").alias("w2_rev"),
    )
    s = F.lit(smoothing2)
    pairs = (
        wins.join(rev, ["i", "j"], "full_outer")
        .select(
            "i",
            "j",
            F.coalesce("w2", s).alias("w2"),
            (F.coalesce("w2", s) + F.coalesce("w2_rev", s)).alias("n2"),
        )
    )
    # loop-invariant: every MM round re-reads the pair table
    with pinned(pairs) as pairs:
        # one aggregation pass over the cached pairs for BOTH per-item
        # totals (two separate groupBys shuffle the pair table twice)
        tot = pairs.groupBy("i").agg(
            F.sum("w2").alias("wins2"), F.sum("n2").alias("comparisons2")
        )
        # materialize the bounded per-item totals ONCE while pairs is
        # cached (this cut is the job that fills the pairs cache): the
        # returned plan joins tot after the block releases pairs, so
        # without this cut every consumer action re-executed the whole
        # outcome/pair pipeline just to re-derive the totals (the elo
        # `tot` fix, round-12 verdict item 6, applied to the BT twin).
        tot = truncate_lineage(tot)
        w_tot = tot.select("i", "wins2")

        s2 = scale * scale
        ratings = w_tot.select(
            F.col("i").alias("id"), F.lit(int(scale)).cast("long").alias("p")
        )
        for rnd in range(n_iter):
            ri = ratings.withColumnsRenamed({"id": "i", "p": "p_i"})
            rj = ratings.withColumnsRenamed({"id": "j", "p": "p_j"})
            # ratings are bounded MODEL STATE (one row per item): broadcast
            # them into the pair-table joins so each MM round is map-only
            # over the persisted pairs — no per-round shuffle of the pair
            # table (an SMJ here re-sorts ~items² rows every round)
            denom = (
                pairs.join(F.broadcast(ri), "i")
                .join(F.broadcast(rj), "j")
                .select(
                    "i",
                    F.expr(
                        f"(n2 * cast({s2} as bigint)) div (p_i + p_j)"
                    ).alias("d"),
                )
                .groupBy("i")
                .agg(F.sum("d").alias("D"))
            )
            ratings = (
                denom.join(w_tot, "i")
                .select(
                    F.col("i").alias("id"),
                    F.expr(f"(wins2 * cast({s2} as bigint)) div D").alias("p"),
                )
            )
            ratings = truncate_lineage(ratings, rnd, n_iter, checkpoint_every)
    return (
        ratings.join(tot.withColumnsRenamed({"i": "id"}), "id")
        .select(
            F.col("id").alias("item"),
            "wins2",
            "comparisons2",
            F.col("p").alias("rating_fp"),
        )
    )


def best_of_n(
    samples: DataFrame,
    prompt_col: str = "prompt_id",
    response_col: str = "response_id",
    reward_col: str = "reward",
) -> DataFrame:
    """Best-of-n selection (rejection sampling over a reward model —
    the RLHF data-construction staple): per prompt, keep the
    highest-reward response. Deterministic: ties break on ascending
    response id, NULL rewards sort last (an unscored response can never
    win). One rank-then-filter window per prompt partition — no global
    sort, no shuffle beyond the prompt key. Returns ``(prompt, response,
    reward, n_samples)``."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(prompt_col).orderBy(
        F.col(reward_col).desc_nulls_last(), F.col(response_col).asc()
    )
    tot = Window.partitionBy(prompt_col)
    return (
        samples.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_samples", F.count(F.lit(1)).over(tot))
        .filter(F.col("_rn") == 1)
        .select(prompt_col, response_col, reward_col, "n_samples")
    )


def dpo_pairs(
    samples: DataFrame,
    prompt_col: str = "prompt_id",
    response_col: str = "response_id",
    reward_col: str = "reward",
    min_margin: float = 0.0,
) -> DataFrame:
    """DPO preference-pair construction (Rafailov et al. 2023,
    arXiv:2305.18290 train-data shape): per prompt, pair the
    highest-reward response (chosen) against the lowest (rejected),
    keeping only prompts whose reward gap EXCEEDS ``min_margin`` — a
    zero-gap pair carries no preference signal and a small-gap pair is
    mostly reward-model noise (the margin is the data-quality knob).
    NULL-reward responses are excluded up front (unscored text can be
    neither chosen nor rejected). Deterministic tie-breaks on ascending
    response id at both ends.

    ONE window pass per direction over the prompt partition (no
    self-join of the samples relation). Returns ``(prompt, chosen,
    rejected, reward_chosen, reward_rejected, reward_gap)`` with the
    gap rounded 6dp."""
    from pyspark.sql.window import Window

    scored = samples.filter(F.col(reward_col).isNotNull())
    up = Window.partitionBy(prompt_col).orderBy(
        F.col(reward_col).desc(), F.col(response_col).asc()
    )
    down = Window.partitionBy(prompt_col).orderBy(
        F.col(reward_col).asc(), F.col(response_col).asc()
    )
    ranked = scored.select(
        F.col(prompt_col).alias("prompt"),
        F.col(response_col).alias("resp"),
        F.col(reward_col).alias("r"),
        F.row_number().over(up).alias("_best"),
        F.row_number().over(down).alias("_worst"),
    )
    best = ranked.filter(F.col("_best") == 1).select(
        "prompt",
        F.col("resp").alias("chosen"),
        F.col("r").alias("reward_chosen"),
    )
    worst = ranked.filter(F.col("_worst") == 1).select(
        "prompt",
        F.col("resp").alias("rejected"),
        F.col("r").alias("reward_rejected"),
    )
    return (
        best.join(worst, "prompt")
        .filter(
            F.col("chosen") != F.col("rejected")
        )  # single-response prompts pair with themselves: no signal
        .withColumn(
            "reward_gap",
            F.round(
                F.col("reward_chosen") - F.col("reward_rejected"), 6
            ),
        )
        .filter(F.col("reward_gap") > F.lit(float(min_margin)))
        .select(
            F.col("prompt").alias(prompt_col),
            "chosen",
            "rejected",
            "reward_chosen",
            "reward_rejected",
            "reward_gap",
        )
    )


def pass_at_k(
    samples: DataFrame,
    ks: tuple = (1, 10),
    task_col: str = "task_id",
    passed_col: str = "passed",
) -> DataFrame:
    """The unbiased pass@k estimator (Chen et al. 2021, "Evaluating
    Large Language Models Trained on Code", arXiv:2107.03374 §2.1) per
    task from per-sample outcomes: with n samples and c passing,

        pass@k = 1 − C(n−c, k) / C(n, k)
               = 1 − Π_{j=0..k−1} (n−c−j)/(n−j)

    computed in the numerically-stable product form as ONE sequential
    array fold per row (``F.aggregate`` over ``sequence(0, k−1)`` —
    deterministic evaluation order, so the double product replays
    exactly in any engine with an ordered list fold). Tasks with
    n − c < k score exactly 1.0, n < k yields NULL (the estimator is
    undefined — surfacing it beats silently clamping).

    One partial-agg groupBy to (n, c); the fold runs over a k-length
    literal sequence per task row. Returns ``(task, n_samples,
    n_passed, pass_at_<k>...)`` rounded 6dp."""
    agg = samples.groupBy(F.col(task_col).alias("task")).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(F.col(passed_col).cast("long")).alias("n_passed"),
    )
    cols = [F.col("task").alias(task_col), "n_samples", "n_passed"]
    for k in ks:
        k = int(k)
        prod = F.aggregate(
            F.sequence(F.lit(0), F.lit(k - 1)),
            F.lit(1.0),
            lambda acc, j: acc
            * (F.col("n_samples") - F.col("n_passed") - j).cast("double")
            / (F.col("n_samples") - j).cast("double"),
        )
        est = (
            F.when(F.col("n_samples") < k, F.lit(None).cast("double"))
            .when(F.col("n_samples") - F.col("n_passed") < k, F.lit(1.0))
            .otherwise(F.round(F.lit(1.0) - prod, 6))
        )
        cols.append(est.alias(f"pass_at_{k}"))
    return agg.select(*cols)


def fleiss_kappa(
    votes: DataFrame,
    item_col: str = "item_id",
    label_col: str = "label",
) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971) — chance-corrected agreement across
    the whole annotation job, the number a data card reports next to
    the per-rater screen. Requires the classic design (every item rated
    by the same number of raters n ≥ 2) and RAISES on ragged panels
    rather than silently mis-weighting them.

    Exact-integer formulation: with N items, n raters, S_k total votes
    for category k and Q = Σ_i Σ_k n_ik²,

        P̄  = (Q − N·n) / (N·n·(n−1))
        P_e = Σ_k S_k² / (N·n)²
        κ   = (P̄ − P_e) / (1 − P_e)

    Every aggregate (Q, S_k, N) is an associative BIGINT sum — the
    result is deterministic under any partitioning and replays exactly
    in DuckDB; the only floats are the three final divisions on exact
    integer operands. Keep N·n below ~3·10⁹ so S_k² fits BIGINT.

    Two partial-agg groupBys (item-category cells, then category
    totals); the scalar folds run over the bounded cell table. Returns
    one row: ``(n_items, n_raters, p_bar, p_e, kappa)`` rounded 6dp.
    """
    from pyspark.sql.window import Window

    cells = votes.groupBy(
        F.col(item_col).alias("item"), F.col(label_col).alias("lab")
    ).agg(F.count(F.lit(1)).alias("n_ik"))
    per_item = cells.groupBy("item").agg(
        F.sum("n_ik").alias("n"), F.sum(F.col("n_ik") * F.col("n_ik")).alias("q_i")
    )
    panel = per_item.agg(
        F.count(F.lit(1)).alias("N"),
        F.count_distinct("n").alias("_n_distinct"),
        F.max("n").alias("n"),
        F.sum("q_i").alias("Q"),
    ).collect()[0]
    if panel._n_distinct != 1 or panel.n < 2:
        raise ValueError(
            "fleiss_kappa needs every item rated by the same n >= 2 raters;"
            f" got {panel._n_distinct} distinct panel sizes (max {panel.n})"
        )
    n_items, n_raters, q_tot = int(panel.N), int(panel.n), int(panel.Q)
    all_rows = Window.partitionBy()  # bounded: one row per category
    s_k = cells.groupBy("lab").agg(F.sum("n_ik").alias("S"))
    nn = n_items * n_raters
    p_bar = (q_tot - nn) / (nn * (n_raters - 1))
    out = (
        s_k.withColumn(
            "_pe", F.sum(F.col("S") * F.col("S")).over(all_rows)
        )
        .limit(1)
        .select(
            F.lit(n_items).alias("n_items"),
            F.lit(n_raters).alias("n_raters"),
            F.round(F.lit(float(p_bar)), 6).alias("p_bar"),
            F.round(F.col("_pe").cast("double") / F.lit(float(nn) ** 2), 6).alias(
                "p_e"
            ),
            F.round(
                (F.lit(float(p_bar)) - F.col("_pe").cast("double") / F.lit(float(nn) ** 2))
                / (F.lit(1.0) - F.col("_pe").cast("double") / F.lit(float(nn) ** 2)),
                6,
            ).alias("kappa"),
        )
    )
    return out


def krippendorff_alpha(
    votes: DataFrame,
    item_col: str = "item_id",
    label_col: str = "label",
) -> DataFrame:
    """Krippendorff's alpha for NOMINAL data (Krippendorff 2004) — the
    agreement coefficient that, unlike ``fleiss_kappa``, accepts RAGGED
    panels (different rater counts per item) and missing ratings, so
    it is the number real annotation jobs can actually report. Units
    with fewer than 2 ratings are unpairable and excluded (counted in
    the output, never silently vanished).

    Coincidence-matrix formulation with n pairable values, per-unit
    category counts n_uc, unit sizes m_u and marginals S_k:

        A_o = Σ_u Σ_c n_uc·(n_uc − 1)/(m_u − 1) / n
        A_e = Σ_k S_k·(S_k − 1) / (n·(n − 1))
        α   = (A_o − A_e) / (1 − A_e)

    Exactness: the only non-integer factor is 1/(m_u − 1), so units
    aggregate BY PANEL SIZE — one groupBy to (item, label) cells, one
    to per-item (m, q = Σ n_uc²) rows, one to the per-m totals — and
    the α fold runs in exact ``fractions`` arithmetic over that
    bounded table (distinct panel sizes, a handful of rows) plus the
    bounded category-marginal table. Bit-identical on any layout; one
    float per output column at the end (6dp).

    Raises when no unit is pairable or when every pairable value is
    one category (A_e = 1: α undefined — chance agreement is total).
    Returns one row: ``(n_units, n_unpairable, n_values, n_categories,
    a_o, a_e, alpha)``.
    """
    from fractions import Fraction

    # NULL labels are MISSING ratings, not a category: keeping them
    # would let two missing ratings on one unit count as agreement.
    # Dropping them shrinks that unit's m (possibly to unpairable),
    # which is exactly Krippendorff's treatment of missing data.
    cells = votes.filter(F.col(label_col).isNotNull()).groupBy(
        F.col(item_col).alias("item"), F.col(label_col).alias("lab")
    ).agg(F.count(F.lit(1)).alias("n_uc"))
    per_item = cells.groupBy("item").agg(
        F.sum("n_uc").alias("m"),
        F.sum(F.col("n_uc") * (F.col("n_uc") - F.lit(1))).alias("q"),
    )
    by_m = (
        per_item.filter(F.col("m") >= 2)
        .groupBy("m")
        .agg(F.count(F.lit(1)).alias("units"), F.sum("q").alias("Q"))
        .collect()
    )  # bounded: one row per distinct panel size
    n_unpairable = per_item.filter(F.col("m") < 2).count()
    if not by_m:
        raise ValueError(
            "krippendorff_alpha: no unit has >= 2 ratings — nothing is"
            " pairable"
        )
    n_units = sum(int(r.units) for r in by_m)
    n_values = sum(int(r.m) * int(r.units) for r in by_m)
    a_o = (
        sum(
            (Fraction(int(r.Q), int(r.m) - 1) for r in by_m),
            Fraction(0),
        )
        / n_values
    )
    # marginals over PAIRABLE units only (bounded category table)
    marg = (
        cells.join(
            per_item.filter(F.col("m") >= 2).select("item"), "item"
        )
        .groupBy("lab")
        .agg(F.sum("n_uc").alias("S"))
        .collect()
    )
    a_e = Fraction(
        sum(int(r.S) * (int(r.S) - 1) for r in marg),
        n_values * (n_values - 1),
    )
    if a_e == 1:
        raise ValueError(
            "krippendorff_alpha is undefined when every pairable value"
            " is a single category (expected agreement = 1)"
        )
    alpha = (a_o - a_e) / (1 - a_e)
    spark = votes.sparkSession
    return local_frame(
        spark,
        [
            (
                n_units,
                int(n_unpairable),
                n_values,
                len(marg),
                round(float(a_o), 6),
                round(float(a_e), 6),
                round(float(alpha), 6),
            )
        ],
        "n_units bigint, n_unpairable bigint, n_values bigint,"
        " n_categories int, a_o double, a_e double, alpha double",
    )


def dawid_skene(
    votes: DataFrame,
    item_col: str = "item_id",
    annotator_col: str = "annotator_id",
    label_col: str = "label",
    n_iter: int = 2,
    scale: int = 10**6,
    smoothing: int = 1,
    checkpoint_every: int = 1,
    log_space: bool = False,
) -> DataFrame:
    """TRUE Dawid-Skene EM (Dawid & Skene 1979, "Maximum Likelihood
    Estimation of Observer Error-Rates Using the EM Algorithm") — full
    per-rater CONFUSION MATRICES, not the one-shot agreement reweighting
    of ``weighted_consensus``: a spammer who answers 'a' regardless of
    truth is learned to be UNINFORMATIVE (flat confusion row), so their
    ballot stops moving posteriors at all, where agreement-weighting
    merely discounts it.

    E/M loop in the engine's determinism conventions:

    - Posteriors are INTEGER-QUANTIZED (BIGINT, ``scale`` units =
      probability 1). Every M-step statistic — class priors P_k,
      confusion counts C[r][k][l] = Σ_i p_ik over r's l-votes — is an
      associative BIGINT sum; the Laplace-smoothed prior and confusion
      RATES quantize back to integers with one exact integer division
      each. Bit-stable under any partitioning.
    - The E-step likelihood product folds SEQUENTIALLY per (item,
      class): votes collect into a ``sort_array``-canonicalized list
      and ``F.aggregate`` multiplies left-to-right from the prior (the
      ``pass_at_k`` ordered-fold idiom — double products replay exactly
      in DuckDB's list_reduce). The per-item normalizer is the SAME
      ordered fold over the (≤ |labels|) class scores — never an
      unordered float window sum — then ``floor(x·scale + 0.5)``
      requantizes (explicit half-up on both engines).

    Panel-size bound: the product of n per-vote probabilities
    underflows doubles past ~200 votes/item at typical confusion rates
    — annotation panels are 3-30 raters. The quantized-product path
    RAISES past 200 votes/item and points at ``log_space=True``: the
    log-space E-step folds the SAME ordered sequence as Σ ln terms and
    softmax-normalizes against the per-item max (exp(L_k − L_max)), so
    panels of any size stay finite. The trade: exp/ln round-trips make
    it float-path arithmetic — posteriors can differ from the product
    path by a quantization unit, so it is NOT oracle-hash-gated (the
    property test pins label agreement on small panels and correct
    recovery at 500 votes instead).

    Scale shape, per round: one shuffle join votes⋈posteriors (item
    key) + one bounded groupBy for confusion; the E-step joins
    BROADCAST rate tables (raters × labels² — model state) onto the
    ×|labels| vote fan-out and folds per (item, class). Labels are
    bounded MODEL STATE (one distinct-collect, the BPE-argmax class);
    per-round lineage cuts through ``truncate_lineage`` (the same
    cadence knob as PageRank/Bradley-Terry).

    Returns ``(item, ds_label, posterior, n_votes, majority_label,
    flipped)`` — ``flipped`` marks items EM moved off the raw majority
    (the review-queue rows).
    """
    from pyspark.sql.window import Window

    v = votes.select(
        F.col(item_col).alias("item"),
        F.col(annotator_col).alias("rater"),
        F.col(label_col).alias("obs"),
    )
    n_per_item = v.groupBy("item").agg(F.count(F.lit(1)).alias("n_votes"))
    # ONE setup pass for BOTH bounded scalars (observed label set +
    # max panel size): the per-item collapse carries each item's
    # distinct labels, and the second fold runs on the already-bounded
    # per-item frame — the old shape paid two separate corpus
    # aggregations (distinct labels, then max votes). collect_set
    # skips NULL labels exactly as the old distinct()/None filter did.
    head = (
        v.groupBy("item")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_set("obs").alias("ls"),
        )
        .agg(
            F.max("n").alias("mx"),
            F.array_distinct(F.flatten(F.collect_set("ls"))).alias(
                "labels"
            ),
        )
        .collect()[0]
    )
    labels = sorted(head.labels or [])
    n_labels = len(labels)
    if n_labels < 2:
        raise ValueError(
            f"dawid_skene needs >= 2 observed label values; got {labels!r}"
        )
    s_num = int(smoothing) * int(scale)
    scale = int(scale)

    if not log_space:
        max_votes = int(head.mx or 0)
        if max_votes > 200:
            raise ValueError(
                f"dawid_skene: an item has {max_votes} votes — the"
                " quantized likelihood product underflows doubles past"
                " ~200 votes/item; pass log_space=True for large panels"
            )

    # E0: integer-quantized majority proportions (absent (item, class)
    # rows ARE the zeros — no spine; the E-step rebuilds full support)
    post = (
        v.groupBy("item", F.col("obs").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .join(n_per_item, "item")
        .select(
            "item",
            "k",
            F.expr(f"(c * cast({scale} as bigint)) div n_votes").alias("p"),
        )
    )

    all_rows = Window.partitionBy()
    lbl_arr = F.array(*[F.lit(x) for x in labels])
    cut = False
    for rnd in range(int(n_iter)):
        # consumed by priors AND confusion; a posterior the previous
        # round's truncate_lineage cut is materialized already
        with nullcontext(post) if cut else pinned(post) as post:
            if not cut:
                post.count()
            # ---- M-step: priors (BIGINT sums; ≤ |labels| rows) ----------
            prior = (
                post.groupBy("k")
                .agg(F.sum("p").alias("P"))
                .withColumn("_tot", F.sum("P").over(all_rows))
                .select(
                    "k",
                    F.expr(
                        f"((P + {s_num}) * cast({scale} as bigint))"
                        f" div (_tot + {s_num * n_labels})"
                    ).alias("prior"),
                )
            )
            # ---- M-step: confusion rates (votes ⋈ posteriors fan-out ×L,
            # then bounded (rater, k, obs) sums) --------------------------
            conf = (
                v.join(post, "item")
                .groupBy("rater", "k", "obs")
                .agg(F.sum("p").alias("C"))
            )
            row_tot = conf.groupBy("rater", "k").agg(F.sum("C").alias("Crow"))
            pi = conf.join(row_tot, ["rater", "k"]).select(
                "rater",
                "k",
                "obs",
                F.expr(
                    f"((C + {s_num}) * cast({scale} as bigint))"
                    f" div (Crow + {s_num * n_labels})"
                ).alias("pi"),
            )
            # ---- E-step: per (item, class) ordered likelihood fold ------
            vk = v.select("item", "rater", "obs", F.explode(lbl_arr).alias("k"))
            scored = (
                vk.join(F.broadcast(pi), ["rater", "k", "obs"], "left")
                .join(F.broadcast(row_tot), ["rater", "k"], "left")
                .select(
                    "item",
                    "k",
                    "rater",
                    "obs",
                    # unseen (rater, k, obs) cells get the exact Laplace
                    # floor the smoothed division would give them
                    F.coalesce(
                        F.col("pi"),
                        F.expr(
                            f"(cast({s_num} as bigint)"
                            f" * cast({scale} as bigint))"
                            f" div (coalesce(Crow, cast(0 as bigint))"
                            f" + {s_num * n_labels})"
                        ),
                    ).alias("pi_eff"),
                )
            )
            grouped = scored.groupBy("item", "k").agg(
                F.sort_array(
                    F.collect_list(F.struct("rater", "obs", "pi_eff"))
                ).alias("arr")
            ).join(F.broadcast(prior), "k")
            if log_space:
                # SAME canonical order, folded as Σ ln terms; per-item
                # softmax against the ordered max keeps any panel finite
                folded = grouped.select(
                    "item",
                    "k",
                    F.aggregate(
                        "arr",
                        F.log(
                            F.col("prior").cast("double") / F.lit(float(scale))
                        ),
                        lambda acc, x: acc
                        + F.log(
                            x["pi_eff"].cast("double") / F.lit(float(scale))
                        ),
                    ).alias("lscore"),
                )
                normed = (
                    folded.groupBy("item")
                    .agg(
                        F.sort_array(
                            F.collect_list(F.struct("k", "lscore"))
                        ).alias("ks")
                    )
                    .select(
                        "item",
                        F.aggregate(
                            "ks",
                            F.lit(float("-inf")),
                            lambda a, x: F.greatest(a, x["lscore"]),
                        ).alias("_m"),
                        "ks",
                    )
                    .select(
                        "item",
                        F.aggregate(
                            "ks",
                            F.lit(0.0),
                            lambda a, x: a + F.exp(x["lscore"] - F.col("_m")),
                        ).alias("_tot"),
                        "_m",
                        F.explode("ks").alias("e"),
                    )
                )
                new_post = normed.select(
                    "item",
                    F.col("e.k").alias("k"),
                    F.expr(
                        f"cast(floor(exp(e.lscore - _m) / _tot * {scale}"
                        " + 0.5d) as bigint)"
                    ).alias("p"),
                )
            else:
                folded = grouped.select(
                    "item",
                    "k",
                    F.aggregate(
                        "arr",
                        F.col("prior").cast("double") / F.lit(float(scale)),
                        lambda acc, x: acc
                        * (x["pi_eff"].cast("double") / F.lit(float(scale))),
                    ).alias("score"),
                )
                normed = (
                    folded.groupBy("item")
                    .agg(
                        F.sort_array(
                            F.collect_list(F.struct("k", "score"))
                        ).alias("ks")
                    )
                    .select(
                        "item",
                        F.aggregate(
                            "ks", F.lit(0.0), lambda a, x: a + x["score"]
                        ).alias("_tot"),
                        F.explode("ks").alias("e"),
                    )
                )
                new_post = normed.select(
                    "item",
                    F.col("e.k").alias("k"),
                    F.expr(
                        f"cast(floor(e.score / _tot * {scale} + 0.5d) as bigint)"
                    ).alias("p"),
                )
            cut_post = truncate_lineage(new_post, rnd, n_iter, checkpoint_every)
        cut = cut_post is not new_post
        post = cut_post

    w = Window.partitionBy("item").orderBy(
        F.col("p").desc(), F.col("k").asc()
    )
    maj = majority_vote(votes, item_col, label_col).select(
        F.col(item_col).alias("item"), "majority_label", "n_votes"
    )
    return (
        post.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .join(maj, "item")
        .select(
            F.col("item").alias(item_col),
            F.col("k").alias("ds_label"),
            F.round(F.col("p") / F.lit(float(scale)), 6).alias("posterior"),
            "n_votes",
            "majority_label",
            (F.col("k") != F.col("majority_label")).alias("flipped"),
        )
    )


def weighted_consensus(
    votes: DataFrame,
    item_col: str = "item_id",
    annotator_col: str = "annotator_id",
    label_col: str = "label",
    weight_floor: float = 0.05,
) -> DataFrame:
    """Reliability-weighted consensus — one reweighting round of the
    Dawid-Skene idea (Dawid & Skene 1979) in its simple practical form:
    first pass takes the unweighted majority, scores each annotator's
    agreement with it (``annotator_agreement``), then re-votes with
    each annotator's ballot weighted by that agreement rate — so a
    rater who disagrees with everyone stops dragging ties. ``weight_floor``
    keeps every ballot minimally counted (a 0-agreement rater would
    otherwise vanish and could never redeem itself in a later round).

    Weights are 6dp-rounded DECIMALS summed as exact decimal arithmetic
    (sum order irrelevant — engine-reproducible without float-merge
    caveats); ties break to the lexicographically smallest label.

    Scale shape: the reliability table is one extra aggregate over the
    votes; the weighted re-vote is the same groupBy + per-item window
    as ``majority_vote`` with the weight broadcast in on the annotator
    key (raters are bounded; a crowd platform's rater set is model
    state next to the item corpus).

    Returns ``(item, weighted_label, majority_label, n_votes, flipped)``
    — ``flipped`` marks items where weighting changed the verdict (the
    rows a review queue looks at)."""
    from pyspark.sql.window import Window

    # ONE consensus pass feeds both the reliability table and the
    # final comparison — calling annotator_agreement here would run
    # the identical majority aggregation over the full votes relation
    # a second time (a redundant corpus shuffle at scale)
    maj = majority_vote(votes, item_col, label_col).select(
        item_col, "majority_label", "n_votes"
    )
    rel = (
        votes.join(maj.select(item_col, "majority_label"), item_col)
        .groupBy(F.col(annotator_col).alias("annotator"))
        .agg(
            (
                F.sum(
                    (F.col(label_col) == F.col("majority_label")).cast(
                        "long"
                    )
                )
                / F.count(F.lit(1))
            ).alias("_rate")
        )
    )
    weights = rel.select(
        F.col("annotator").alias(annotator_col),
        F.greatest(
            F.round("_rate", 6).cast("decimal(10,6)"),
            F.lit(weight_floor).cast("decimal(10,6)"),
        ).alias("_wt"),
    )
    scored = (
        votes.join(F.broadcast(weights), annotator_col)
        .groupBy(
            F.col(item_col).alias("item"), F.col(label_col).alias("lab")
        )
        .agg(F.sum("_wt").alias("_mass"))
    )
    w = Window.partitionBy("item").orderBy(
        F.col("_mass").desc(), F.col("lab").asc()
    )
    winner = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("item").alias(item_col), F.col("lab").alias("weighted_label"))
    )
    return winner.join(maj, item_col).select(
        item_col,
        "weighted_label",
        "majority_label",
        "n_votes",
        (F.col("weighted_label") != F.col("majority_label")).alias("flipped"),
    )


def rasch_fit(
    votes: DataFrame,
    item_col: str = "item_id",
    annotator_col: str = "annotator_id",
    correct_col: str = "correct",
    n_iter: int = 4,
    lr: float = 1.0,
    scale: int = 10**6,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Rasch-model (1PL IRT) fit — per-ITEM difficulty next to
    per-RATER ability from a binary outcome grid (Rasch 1960; the
    psychometric rung above ``dawid_skene``: DS learns WHO to trust,
    Rasch learns WHICH ITEMS are hard, the number an eval-set curator
    reads before balancing a benchmark):

        P(correct | rater r, item i) = sigmoid(theta_r − b_i)

    fit by joint full-batch gradient ascent in the engine's
    determinism conventions — BOTH parameter vectors live in
    DATAFRAMES, never on the driver (items are corpus-sized at 100 TB;
    the ``logreg_train`` driver-side weight list only works because d
    is tiny):

    - Parameters are INTEGER-QUANTIZED (BIGINT ``scale`` units). Each
      round joins votes ⋈ theta (rater key) ⋈ b (item key), computes
      the per-vote error ``p − y`` in doubles from exact quantized
      operands, half-up-quantizes it ONCE (``floor(err·scale + 0.5)``)
      and integer-sums per item and per rater — associative, so the
      fit is bit-stable under any partitioning and the whole loop
      unrolls into DuckDB CTEs (one quantization per vote: the rater
      gradient uses −Σq, never a second rounding of the negated
      error, which would break replay by half-up asymmetry).
    - Updates: ``b' = floor((b + lr·G_i/(n_i·scale))·scale + 0.5)``,
      ``theta' = floor((theta − lr·G_r/(n_r·scale))·scale + 0.5)``
      (G = Σq; the item gradient ASCENDS difficulty where raters fail).
    - Identifiability: the model is invariant to a common shift
      (theta+c, b+c), so each round re-anchors b to integer-mean zero
      (``(Σ b_fp) div n_items`` subtracted from both vectors) — the
      standard sum-to-zero constraint, in exact integer arithmetic.

    Scale shape, per round: one votes ⋈ params join per key (the
    params side is partial-agg shaped; broadcast when raters are
    bounded), two partial-agg groupBys; per-round lineage cuts via
    ``truncate_lineage``. Returns one tagged table:
    ``(kind ['item'|'rater'], key, n_votes, estimate)`` — estimate 6dp,
    difficulty for items, ability for raters.
    """
    if int(n_iter) < 1:
        raise ValueError(f"n_iter must be >= 1: got {n_iter!r}")
    if not 0.0 < lr:
        raise ValueError(f"lr must be positive: got {lr!r}")
    scale = int(scale)

    v = votes.select(
        F.col(item_col).cast("string").alias("item"),
        F.col(annotator_col).cast("string").alias("rater"),
        F.col(correct_col).cast("int").alias("y"),
    )
    bad_pred = (F.col("y").isNull() | ~F.col("y").isin(0, 1)).cast("bigint")

    # ONE tagged parameter frame (kind 'i'|'r', key, n_votes, p_fp)
    # instead of separate b/theta frames: the loop-invariant vote
    # counts ride the frame through every round (the old shape
    # re-derived n_i/n_r FROM THE VOTES inside each round's update
    # join — a per-round corpus aggregation at 100 TB), and both
    # parameter vectors share one lineage cut per round instead of two.
    # the NULL/non-binary validation rides the per-item collapse (no
    # separate corpus scan), read back off the checkpointed bounded
    # frame together with the re-anchor divisor — one setup job total
    n_i = v.groupBy("item").agg(
        F.count(F.lit(1)).alias("n_votes"), F.sum(bad_pred).alias("_bad")
    )
    n_r = v.groupBy("rater").agg(F.count(F.lit(1)).alias("n_votes"))
    params = n_i.select(
        F.lit("i").alias("kind"), F.col("item").alias("key"),
        F.col("n_votes"), F.lit(0).cast("bigint").alias("p_fp"),
        F.col("_bad"),
    ).unionByName(
        n_r.select(
            F.lit("r").alias("kind"), F.col("rater").alias("key"),
            F.col("n_votes"), F.lit(0).cast("bigint").alias("p_fp"),
            F.lit(0).cast("bigint").alias("_bad"),
        )
    )
    params = truncate_lineage(params)
    head = params.agg(
        F.sum((F.col("kind") == "i").cast("bigint")).alias("ni"),
        F.sum("_bad").alias("nb"),
    ).collect()[0]
    if int(head.nb or 0) > 0:
        raise ValueError(
            f"rasch_fit: {head.nb} votes have NULL or non-binary"
            f" {correct_col!r} — clean the outcome grid first"
        )
    params = params.drop("_bad")
    n_items = int(head.ni)  # scalar for the integer re-anchor divisor

    lr_c = float(lr)
    for rnd in range(int(n_iter)):
        bi = params.filter(F.col("kind") == "i").select(
            F.col("key").alias("item"), F.col("p_fp").alias("b_fp")
        )
        th = params.filter(F.col("kind") == "r").select(
            F.col("key").alias("rater"), F.col("p_fp").alias("t_fp")
        )
        # params are bounded model state: broadcast both sides so the
        # votes relation is scanned ONCE per round — then one tagged
        # explode feeds BOTH gradient sums from that single pass (the
        # elo_update_period explode discipline; the old per-side
        # groupBys re-ran the votes ⋈ params join twice per round)
        scored = (
            v.join(F.broadcast(bi), "item")
            .join(F.broadcast(th), "rater")
            .select(
                "item",
                "rater",
                F.expr(
                    f"cast(floor((1.0d / (1.0d + exp(-(t_fp / {scale}.0d"
                    f" - b_fp / {scale}.0d))) - y) * {scale} + 0.5d)"
                    " as bigint)"
                ).alias("q"),
            )
        )
        g = (
            scored.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.lit("i").alias("kind"),
                            F.col("item").alias("key"),
                            F.col("q"),
                        ),
                        F.struct(
                            F.lit("r").alias("kind"),
                            F.col("rater").alias("key"),
                            F.col("q"),
                        ),
                    )
                ).alias("x")
            )
            .select("x.kind", "x.key", "x.q")
            .groupBy("kind", "key")
            .agg(F.sum("q").alias("G"))
        )
        # item difficulty ASCENDS (+lr·G/n), rater ability DESCENDS
        # (−lr·G/n) — same one-quantization-per-update expressions
        new_params = params.join(g, ["kind", "key"]).select(
            "kind",
            "key",
            "n_votes",
            F.when(
                F.col("kind") == "i",
                F.expr(
                    f"cast(floor((p_fp / {scale}.0d + {lr_c!r}d *"
                    f" (G / (n_votes * cast({scale} as bigint))))"
                    f" * {scale} + 0.5d) as bigint)"
                ),
            )
            .otherwise(
                F.expr(
                    f"cast(floor((p_fp / {scale}.0d - {lr_c!r}d *"
                    f" (G / (n_votes * cast({scale} as bigint))))"
                    f" * {scale} + 0.5d) as bigint)"
                )
            )
            .alias("p_fp"),
        )
        new_params = truncate_lineage(new_params, rnd, n_iter, checkpoint_every)
        # sum-to-zero re-anchor in exact integers (location invariance);
        # read off the materialized round — one bounded scalar (model
        # state), subtracted from BOTH vectors as before
        c_fp = int(
            new_params.agg(
                F.sum(F.when(F.col("kind") == "i", F.col("p_fp")))
            ).collect()[0][0]
            or 0
        ) // n_items
        params = new_params.select(
            "kind", "key", "n_votes",
            (F.col("p_fp") - F.lit(c_fp)).alias("p_fp"),
        )

    items = params.filter(F.col("kind") == "i").select(
        F.lit("item").alias("kind"),
        F.col("key"),
        F.col("n_votes").cast("bigint").alias("n_votes"),
        F.round(F.col("p_fp") / F.lit(float(scale)), 6).alias("estimate"),
    )
    raters = params.filter(F.col("kind") == "r").select(
        F.lit("rater").alias("kind"),
        F.col("key"),
        F.col("n_votes").cast("bigint").alias("n_votes"),
        F.round(F.col("p_fp") / F.lit(float(scale)), 6).alias("estimate"),
    )
    return items.unionByName(raters)


def implicit_preference_pairs(
    events: DataFrame,
    user_col: str,
    item_col: str,
    action_col: str,
    action_rank: dict,
    max_items_per_user: int = 20,
) -> DataFrame:
    """Mine PREFERENCE PAIRS from implicit feedback logs — the usage
    signal RLHF pipelines tap when explicit A/B votes are scarce (a
    response the user COPIED beats one they REGENERATED away from;
    Joachims 2002's clickthrough-preference idea, engine-shaped):

    1. Per (user, item): the STRONGEST observed action's rank wins
       (one partial-agg groupBy — repeated weak signals never outvote
       one strong signal, the standard implicit-feedback reading).
    2. Cap each user's items to the ``max_items_per_user`` strongest
       (rank desc, item asc — deterministic), bounding the pair
       fan-out: without the cap a power user with m items emits
       O(m²) pairs and a single hot user key skews the shuffle.
    3. Within a user, every strictly-higher-ranked item beats every
       lower-ranked one: one self-join on the user key over the
       capped table — ≤ cap²/2 pairs per user by construction.

    ``action_rank`` maps action values to integer strengths (e.g.
    ``{"purchase": 3, "signup": 2, "click": 1, "view": 0}``); unmapped
    actions are DROPPED (rank NULL — they carry no preference signal
    either way). Equal ranks emit no pair (no information).

    Returns ``(winner_id, loser_id, user, margin)`` — margin = rank
    difference (a DPO-style confidence knob); feed the (winner_id,
    loser_id) columns straight to ``bradley_terry`` or aggregate to
    the ``(i, j, w2)`` pair table for the streamed leaderboard.

    Determinism: integer ranks, deterministic cap tie-break, no floats
    anywhere — replays row-for-row in any engine.
    """
    from pyspark.sql.window import Window

    if int(max_items_per_user) < 2:
        raise ValueError(
            f"max_items_per_user must be >= 2: got {max_items_per_user!r}"
        )
    if not action_rank:
        raise ValueError("action_rank must be a non-empty mapping")
    rank_expr = F.lit(None).cast("int")
    for action, rank in sorted(action_rank.items()):
        rank_expr = F.when(
            F.col(action_col) == F.lit(action), F.lit(int(rank))
        ).otherwise(rank_expr)

    strongest = (
        events.select(
            F.col(user_col).alias("user"),
            F.col(item_col).alias("item"),
            rank_expr.alias("rank"),
        )
        .filter(F.col("rank").isNotNull())
        .groupBy("user", "item")
        .agg(F.max("rank").alias("rank"))
    )
    w = Window.partitionBy("user").orderBy(
        F.col("rank").desc(), F.col("item").asc()
    )
    capped = (
        strongest.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(max_items_per_user))
        .drop("_rn")
    )
    win = capped.select(
        "user", F.col("item").alias("winner_id"), F.col("rank").alias("_rw")
    )
    lose = capped.select(
        "user", F.col("item").alias("loser_id"), F.col("rank").alias("_rl")
    )
    return (
        win.join(lose, "user")
        .filter(F.col("_rw") > F.col("_rl"))
        .select(
            "winner_id",
            "loser_id",
            F.col("user").alias(user_col),
            (F.col("_rw") - F.col("_rl")).cast("int").alias("margin"),
        )
    )


def elo_update_period(
    ratings: DataFrame,
    period_matches: DataFrame,
    k: int = 32,
    scale: int = 10**6,
    check_items: bool = True,
    n_col: str | None = None,
) -> DataFrame:
    """ONE Elo rating-period update — the step ``elo_boards`` (and so
    ``elo_ratings``) loops over, one board at a time, and a streaming
    ``foreachBatch`` twin can apply per micro-batch (each batch = one
    rating period, the arena cadence).

    ``ratings`` is the bounded model state ``(item, r_fp)`` (BIGINT,
    ``scale`` units); ``period_matches`` is ``(w, l)`` decided matches.
    Every expected score uses the PERIOD-START ratings (the FIDE /
    Glicko "rating period" convention — simultaneous updates within a
    period, sequential across periods), so the update is one join +
    one partial-agg groupBy, deterministic under any partitioning:

        e_fp   = floor(scale / (1 + 10^((R_l − R_w)/(400·scale))) + 0.5)
        C_item = Σ (+ (scale − e_fp)  for wins,
                    − (scale − e_fp)  for losses)      [exact zero-sum]
        R'     = R + k · C_item

    One half-up quantization per match (the ``rasch_fit`` discipline:
    the loser term is the NEGATED winner term, never a second rounding)
    keeps the loop bit-stable and replayable — the transcendental
    ``10^x`` is computed in doubles from exact integer operands and
    absorbed by the quantization, the ``logreg_train`` convention.
    Ratings are broadcast into the match join (one row per item —
    bounded model state, the ``bradley_terry`` shape), so the period
    costs one scan of its matches with map-side partial sums.

    The expected-score join is INNER on both sides, so a match naming
    an item with no ratings row would silently vanish. With
    ``check_items=True`` (the default — the direct ``foreachBatch``
    contract) that raises via a left-anti guard; loop drivers that
    pre-seed every item from the match log itself (``elo_boards``,
    ``elo_merge_batch``) skip the guard: the extra per-period job is
    redundant by their construction.

    ``n_col`` names an optional MULTIPLICITY column: a row then stands
    for n identical (w, l) matches of the period. Within a period
    every (w, l) pair shares one expected score (period-start ratings),
    so Σ_matches (scale − e_fp) = n·(scale − e_fp) EXACTLY — the
    weighted form is bit-identical to per-match rows while the period
    relation collapses from the match log to the bounded pair-count
    table (the ``bradley_terry`` one-join pair-build discipline)."""
    if check_items:
        items = ratings.select(F.col("item").alias("_it"))
        unknown = (
            period_matches.select(F.col("w").alias("_it"))
            .unionByName(period_matches.select(F.col("l").alias("_it")))
            .join(items, "_it", "left_anti")
        )
        n_unknown = unknown.limit(1).count()
        if n_unknown > 0:
            sample = [r._it for r in unknown.limit(5).collect()]
            raise ValueError(
                "elo_update_period: period matches name items with no"
                f" ratings row (e.g. {sample}) — the inner expected-score"
                " join would silently drop those matches; pre-seed every"
                " item (as elo_ratings does) or clean the period feed"
            )
    return _elo_period(ratings, period_matches, {"r_fp": k}, scale, n_col)


def _elo_period(
    ratings: DataFrame,
    period_matches: DataFrame,
    boards: dict[str, int],
    scale: int,
    n_col: str | None,
) -> DataFrame:
    """The Elo period step (formula on ``elo_update_period``) for one or
    more boards at once: ``ratings`` is ``(item, *boards)``, one BIGINT
    rating column per board, and ``boards`` maps each column to its k.
    Each board's expected scores come from its own period-start ratings
    and its per-item sums stay separate, so carrying N boards through
    one join + one explode + one groupBy does the integer work of N
    single-board steps while scanning the period relation once.
    Returns ``(item, *boards)``."""
    r_cols = list(boards)
    ri = ratings.select(
        F.col("item").alias("w"), *[F.col(rc).alias(f"{rc}_w") for rc in r_cols]
    )
    rj = ratings.select(
        F.col("item").alias("l"), *[F.col(rc).alias(f"{rc}_l") for rc in r_cols]
    )
    x = 400.0 * scale
    mult = (
        F.col(n_col).cast("long") if n_col is not None else F.lit(1).cast("long")
    )
    contrib = (
        period_matches.join(F.broadcast(ri), "w")
        .join(F.broadcast(rj), "l")
        .select(
            "w",
            "l",
            mult.alias("n_m"),
            *[
                F.expr(
                    f"cast(floor({scale}.0d / (1.0d + power(10.0d,"
                    f" cast({rc}_l - {rc}_w as double) / {x!r}d)) + 0.5d)"
                    " as bigint)"
                ).alias(f"e_{rc}")
                for rc in r_cols
            ],
        )
    )
    # ONE pass over the period relation: a union of two projections of
    # `contrib` would evaluate the join + expected-score expression
    # TWICE per round (no exchange reuse across different projections);
    # the explode emits the winner (+c) and loser (−c) terms from a
    # single evaluation — the same multiset of integer contributions,
    # so the associative SUM is bit-identical
    unit = F.lit(int(scale)).cast("long")
    per_item = (
        contrib.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("w").alias("item"),
                        *[
                            (F.col("n_m") * (unit - F.col(f"e_{rc}"))).alias(f"c_{rc}")
                            for rc in r_cols
                        ],
                    ),
                    F.struct(
                        F.col("l").alias("item"),
                        *[
                            (F.col("n_m") * (F.col(f"e_{rc}") - unit)).alias(f"c_{rc}")
                            for rc in r_cols
                        ],
                    ),
                )
            ).alias("x")
        )
        .select(
            F.col("x.item").alias("item"),
            *[F.col(f"x.c_{rc}").alias(f"c_{rc}") for rc in r_cols],
        )
        .groupBy("item")
        .agg(*[F.sum(f"c_{rc}").alias(f"C_{rc}") for rc in r_cols])
    )
    return ratings.join(per_item, "item", "left").select(
        "item",
        *[
            (
                F.col(rc)
                + F.lit(int(k)).cast("long")
                * F.coalesce(F.col(f"C_{rc}"), F.lit(0).cast("long"))
            ).alias(rc)
            for rc, k in boards.items()
        ],
    )


def elo_ratings(
    matches: DataFrame,
    winner_col: str = "winner_id",
    loser_col: str = "loser_id",
    period_col: str = "period",
    k: int = 32,
    initial: int = 1000,
    scale: int = 10**6,
    checkpoint_every: int = 1,
    n_col: str | None = None,
    pre_collapsed: bool = False,
) -> DataFrame:
    """Elo ratings from decided matches grouped into RATING PERIODS —
    the third leg of the preference-ranking family: ``bradley_terry``
    fits a static latent quality, ``rasch_fit`` calibrates items vs
    raters, Elo (Elo 1978) tracks quality THROUGH TIME, the number an
    arena leaderboard publishes per snapshot.

    Elo is order-dependent by construction; the distributed form is
    the standard RATING-PERIOD batching (FIDE updates per calendar
    month; Glickman 1999 formalizes the period as the unit of play):
    within a period every expected score uses period-start ratings and
    each item updates once by ``k·Σ(actual − expected)``; periods
    apply strictly ascending. Periods are a bounded calendar
    (days/months/arena waves — model state), collected once. Because
    every (w, l) pair within a period shares ONE expected score, the
    match log collapses in a single corpus aggregation pass to the
    bounded ``(w, l, period, n)`` pair-count table and the whole loop
    runs on THAT (the weighted period step: broadcast ratings,
    map-side partial sums, per-period lineage cuts) — bit-identical to
    per-match rows, so a 100 TB match log is scanned exactly once and
    each round is model-state-sized work.

    All-integer state (BIGINT ``scale`` units, start ``initial·scale``;
    one half-up quantization per match): bit-exact under any
    partitioning/layout, exact ZERO-SUM conservation per period
    (Σ r_fp is invariant — each match moves +c/−c), and the whole loop
    unrolls into SQL for replay gating. Overflow bound: per-period
    ``k·|C|`` ≤ k·scale·matches; at defaults a period holds ~2.8e11
    matches before BIGINT risk. Self-matches (winner = loser) are
    degenerate and dropped, the ``bradley_terry`` convention; NULL
    keys or periods raise loudly.

    ``n_col`` names an optional MULTIPLICITY column: ``matches`` is then
    an already-collapsed ``(w, l, period, n)`` pair-count relation (the
    shape this function builds internally — the incremental /
    shared-collapse path, so a release DAG can scan the raw log ONCE
    and feed Elo, Wilson and BT from the same table). Weighted rows are
    bit-identical to per-match rows by the shared-expected-score
    argument on ``elo_update_period``; n must be ≥ 1.
    ``pre_collapsed=True`` (requires
    ``n_col``) additionally skips the internal re-aggregation — pure
    shuffle avoidance for callers feeding the collapsed pair-count
    relation itself, NOT a correctness contract: duplicate (w, l, p)
    rows sum to the same per-item contributions either way (each
    carries the same period-start expected score), so the flag can
    never change a rating.

    This is ``elo_boards`` with one board. Returns ``(item, n_matches,
    wins, rating_fp)`` — totals over all periods, rating in ``scale``
    fixed-point units."""
    return elo_boards(
        matches, (k,), winner_col=winner_col, loser_col=loser_col,
        period_col=period_col, initial=initial, scale=scale,
        checkpoint_every=checkpoint_every, n_col=n_col,
        pre_collapsed=pre_collapsed,
    ).withColumnRenamed(f"rating_fp_{int(k)}", "rating_fp")


def elo_boards(
    matches: DataFrame,
    ks: tuple,
    winner_col: str = "winner_id",
    loser_col: str = "loser_id",
    period_col: str = "period",
    initial: int = 1000,
    scale: int = 10**6,
    checkpoint_every: int = 1,
    n_col: str | None = None,
    pre_collapsed: bool = False,
) -> DataFrame:
    """``elo_ratings`` for SEVERAL k values in ONE period loop — the
    multi-board fit a release session runs when different consumers
    publish boards at different k (e.g. a k=16 exploratory board next
    to the release DAG's k=32 snapshot); ``elo_ratings`` is the
    one-board call. Each board's arithmetic is EXACTLY a single-k
    fit's: within a round the k_i expected score is computed from the
    k_i ratings alone and the per-item contribution sums are
    independent per k — carrying all boards through one join + one
    explode + one groupBy per period does the same integer operations
    per board as N separate loops while scanning the period relation
    and cutting lineage ONCE instead of N times (guide §2.4: share the
    pass; each board is pinned bit-for-bit against a pure-Python
    period replay in tests/test_runtime.py). Same validation, same
    collapse, same overflow bounds per board.

    Returns ``(item, n_matches, wins, rating_fp_<k> ...)`` — one
    rating column per requested k, ks de-duplicated and sorted."""
    ks = sorted({int(k) for k in ks})
    if not ks:
        raise ValueError("elo_boards needs at least one k")
    if any(k < 1 for k in ks):
        raise ValueError(f"every k must be a positive integer: got {ks!r}")
    if int(initial) <= 0:
        raise ValueError(f"initial rating must be positive: got {initial!r}")
    scale = int(scale)

    cols = [
        F.col(winner_col).cast("string").alias("w"),
        F.col(loser_col).cast("string").alias("l"),
        F.col(period_col).cast("bigint").alias("p"),
    ]
    if n_col is not None:
        cols.append(F.col(n_col).cast("long").alias("n"))
    m = matches.select(*cols)
    bad_pred = (
        F.col("w").isNull() | F.col("l").isNull() | F.col("p").isNull()
    )
    if n_col is not None:
        bad_pred = bad_pred | F.col("n").isNull() | (F.col("n") < 1)
    if pre_collapsed and n_col is None:
        raise ValueError("elo_boards: pre_collapsed requires n_col")
    n_agg = F.sum("n") if n_col is not None else F.count(F.lit(1))
    # ONE corpus aggregation pass: within a period every (w, l) pair
    # shares one expected score, so the whole loop runs bit-identically
    # on the bounded (w, l, p, n) pair-count table — a 100 TB match log
    # is scanned once, and every Elo round is model-state-sized work
    # (the bradley_terry one-join pair-build discipline). The NULL /
    # multiplicity validation RIDES THIS SAME PASS as a per-group bad
    # count read off the persisted collapse (no separate corpus scan
    # just to validate); self-matches and any bad-keyed groups are
    # filtered AFTER the check on the bounded table.
    #
    # PERIOD-CLUSTERED cache layout: the loop below scans the cached
    # pair table once per period with a p == const filter, and Spark's
    # in-memory scan prunes whole column batches on their min/max
    # stats — range-partitioning on (p, w) makes every batch
    # single-period, so each round reads ~1/|periods| of the cache
    # instead of all of it (measured 2x on the 7-period supplier log).
    # Ranging on w inside p keeps one giant period from becoming one
    # giant partition. Layout only — the per-item sums are associative
    # integers, bit-identical under any partitioning.
    collapsed = (
        m.select(
            "w", "l", "p", F.col("n").cast("long").alias("n_m"),
            bad_pred.cast("bigint").alias("_bad"),
        )
        if pre_collapsed
        else m.groupBy("w", "l", "p").agg(
            n_agg.cast("long").alias("n_m"),
            F.sum(bad_pred.cast("bigint")).alias("_bad"),
        )
    )
    with pinned(collapsed.repartitionByRange("p", "w")) as mp_all:
        # one job over the bounded cached table: validation total + the
        # bounded period calendar together. The calendar counts NON-SELF
        # rows per period so a period holding only w==l rows (filtered
        # below) never schedules an empty loop round — output-identical
        # (an empty round is the identity update) but each skipped round
        # saves a join+explode+groupBy job and a lineage cut.
        stats = mp_all.groupBy("p").agg(
            F.sum("_bad").alias("nb"),
            F.sum((F.col("w") != F.col("l")).cast("bigint")).alias("nm"),
        ).collect()
        n_bad = sum(int(r.nb or 0) for r in stats)
        if n_bad > 0:
            raise ValueError(
                f"elo_boards: {n_bad} matches have a NULL winner, loser or"
                f" period (or a NULL/non-positive multiplicity) — clean the"
                f" match log first"
            )
        mp = mp_all.filter(F.col("w") != F.col("l")).drop("_bad")
        periods = sorted(
            r.p for r in stats if r.p is not None and int(r.nm or 0) > 0
        )

        sides = mp.select(
            F.col("w").alias("item"), F.col("n_m").alias("n"),
            F.col("n_m").alias("win_n"),
        ).unionByName(
            mp.select(
                F.col("l").alias("item"), F.col("n_m").alias("n"),
                F.lit(0).cast("long").alias("win_n"),
            )
        )
        tot = sides.groupBy("item").agg(
            F.sum("n").alias("n_matches"), F.sum("win_n").alias("wins")
        )
        # materialize the bounded per-item totals ONCE while mp_all is
        # cached: the returned plan reads tot after the block releases
        # it, so without this cut the consumer's action would re-execute
        # the whole upstream collapse just to re-derive the side totals
        tot = truncate_lineage(tot)
        boards = {f"r_{k}": k for k in ks}
        ratings = tot.select(
            "item",
            *[F.lit(int(initial) * scale).cast("long").alias(rc) for rc in boards],
        )
        for rnd, p in enumerate(periods):
            # `ratings` seeds EVERY item in the match log by construction
            # (tot derives from both match sides), so the step needs no
            # unseeded-item guard
            ratings = _elo_period(
                ratings, mp.filter(F.col("p") == p), boards, scale, "n_m"
            )
            ratings = truncate_lineage(ratings, rnd, len(periods), checkpoint_every)
    return ratings.join(tot, "item").select(
        "item",
        F.col("n_matches").cast("bigint").alias("n_matches"),
        F.col("wins").cast("bigint").alias("wins"),
        *[F.col(rc).alias(f"rating_fp_{k}") for rc, k in boards.items()],
    )


def wilson_winrate(
    matches: DataFrame,
    winner_col: str = "winner_id",
    loser_col: str = "loser_id",
    z: float = 1.959964,
    n_col: str | None = None,
) -> DataFrame:
    """Per-item win rate with the WILSON score interval (Wilson 1927)
    — the leaderboard column an arena publishes next to the rating:
    ``bradley_terry``/``elo_ratings`` give a point estimate, this gives
    the uncertainty, and ranking by the LOWER bound (the standard
    "sort by Wilson lower bound" rule) stops a 2-0 item outranking a
    180-20 one.

    One union-of-sides partial-agg groupBy builds exact integer
    ``(wins, n)`` per item; the interval itself is

        center ± z·sqrt(p(1−p)/n + z²/(4n²))  /  (1 + z²/n),
        center = (p + z²/(2n)) / (1 + z²/n)

    computed in doubles and rounded 6dp — DETERMINISTIC cross-engine
    by construction: Wilson needs only +,−,×,÷,sqrt, every one of
    which IEEE 754 requires correctly rounded (unlike exp/pow/log,
    which the quantized loops have to absorb). So the whole report is
    hash-gateable with no quantization discipline at all.

    ``rank_lb`` ranks by (ci_lo DESC, item ASC) over the item set —
    items are a leaderboard's model list (bounded), so the single
    global window is model-state-sized. Self-matches drop; NULL keys
    raise loudly.

    ``n_col`` names an optional MULTIPLICITY column (a row = n identical
    decided matches — the shared pair-count-table path; integer sums are
    identical to per-match rows). n must be ≥ 1.

    Returns ``(item, n_matches, wins, winrate, ci_lo, ci_hi,
    rank_lb)``."""
    if not 0.0 < float(z):
        raise ValueError(f"z must be positive: got {z!r}")
    cols = [
        F.col(winner_col).cast("string").alias("w"),
        F.col(loser_col).cast("string").alias("l"),
    ]
    if n_col is not None:
        cols.append(F.col(n_col).cast("long").alias("n"))
    m = matches.select(*cols)
    bad_pred = F.col("w").isNull() | F.col("l").isNull()
    if n_col is not None:
        bad_pred = bad_pred | F.col("n").isNull() | (F.col("n") < 1)
    bad = m.agg(F.sum(bad_pred.cast("bigint")).alias("nb")).collect()[0]
    if int(bad.nb or 0) > 0:
        raise ValueError(
            f"wilson_winrate: {bad.nb} matches have a NULL winner or"
            f" loser (or a NULL/non-positive multiplicity) — clean the"
            f" match log first"
        )
    m = m.filter(F.col("w") != F.col("l"))
    cnt = F.col("n") if n_col is not None else F.lit(1).cast("long")
    sides = m.select(
        F.col("w").alias("item"), cnt.alias("cnt"), cnt.alias("win")
    ).unionByName(
        m.select(
            F.col("l").alias("item"), cnt.alias("cnt"),
            F.lit(0).cast("long").alias("win"),
        )
    )
    tot = sides.groupBy("item").agg(
        F.sum("cnt").alias("n"), F.sum("win").alias("wins")
    )
    return _wilson_board(tot, z)


def _wilson_board(tot: DataFrame, z: float) -> DataFrame:
    """The Wilson interval and ``rank_lb`` over per-item ``(item, n,
    wins)`` integer totals — the one scoring body of ``wilson_winrate``
    and ``wilson_from_pairs``. Returns ``(item, n_matches, wins,
    winrate, ci_lo, ci_hi, rank_lb)``."""
    from pyspark.sql import Window

    zf = float(z)
    p = F.col("wins").cast("double") / F.col("n").cast("double")
    nn = F.col("n").cast("double")
    z2 = F.lit(zf * zf)
    denom = F.lit(1.0) + z2 / nn
    center = (p + z2 / (F.lit(2.0) * nn)) / denom
    half = (
        F.lit(zf)
        * F.sqrt(p * (F.lit(1.0) - p) / nn + z2 / (F.lit(4.0) * nn * nn))
        / denom
    )
    scored = tot.select(
        "item",
        F.col("n").cast("bigint").alias("n_matches"),
        F.col("wins").cast("bigint").alias("wins"),
        F.round(p, 6).alias("winrate"),
        F.round(center - half, 6).alias("ci_lo"),
        F.round(center + half, 6).alias("ci_hi"),
    )
    w_rank = Window.orderBy(F.col("ci_lo").desc(), F.col("item").asc())
    return scored.withColumn(
        "rank_lb", F.row_number().over(w_rank).cast("bigint")
    )


def bradley_terry_ties(
    outcomes: DataFrame,
    n_iter: int = 5,
    scale: int = 10**6,
    theta: tuple = (3, 2),
    smoothing2: int = 1,
    a_col: str = "side_a",
    b_col: str = "side_b",
    tie_col: str = "is_tie",
    checkpoint_every: int = 1,
) -> DataFrame:
    """Bradley-Terry with TIES — the Rao-Kupper model (Rao & Kupper
    1967) fit by Hunter's MM (Hunter, Annals of Statistics 2004, §5):
    arena vote logs carry "tie / both equal" judgments that plain
    ``bradley_terry`` must drop, discarding real evidence that two
    items sit close together.

        P(i beats j) = p_i / (p_i + θ·p_j)
        P(i ties j)  = (θ² − 1)·p_i·p_j
                       / ((p_i + θ·p_j)·(p_j + θ·p_i)),   θ > 1

    MM update, all-integer in the ``bradley_terry`` fixed-point
    discipline (θ an EXACT RATIONAL ``(t_num, t_den)`` so denominators
    stay integer):

        A_i = Σ_j (w_ij + t_ij)
        B_i = Σ_j [ (w_ij + t_ij)·s²·t_den div (t_den·p_i + t_num·p_j)
                  + (w_ji + t_ij)·s²·t_num div (t_den·p_j + t_num·p_i) ]
        p'_i = (A_i · s²) div B_i

    — at θ = 1 and zero ties this is exactly the BT update with the
    pair term split per direction (two floors instead of one; same
    fixed point). θ is a FIXED tie-threshold knob here: jointly
    estimating it is a bounded 1-D outer search the caller can grid —
    the MM inner loop is identical per candidate θ.

    Input rows: ``(side_a, side_b, is_tie)`` — on decided rows side_a
    is the winner. Doubled+smoothed counts (the BT convention: wins
    smoothed both ways, ties unsmoothed); self-pairs drop. Overflow
    bound: counts·s²·max(θ parts) below 2^63 — at defaults ~3e6
    (doubled) outcomes per pair. Deterministic and bit-exact under any
    partitioning; ties with θ = 1 raise (the model gives them zero
    probability). Returns ``(item, wins2, ties2, comparisons2,
    rating_fp)``."""
    tn, td = int(theta[0]), int(theta[1])
    if td < 1 or tn < td:
        raise ValueError(
            f"theta must be a rational >= 1 as (num, den): got {theta!r}"
        )
    scale = int(scale)
    o = outcomes.select(
        F.col(a_col).cast("string").alias("a"),
        F.col(b_col).cast("string").alias("b"),
        F.col(tie_col).cast("boolean").alias("t"),
    ).filter(F.col("a") != F.col("b"))
    n_ties = int(
        o.agg(F.sum(F.col("t").cast("bigint"))).collect()[0][0] or 0
    )
    if n_ties > 0 and tn == td:
        raise ValueError(
            "bradley_terry_ties: tie rows present but theta = 1 gives"
            " ties zero probability — set theta > 1 (e.g. (3, 2))"
        )
    # doubled win counts per ordered pair (winner first), smoothed both
    # ways through the full-outer mirror; doubled tie counts symmetric
    wins = (
        o.filter(~F.coalesce("t", F.lit(False)))
        .groupBy(F.col("a").alias("i"), F.col("b").alias("j"))
        .agg((F.lit(2) * F.count(F.lit(1))).alias("_w2raw"))
        .select("i", "j", (F.col("_w2raw") + F.lit(int(smoothing2))).alias("w2"))
    )
    ties2 = (
        o.filter(F.coalesce("t", F.lit(False)))
        .select("a", "b")
        .unionByName(
            o.filter(F.coalesce("t", F.lit(False))).select(
                F.col("b").alias("a"), F.col("a").alias("b")
            )
        )
        .groupBy(F.col("a").alias("i"), F.col("b").alias("j"))
        .agg((F.lit(2) * F.count(F.lit(1))).alias("t2"))  # doubled units,
        # per orientation — consistent with w2 so the MM weights wins
        # and ties on the same scale
    )
    rev = wins.select(
        F.col("j").alias("i"), F.col("i").alias("j"),
        F.col("w2").alias("w2_rev"),
    )
    s = F.lit(int(smoothing2))
    pairs = (
        wins.join(rev, ["i", "j"], "full_outer")
        .join(ties2, ["i", "j"], "full_outer")
        .select(
            "i",
            "j",
            F.coalesce("w2", s).alias("w2_f"),
            F.coalesce("w2_rev", s).alias("w2_r"),
            F.coalesce("t2", F.lit(0)).alias("t2"),
        )
    )
    # loop-invariant: every MM round re-reads the pair table
    with pinned(pairs) as pairs:
        tot = pairs.groupBy("i").agg(
            F.sum(F.col("w2_f") + F.col("t2")).alias("A"),
            F.sum("w2_f").alias("wins2"),
            F.sum("t2").alias("ties2"),
            F.sum(F.col("w2_f") + F.col("w2_r") + F.col("t2")).alias(
                "comparisons2"
            ),
        )
        # bounded totals cut once while pairs is cached (the job that fills
        # it) — the returned plan joins tot after the release (see
        # bradley_terry_from_pairs)
        tot = truncate_lineage(tot)
        a_tot = tot.select("i", "A")

        s2 = scale * scale
        ratings = a_tot.select(
            F.col("i").alias("id"), F.lit(int(scale)).cast("long").alias("p")
        )
        for rnd in range(int(n_iter)):
            ri = ratings.withColumnsRenamed({"id": "i", "p": "p_i"})
            rj = ratings.withColumnsRenamed({"id": "j", "p": "p_j"})
            denom = (
                pairs.join(F.broadcast(ri), "i")
                .join(F.broadcast(rj), "j")
                .select(
                    "i",
                    (
                        F.expr(
                            f"((w2_f + t2) * cast({s2} as bigint) * {td})"
                            f" div ({td} * p_i + {tn} * p_j)"
                        )
                        + F.expr(
                            f"((w2_r + t2) * cast({s2} as bigint) * {tn})"
                            f" div ({td} * p_j + {tn} * p_i)"
                        )
                    ).alias("d"),
                )
                .groupBy("i")
                .agg(F.sum("d").alias("B"))
            )
            ratings = denom.join(a_tot, "i").select(
                F.col("i").alias("id"),
                F.expr(f"(A * cast({s2} as bigint)) div B").alias("p"),
            )
            ratings = truncate_lineage(ratings, rnd, n_iter, checkpoint_every)
    return ratings.join(tot.withColumnsRenamed({"i": "id"}), "id").select(
        F.col("id").alias("item"),
        "wins2",
        "ties2",
        "comparisons2",
        F.col("p").alias("rating_fp"),
    )


def wilson_from_pairs(
    pair_wins2: DataFrame,
    z: float = 1.959964,
) -> DataFrame:
    """The Wilson board from an ALREADY-AGGREGATED ``(i, j, w2)``
    doubled-win-count table — the incremental path beside
    ``bradley_terry_from_pairs``: a streamed arena feed maintains the
    pair table (``pref_counts_merge_batch``) and BOTH leaderboard
    columns (BT rating, Wilson interval) re-derive from the same
    bounded state without re-reading an outcome. Doubled counts halve
    back to exact match units BEFORE the interval (the CI width
    depends on the absolute n — doubled units would fake twice the
    evidence). Ledger/self rows drop defensively. Output =
    ``wilson_winrate``'s shape, and streamed-vs-batch parity is exact
    by construction (integer sums merge associatively). Keys cast to
    string at entry — ``wilson_winrate``'s typing — so ``rank_lb``'s
    (ci_lo DESC, item ASC) tie-break orders identically from-pairs and
    from-log (numeric keys would tie-break numerically where the
    from-log board ties lexicographically; real ci_lo ties appear at
    corpus scale — seen at sf0.1)."""
    if not 0.0 < float(z):
        raise ValueError(f"z must be positive: got {z!r}")
    # union-of-sides (wilson_winrate's shape): per item, Σ_j w2(i,j) +
    # Σ_j w2(j,i) — the same integer totals the old (i, j) groupBy →
    # full-outer mirror self-join → per-item groupBy chain computed,
    # in ONE partial-agg pass (guide §2.4: both intermediate shuffles
    # were redundant — associative sums per ITEM never needed the
    # per-pair collapse, and duplicate pair rows sum identically).
    w = pair_wins2.select(
        F.col("i").cast("string").alias("i"),
        F.col("j").cast("string").alias("j"),
        F.col("w2").cast("long").alias("w2"),
    ).filter(F.col("i") != F.col("j"))
    sides = w.select(
        F.col("i").alias("item"),
        F.col("w2").alias("m2"),
        F.col("w2").alias("win2"),
    ).unionByName(
        w.select(
            F.col("j").alias("item"),
            F.col("w2").alias("m2"),
            F.lit(0).cast("long").alias("win2"),
        )
    )
    tot = sides.groupBy("item").agg(
        # integer `div`, never float `/`: a double intermediate loses
        # exactness past 2^53 and would break the module's all-integer
        # BIGINT discipline on the halved counts
        F.expr("sum(m2) div 2").cast("bigint").alias("n"),
        F.expr("sum(win2) div 2").cast("bigint").alias("wins"),
    )
    return _wilson_board(tot, z)
