"""Classifier evaluation at corpus scale: ROC-AUC, calibration, Brier.

The evaluation half of the on-engine quality-classifier loop
(``textstats.logreg_train`` trains the CCNet/GPT-3-recipe linear
filter, ``logreg_score`` runs inference; these operators grade the
scores) — the numbers a data card reports before a filter threshold is
frozen: ranking power (AUC), probability honesty (ECE / MCE), and the
proper score that combines both (Brier).

Exactness discipline (the repo's integral-metrics convention): scores
are quantized ONCE to BIGINT ``scale``-units per row by ``_fixed``
(``floor(s·scale + 0.5)``, NULL for a NULL or NaN score), and every
aggregate over them is an associative integer sum — so the rank-sum,
every calibration-bin numerator, and the Brier numerator are
bit-identical under any partitioning and replay exactly in DuckDB. The
only floats are the final divisions on exact integer operands (6dp-
rounded), which both engines perform identically.

One board per metric. Each metric collapses the corpus to a bounded
cell table, then reads it off that table in ONE body, per group:
``_auc_board`` (the Mann-Whitney rank-sum), ``_calibration_board``
(ECE / MCE / Brier) and ``_conformal_threshold`` (the conformal order
statistic). The per-group operators are the boards themselves; the
scalar operators run them as one group and raise where the report
would show a NULL; the streamed twins (``streaming/evaluation.py``)
run the same scalar readers over a sum-merged state table.

Scale shapes:
- ``roc_auc``: one pass to a (quantized-score → count, positives) cell
  table — bounded by the score's quantized support (≤ ``scale``+1
  cells for probability scores), NOT by corpus size — then the
  rank-sum as an ordered window over that bounded table. No
  corpus-sized sort anywhere: the classic "sort all scores" AUC
  becomes a vocabulary-sized problem after cell aggregation, the same
  collapse ``bpe_train`` uses for words.
- ``calibration_report`` / ``calibration_summary``: one pass to an
  (n_bins+1)-row cell table carrying integer count / positive / score
  / score² sums; ECE, MCE and Brier all derive from those bounded
  integers (Brier via Σs² − 2Σ_{y=1}s + n_pos — no second corpus
  pass).

Reference framing: the reference datamart grades its pipelines with
schema tests and fail-as-data queries (dbt-adapters
macros/materializations/tests/helpers.sql); a training-data pipeline
grades its FILTERS the same way — these are the test-harness analogue
for model-based curation stages.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..session import local_frame
from .text import grams, words


def _fixed(x: Column, scale: int) -> Column:
    """``x`` in BIGINT ``scale``-units, half-up: ``floor(x·scale +
    0.5)`` — the one quantizer of this module. NULL when ``x`` is NULL
    or NaN, so callers count both as dirty: NaN passes ``isNotNull``
    and ``floor(NaN·scale + 0.5)`` is 0 (ANSI on or off), which would
    silently file the row at 0."""
    return F.when(
        ~F.isnan(x.cast("double")),
        F.floor(x * F.lit(int(scale)) + F.lit(0.5)).cast("bigint"),
    )


def _rank2(order: Column | str, cnt: str, *by: str) -> Column:
    """Twice the average rank of a tied cell of a BOUNDED cell table:
    ``cnt`` equal ``order`` values after ``below`` smaller ones (per
    ``by`` partition) hold ranks below+1 … below+cnt, whose doubled
    mean ``2·below + cnt + 1`` stays an integer."""
    w = Window.partitionBy(*by).orderBy(order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    below = F.coalesce(F.sum(cnt).over(w), F.lit(0))
    return F.lit(2) * below + F.col(cnt) + F.lit(1)


def _quantized_cells(
    df: DataFrame,
    score_col: str,
    label_col: str,
    scale: int,
    group_col: str | None = None,
) -> DataFrame:
    """(s_fp, cnt, pos, bad) cells: one corpus pass, bounded output
    (per group when ``group_col`` is given — bad rows land in an
    ``s_fp`` NULL cell so the rank path can exclude them cleanly).

    ``bad`` counts rows whose label is NULL / not in {0, 1} or whose
    score is NULL or NaN — surfaced to callers so validation needs no
    second corpus scan."""
    y = F.col(label_col).cast("int")
    s_fp = _fixed(F.col(score_col), scale)
    ok = y.isNotNull() & y.isin(0, 1) & s_fp.isNotNull()
    keys = ([F.col(group_col).alias("grp")] if group_col else []) + [
        F.col("s_fp")
    ]
    return (
        df.select(
            *([F.col(group_col)] if group_col else []),
            F.when(ok, s_fp).alias("s_fp"),
            F.when(ok, y).otherwise(F.lit(0)).alias("y"),
            (~ok).cast("bigint").alias("bad"),
        )
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("y").alias("pos"),
            F.sum("bad").alias("bad"),
        )
    )


def _auc_board(cells: DataFrame) -> DataFrame:
    """The Mann-Whitney rank-sum, per ``grp`` of a quantized cell table
    ``(grp, s_fp, cnt, pos, bad)``: with clean cells ordered by score,

        2U  = Σ_cells pos·rank2 − n_pos·(n_pos+1)
        AUC = 2U / (2·n_pos·n_neg)

    with ``rank2`` the doubled tie-average rank (``_rank2``) — every
    term integer-exact, the final division a single float op on exact
    operands (identical in DuckDB). The window is PARTITIONED BY the
    group over the bounded cell table, so the group key shuffles once
    and no stage sorts corpus rows.

    Report semantics: a group where AUC is undefined — single-class,
    or carrying dirty (``s_fp`` NULL) cells — keeps its row with
    ``auc`` NULL and its counts visible. Dirty rows are EXCLUDED from
    the clean rows' ranks. Returns ``(grp, n_rows, n_pos, n_neg,
    n_bad, n_score_cells, auc)``."""
    clean = F.col("s_fp").isNotNull()
    # NULLS LAST: the dirty cell sorts after every clean cell, so it
    # never enters a clean cell's below-count
    ranked = cells.select(
        "grp",
        "s_fp",
        "cnt",
        "pos",
        "bad",
        (
            F.col("pos")
            * _rank2(F.col("s_fp").asc_nulls_last(), "cnt", "grp")
        ).alias("pr2"),
    )

    def clean_sum(c: str) -> Column:
        return F.coalesce(F.sum(F.when(clean, F.col(c))), F.lit(0))

    # one aggregate per group, dirty cell included: a group holding
    # ONLY dirty rows still surfaces (n_rows 0, auc NULL), and a NULL
    # group is a slice like any other
    agg = ranked.groupBy("grp").agg(
        clean_sum("cnt").alias("n"),
        clean_sum("pos").alias("np"),
        clean_sum("pr2").alias("pr2"),
        F.count("s_fp").alias("n_cells"),
        F.sum("bad").alias("n_bad"),
    )
    npos, n = F.col("np"), F.col("n")
    nneg = n - npos
    ok = (F.col("n_bad") == 0) & (npos > 0) & (nneg > 0)
    return agg.select(
        "grp",
        n.cast("bigint").alias("n_rows"),
        npos.cast("bigint").alias("n_pos"),
        nneg.cast("bigint").alias("n_neg"),
        F.col("n_bad").cast("bigint").alias("n_bad"),
        F.col("n_cells").cast("bigint").alias("n_score_cells"),
        F.when(
            ok,
            F.round(
                (F.col("pr2") - npos * (npos + F.lit(1))).cast("double")
                / (F.lit(2.0) * npos * nneg).cast("double"),
                6,
            ),
        ).alias("auc"),
    )


def _auc_scalar(cells: DataFrame) -> DataFrame:
    """``roc_auc``'s read of a cell table (batch or streamed): the whole
    table as one ``_auc_board`` group, collected (one bounded row) and
    guarded — dirty rows and a single-class relation raise."""
    r = next(
        iter(_auc_board(cells.withColumn("grp", F.lit(0))).collect()), None
    )
    if r is not None and r.n_bad > 0:
        raise ValueError(
            f"roc_auc: {r.n_bad} rows have NULL/NaN scores or labels outside"
            " {0, 1} — clean the eval relation first (silent exclusion"
            " would misreport the operating population)"
        )
    n_pos, n_neg = (r.n_pos, r.n_neg) if r is not None else (0, 0)
    if n_pos == 0 or n_neg == 0:
        raise ValueError(
            f"roc_auc is undefined on a single-class relation: "
            f"n_pos={n_pos}, n_neg={n_neg}"
        )
    return local_frame(
        cells.sparkSession,
        [(r.n_rows, n_pos, n_neg, r.n_score_cells, r.auc)],
        "n_rows bigint, n_pos bigint, n_neg bigint,"
        " n_score_cells bigint, auc double",
    )


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Exact ROC-AUC of ``score_col`` against binary ``label_col`` via
    the Mann-Whitney rank-sum, with average ranks for ties:

        AUC = (Σ_pos rank − n_pos·(n_pos+1)/2) / (n_pos·n_neg)

    computed ENTIRELY in BIGINTs on the quantized-score cell table
    (``_auc_board``, run as one group). AUC is reported for the
    QUANTIZED classifier: rows whose scores collide at ``scale``
    resolution are ties by construction (at the default 10⁻⁶ this is
    at or below any real classifier's meaningful precision; raise
    ``scale`` when it isn't). Overflow bound: n_pos·n below ~4.6·10¹⁸.

    One corpus read: the board's row is collected (bounded model
    state) and returned as a local frame, so the returned plan reads
    no corpus rows.

    Raises on NULL/non-binary labels, NULL/NaN scores, or a
    single-class relation (AUC undefined). Returns one row:
    ``(n_rows, n_pos, n_neg, n_score_cells, auc)`` (auc 6dp).
    """
    return _auc_scalar(_quantized_cells(df, score_col, label_col, int(scale)))


def roc_auc_by_group(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Per-group ROC-AUC — the "does the quality filter rank well in
    EVERY language/domain?" slice of ``roc_auc``, fully in-plan (no
    driver model state): ``_auc_board`` over per-group cells, so no
    single-partition stage exists at any group count.

    Report semantics (the ``calibration_report`` convention) instead
    of the scalar's eager guards: a group where AUC is undefined —
    single-class, or carrying NULL/non-binary rows — keeps its row
    with ``auc`` NULL and the ``n_pos`` / ``n_neg`` / ``n_bad``
    counts visible, so a dirty slice can never silently vanish from a
    data card.

    Returns one row per group:
    ``(group, n_rows, n_pos, n_neg, n_bad, n_score_cells, auc)``.
    """
    cells = _quantized_cells(
        df, score_col, label_col, int(scale), group_col=group_col
    )
    return _auc_board(cells).withColumnRenamed("grp", group_col)


def _bin_cells(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int,
    scale: int,
    group_col: str | None = None,
) -> DataFrame:
    """(bin, n, pos, s_sum, s2_sum, sy_sum, bad) — one corpus pass to
    at most ``n_bins + 1`` rows (``sy_sum`` = Σ_{y=1} quantized-score,
    the Brier cross term); per group (keyed ``grp``) when ``group_col``
    is given. Scores outside [0, 1] land in bin −1 (kept visible,
    never silently clamped); dirty rows (NULL/NaN score, label not in
    {0, 1}) land in a bin NULL cell; score == 1.0 belongs to the top
    bin."""
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    sq = _fixed(F.col(score_col), scale)
    s2q = _fixed(F.col(score_col) * F.col(score_col), scale)
    ok = y.isNotNull() & y.isin(0, 1) & sq.isNotNull()
    in_range = (s >= 0.0) & (s <= 1.0)
    bin_ = (
        F.when(~ok, F.lit(None))
        .when(~in_range, F.lit(-1))
        .otherwise(
            F.least(
                F.floor(s * F.lit(int(n_bins))).cast("int"),
                F.lit(int(n_bins) - 1),
            )
        )
    )
    keys = ([F.col(group_col).alias("grp")] if group_col else []) + [
        F.col("bin")
    ]
    return (
        df.select(
            *([F.col(group_col)] if group_col else []),
            bin_.alias("bin"),
            F.when(ok, y).otherwise(F.lit(0)).alias("y"),
            F.when(ok & in_range, sq).otherwise(F.lit(0)).alias("sq"),
            F.when(ok & in_range, s2q).otherwise(F.lit(0)).alias("s2q"),
            (~ok).cast("bigint").alias("bad"),
        )
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("pos"),
            F.sum("sq").alias("s_sum"),
            F.sum("s2q").alias("s2_sum"),
            F.sum(F.col("sq") * F.col("y")).alias("sy_sum"),
            F.sum("bad").alias("bad"),
        )
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    scale: int = 10**6,
) -> DataFrame:
    """Reliability-diagram table: equal-width probability bins with the
    observed positive rate next to the mean claimed confidence —
    the per-bin detail behind ``calibration_summary``'s ECE.

    Returns ``(bin, n_rows, n_pos, conf, acc, gap)`` ordered by bin;
    ``conf`` / ``acc`` / ``gap`` are float divisions of exact integer
    sums (6dp). Out-of-[0,1] scores surface as a ``bin = −1`` row
    (conf/acc NULL there) rather than being clamped — the summary
    RAISES on them; the report keeps them visible for triage. One
    corpus pass; output bounded by ``n_bins + 1`` rows."""
    if int(n_bins) < 2:
        raise ValueError(f"n_bins must be >= 2: got {n_bins!r}")
    cells = _bin_cells(df, score_col, label_col, int(n_bins), int(scale))
    in_range = F.col("bin") >= 0
    return cells.select(
        F.col("bin"),
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("pos").cast("bigint").alias("n_pos"),
        F.when(
            in_range,
            F.round(
                F.col("s_sum").cast("double")
                / (F.col("n") * F.lit(int(scale))).cast("double"),
                6,
            ),
        ).alias("conf"),
        F.when(
            in_range,
            F.round(F.col("pos").cast("double") / F.col("n").cast("double"), 6),
        ).alias("acc"),
        F.when(
            in_range,
            F.round(
                F.abs(
                    F.col("s_sum").cast("double")
                    / (F.col("n") * F.lit(int(scale))).cast("double")
                    - F.col("pos").cast("double") / F.col("n").cast("double")
                ),
                6,
            ),
        ).alias("gap"),
    ).orderBy("bin")


def _calibration_board(cells: DataFrame, scale: int) -> DataFrame:
    """ECE, MCE and the Brier score per ``grp`` of a bin-cell table
    (``_bin_cells`` keyed by ``grp``), all from BIGINT sums:

        ECE   = Σ_b |s_sum_b − scale·pos_b| / (scale·N)
        MCE   = max_b |s_sum_b − scale·pos_b| / (scale·n_b)
        Brier = (Σs² − 2·Σ_{y=1}s + scale·n_pos) / (scale·N)

    (the weighted-gap sum telescopes: n_b/N · |conf_b − acc_b| has the
    bin count cancel, leaving pure integer numerators; Brier expands
    (s−y)² so the one bin pass already holds every term). Each metric
    is one float division of exact integers, rounded 6dp in-plan.

    Report semantics: a group with dirty rows, out-of-range scores, or
    no clean rows keeps its row with NULL metrics and visible
    ``n_bad`` / ``n_oob`` counts. Returns ``(grp, n_rows, n_pos,
    n_bad, n_oob, n_bins_used, ece, mce, brier)``."""
    gap_num = F.abs(F.col("s_sum") - F.lit(scale) * F.col("pos"))

    def clean(c: Column) -> Column:
        return F.when(F.col("bin") >= 0, c)

    # one aggregate per group, dirty and out-of-range cells included:
    # a group with no clean bin still surfaces, and a NULL group is a
    # slice like any other
    agg = cells.groupBy("grp").agg(
        F.sum(clean(F.col("n"))).alias("N"),
        F.sum(clean(F.col("pos"))).alias("npos"),
        F.sum(clean(gap_num)).alias("gap_sum"),
        F.max(
            clean(
                gap_num.cast("double")
                / (F.col("n") * F.lit(scale)).cast("double")
            )
        ).alias("mce"),
        F.sum(clean(F.col("s2_sum"))).alias("s2"),
        F.sum(clean(F.col("sy_sum"))).alias("sy"),
        F.count(clean(F.lit(1))).alias("n_bins_used"),
        F.sum("bad").alias("n_bad"),
        F.sum(F.when(F.col("bin") == -1, F.col("n")).otherwise(0)).alias(
            "n_oob"
        ),
    )
    n_d = F.col("N").cast("double")
    ok = (
        (F.col("n_bad") == 0)
        & (F.col("n_oob") == 0)
        & F.col("N").isNotNull()
        & (F.coalesce(F.col("N"), F.lit(0)) > 0)
    )
    return agg.select(
        "grp",
        F.coalesce(F.col("N"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.coalesce(F.col("npos"), F.lit(0)).cast("bigint").alias("n_pos"),
        F.col("n_bad").cast("bigint").alias("n_bad"),
        F.col("n_oob").cast("bigint").alias("n_oob"),
        F.col("n_bins_used").cast("int").alias("n_bins_used"),
        F.when(
            ok,
            F.round(
                F.col("gap_sum").cast("double") / (n_d * F.lit(scale)), 6
            ),
        ).alias("ece"),
        F.when(ok, F.round(F.col("mce"), 6)).alias("mce"),
        F.when(
            ok,
            F.round(
                (
                    F.col("s2") - F.lit(2) * F.col("sy")
                    + F.lit(scale) * F.col("npos")
                ).cast("double")
                / (n_d * F.lit(scale)),
                6,
            ),
        ).alias("brier"),
    )


def _calibration_scalar(cells: DataFrame, scale: int) -> DataFrame:
    """``calibration_summary``'s read of a bin-cell table (batch or
    streamed): the whole table as one ``_calibration_board`` group,
    collected (one bounded row) and guarded — dirty rows, out-of-range
    scores and an empty relation raise."""
    r = next(
        iter(
            _calibration_board(
                cells.withColumn("grp", F.lit(0)), int(scale)
            ).collect()
        ),
        None,
    )
    if r is not None and r.n_bad > 0:
        raise ValueError(
            f"calibration_summary: {r.n_bad} rows have NULL/NaN scores or"
            " labels outside {0, 1} — clean the eval relation first"
        )
    if r is not None and r.n_oob > 0:
        raise ValueError(
            f"calibration_summary: {r.n_oob} scores outside [0, 1] —"
            " calibration bins are probability bins; map scores through"
            " a sigmoid (logreg_score already does) before grading"
        )
    if r is None or r.n_rows == 0:
        raise ValueError("calibration_summary got an empty relation")
    return local_frame(
        cells.sparkSession,
        [(r.n_rows, r.n_pos, r.n_bins_used, r.ece, r.mce, r.brier)],
        "n_rows bigint, n_pos bigint, n_bins_used int, ece double,"
        " mce double, brier double",
    )


def calibration_summary(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    scale: int = 10**6,
) -> DataFrame:
    """One-row calibration scorecard: ECE, MCE and the Brier score,
    all derived EXACTLY from the bounded bin-cell integers
    (``_calibration_board`` run as one group; the formulas live
    there). The board's row is collected — bounded model state — and
    returned as a local frame.

    Raises on NULL/non-binary labels, NULL/NaN scores, scores outside
    [0, 1], or an empty relation. Returns
    ``(n_rows, n_pos, n_bins_used, ece, mce, brier)``.
    """
    if int(n_bins) < 2:
        raise ValueError(f"n_bins must be >= 2: got {n_bins!r}")
    cells = _bin_cells(df, score_col, label_col, int(n_bins), int(scale))
    return _calibration_scalar(cells, int(scale))


def _tagged_grams(w: Column | str, orders) -> Column:
    """Every word n-gram of ``w`` for each n in ``orders``, as one
    ``(n, g)`` struct array (``g`` space-joined): the BLEU and distinct-n
    gram stream."""

    def tag(n: int):
        # one-arg lambda: F.transform passes the element INDEX to a
        # second parameter, defaulted or not
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))

    return F.flatten(
        F.array(*[F.transform(grams(w, n), tag(int(n))) for n in orders])
    )


def bleu_corpus(
    df: DataFrame,
    cand_col: str,
    ref_col: str,
    id_col: str,
    max_n: int = 4,
    smooth_add1: bool = False,
) -> DataFrame:
    """Corpus-level BLEU (Papineni et al. 2002) of a candidate column
    against a single reference column — the generation-eval metric a
    distillation / translation data pipeline grades model outputs with
    at corpus scale. Exact integer clipped counting end to end:

        p_n  = Σ_pairs Σ_grams min(count_cand, count_ref) /
               Σ_pairs (|cand| − n + 1)⁺
        BLEU = BP · exp(Σ_n ln(p_n) / N),   BP = min(1, e^(1 − r/c))

    Every numerator and denominator is an associative BIGINT sum, so
    the score is bit-identical on any layout; the only floats are the
    final ln/exp over those exact integers. ``smooth_add1=True``
    applies Lin & Och (2004) add-one smoothing to n ≥ 2 (short-corpus
    use); unsmoothed, any zero match count makes BLEU exactly 0 (the
    standard definition — reported, never hidden, since p_n columns
    stay visible).

    Tokenization: the repo tokenizer ``text.words`` (lowercase +
    whitespace split), applied identically to both sides (BLEU parity
    requires one tokenizer — swap upstream if you need another). Pairs
    with NULL on either side are EXCLUDED from every sum and COUNTED in
    ``n_null_pairs`` (report semantics).

    Scale shape: two posexplode passes (candidate and reference grams,
    all n orders tagged in one explode each) partial-agg to per-(pair,
    n, gram) counts, one full-outer join on that key to clip, then one
    bounded aggregate per n — the ``ngram_contamination`` shuffle
    class: rows ∝ distinct grams per pair, never pairwise across the
    corpus. Returns one row: ``(n_pairs, n_null_pairs, cand_len,
    ref_len, p1..p{max_n}, brevity_penalty, bleu)`` (6dp).
    """
    import math

    if not 1 <= int(max_n) <= 6:
        raise ValueError(f"max_n must be in [1, 6]: got {max_n!r}")
    max_n = int(max_n)

    ok = F.col(cand_col).isNotNull() & F.col(ref_col).isNotNull()
    base = df.select(
        F.col(id_col).alias("_id"), ok.alias("_ok"),
        words(cand_col).alias("_c"), words(ref_col).alias("_r"),
    )
    head = base.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((~F.col("_ok")).cast("bigint")).alias("nulls"),
        F.sum(F.when(F.col("_ok"), F.size("_c")).otherwise(0)).alias("clen"),
        F.sum(F.when(F.col("_ok"), F.size("_r")).otherwise(0)).alias("rlen"),
    ).collect()[0]
    n_pairs = int(head.total) - int(head.nulls)
    if n_pairs == 0:
        raise ValueError("bleu_corpus: no non-NULL candidate/ref pairs")
    c_len, r_len = int(head.clen), int(head.rlen)

    clean = base.filter("_ok")

    def side_counts(col, name):
        return (
            clean.select(
                "_id", F.explode(_tagged_grams(col, range(1, max_n + 1))).alias("e")
            )
            .groupBy("_id", F.col("e.n").alias("n"), F.col("e.g").alias("g"))
            .agg(F.count(F.lit(1)).alias(name))
        )

    cc = side_counts("_c", "nc")
    rc = side_counts("_r", "nr")
    per_n = (
        cc.join(rc, ["_id", "n", "g"], "full")
        .select(
            "n",
            F.least(
                F.coalesce("nc", F.lit(0)), F.coalesce("nr", F.lit(0))
            ).alias("clip"),
        )
        .groupBy("n")
        .agg(F.sum("clip").alias("match"))
        .collect()
    )  # bounded: max_n rows of model state
    match = {int(r.n): int(r.match) for r in per_n}
    # candidate n-gram totals: Σ_pairs (|cand| − n + 1)⁺, one aggregate
    tot_rows = clean.select(
        *[
            F.greatest(F.size("_c") - F.lit(n - 1), F.lit(0)).alias(f"t{n}")
            for n in range(1, max_n + 1)
        ]
    ).agg(
        *[F.sum(f"t{n}").alias(f"t{n}") for n in range(1, max_n + 1)]
    ).collect()[0]
    totals = {n: int(tot_rows[f"t{n}"]) for n in range(1, max_n + 1)}

    ps, log_sum, zero = {}, 0.0, False
    for n in range(1, max_n + 1):
        num, den = match.get(n, 0), totals[n]
        if smooth_add1 and n >= 2:
            num, den = num + 1, den + 1
        ps[n] = (num / den) if den > 0 else 0.0
        if num == 0 or den == 0:
            zero = True
        else:
            log_sum += math.log(num / den)
    bp = 1.0 if c_len >= r_len else math.exp(1.0 - r_len / max(c_len, 1))
    bleu = 0.0 if zero else bp * math.exp(log_sum / max_n)

    spark = df.sparkSession
    return local_frame(
        spark,
        [
            (
                n_pairs,
                int(head.nulls),
                c_len,
                r_len,
                *[round(ps[n], 6) for n in range(1, max_n + 1)],
                round(bp, 6),
                round(bleu, 6),
            )
        ],
        "n_pairs bigint, n_null_pairs bigint, cand_len bigint,"
        " ref_len bigint, "
        + ", ".join(f"p{n} double" for n in range(1, max_n + 1))
        + ", brevity_penalty double, bleu double",
    )


def _chrf_gram_counts(
    df: DataFrame, cand_col: str, ref_col: str, id_col: str, max_n: int
) -> tuple[int, int, DataFrame]:
    """The chrF counting core shared by ``chrf_report`` and the
    streamed-cells twin: returns ``(n_pairs, n_null_pairs, per_n)``
    where ``per_n`` is the bounded (n, cand_ngrams, ref_ngrams,
    match_ngrams) integer-sum frame over whitespace-stripped
    lowercased char grams (orders with no grams are absent — callers
    join onto an order spine). All counts are associative BIGINT sums,
    so per-batch cells SUM-merge to exactly the whole-corpus counts
    (clipping is per-pair, inside one row)."""

    def chars(c):
        return F.regexp_replace(F.lower(F.trim(F.col(c))), r"\s+", "")

    ok = F.col(cand_col).isNotNull() & F.col(ref_col).isNotNull()
    base = df.select(
        F.col(id_col).alias("_id"), ok.alias("_ok"),
        chars(cand_col).alias("_c"), chars(ref_col).alias("_r"),
    )
    head = base.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((~F.col("_ok")).cast("bigint")).alias("nulls"),
    ).collect()[0]
    n_nulls = int(head.nulls or 0)
    n_pairs = int(head.total) - n_nulls

    def char_grams(col):
        # character n-grams, not word windows (text.windows): sequence(1,
        # k) DESCENDS when k < 1, so clamp to 1 and trim the bogus entry
        # with a 0-length slice
        def one_order(n):
            k = F.length(col) - F.lit(n - 1)

            def mk(i, _n=int(n)):
                return F.struct(
                    F.lit(_n).alias("n"), col.substr(i, F.lit(_n)).alias("g")
                )

            return F.slice(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
                    lambda i: mk(i),
                ),
                1,
                F.greatest(k, F.lit(0)),
            )

        return F.flatten(
            F.array(*[one_order(n) for n in range(1, max_n + 1)])
        )

    clean = base.filter("_ok")

    # ONE side-tagged explode + ONE (pair, n, gram) aggregation: both
    # sides' grams live in the same row, so the per-(pair, n, gram)
    # cand/ref counts are two conditional sums of one exploded stream —
    # the per-side explode + per-side groupBy + full-outer clip join
    # computed the identical integer table in two extra gram-stream
    # shuffles and a join stage (guide §2.3/§2.4: aggregate before you
    # shuffle, share the exchange). Same multisets in, associative
    # BIGINT sums out — bit-identical per_n.
    tagged = F.concat(
        F.transform(
            char_grams(F.col("_c")),
            lambda e: F.struct(
                e["n"].alias("n"), e["g"].alias("g"),
                F.lit(0).alias("s"),
            ),
        ),
        F.transform(
            char_grams(F.col("_r")),
            lambda e: F.struct(
                e["n"].alias("n"), e["g"].alias("g"),
                F.lit(1).alias("s"),
            ),
        ),
    )
    counts = (
        clean.select("_id", F.explode(tagged).alias("e"))
        .groupBy("_id", F.col("e.n").alias("n"), F.col("e.g").alias("g"))
        .agg(
            F.sum(F.when(F.col("e.s") == 0, 1).otherwise(0))
            .cast("long")
            .alias("nc"),
            F.sum(F.when(F.col("e.s") == 1, 1).otherwise(0))
            .cast("long")
            .alias("nr"),
        )
    )
    per_n = counts.groupBy("n").agg(
        F.sum("nc").alias("cand_ngrams"),
        F.sum("nr").alias("ref_ngrams"),
        F.sum(F.least("nc", "nr")).alias("match_ngrams"),
    )
    return n_pairs, n_nulls, per_n


def chrf_report(
    df: DataFrame,
    cand_col: str,
    ref_col: str,
    id_col: str,
    max_n: int = 6,
    beta: int = 2,
) -> DataFrame:
    """Corpus-level chrF (Popović, WMT 2015 — "chrF: character n-gram
    F-score for automatic MT evaluation"): CHARACTER n-gram F-score of
    a candidate column against a reference, the tokenizer-free metric
    that grades morphology-rich and non-whitespace languages where
    BLEU's word n-grams fall apart — the third generation-eval rung
    beside ``bleu_corpus`` (precision n-grams) and ``rouge_l`` (LCS
    recall).

    Per order n = 1..max_n over whitespace-stripped lowercased text
    (the chrF convention — spaces carry no content signal):

        match_n = Σ_pairs Σ_grams min(count_cand, count_ref)   [clipped]
        P_n = match_n / cand_n      R_n = match_n / ref_n
        F_n = (1+β²)·P·R / (β²·P + R)
            = (1+β²)·match_n / (β²·ref_n + cand_n)     [exact identity:
              ONE float division of exact BIGINTs — no intermediate
              P·R rounding to disagree on cross-engine]

    Corpus aggregation is MICRO (counts sum over segments per order,
    the paper's document-level form). Every count is an associative
    BIGINT sum — bit-identical on any layout; the only floats are the
    three final divisions per order, rounded 6dp. Zero-denominator
    semantics stay visible: P/R are NULL where their side has no
    grams; F is NULL only when BOTH sides are gramless at that order
    (shorter-than-n corpora), else an exact 0 on a complete miss. The
    headline chrF score is the arithmetic mean of the non-NULL F_n —
    one ``avg(fscore)`` over this report's ≤ max_n rows.

    NULL pairs are excluded from every sum and counted in
    ``n_null_pairs`` (report semantics, the ``bleu_corpus`` contract).

    Scale shape: two explode passes (candidate and reference char
    grams, all orders tagged in one explode each) partial-agg to
    per-(pair, n, gram) counts, one full-outer join on that key to
    clip, then bounded per-order aggregates joined onto a max_n-row
    order spine — the ``ngram_contamination`` shuffle class, rows ∝
    distinct grams per pair, never pairwise across the corpus.

    Returns ``(order, n_pairs, n_null_pairs, cand_ngrams, ref_ngrams,
    match_ngrams, precision, recall, fscore)`` — one row per order."""
    if not 1 <= int(max_n) <= 10:
        raise ValueError(f"max_n must be in [1, 10]: got {max_n!r}")
    if int(beta) < 1:
        raise ValueError(f"beta must be a positive integer: got {beta!r}")
    max_n, b2 = int(max_n), int(beta) ** 2

    n_pairs, n_nulls, per_n = _chrf_gram_counts(
        df, cand_col, ref_col, id_col, max_n
    )
    if n_pairs == 0:
        raise ValueError("chrf_report: no non-NULL candidate/ref pairs")
    return _chrf_assemble(
        df.sparkSession, n_pairs, n_nulls, per_n, max_n, b2
    )


def _chrf_assemble(
    spark, n_pairs: int, n_nulls: int, per_n: DataFrame, max_n: int, b2: int
) -> DataFrame:
    """Final chrF report from the per-order count frame — shared by
    the batch operator and the streamed-cells read-back (identical
    arithmetic by construction)."""
    spine = spark.range(1, max_n + 1).select(
        F.col("id").cast("int").alias("n")
    )
    m, c, r = F.col("match_ngrams"), F.col("cand_ngrams"), F.col("ref_ngrams")
    return (
        spine.join(per_n, "n", "left")
        .select(
            F.col("n").cast("int").alias("order"),
            F.lit(n_pairs).cast("bigint").alias("n_pairs"),
            F.lit(n_nulls).cast("bigint").alias("n_null_pairs"),
            F.coalesce(c, F.lit(0)).cast("bigint").alias("cand_ngrams"),
            F.coalesce(r, F.lit(0)).cast("bigint").alias("ref_ngrams"),
            F.coalesce(m, F.lit(0)).cast("bigint").alias("match_ngrams"),
        )
        .select(
            "order",
            "n_pairs",
            "n_null_pairs",
            "cand_ngrams",
            "ref_ngrams",
            "match_ngrams",
            F.when(
                F.col("cand_ngrams") > 0,
                F.round(
                    F.col("match_ngrams")
                    / F.col("cand_ngrams").cast("double"),
                    6,
                ),
            ).alias("precision"),
            F.when(
                F.col("ref_ngrams") > 0,
                F.round(
                    F.col("match_ngrams") / F.col("ref_ngrams").cast("double"),
                    6,
                ),
            ).alias("recall"),
            F.when(
                (F.lit(b2) * F.col("ref_ngrams") + F.col("cand_ngrams")) > 0,
                F.round(
                    (F.lit(1 + b2) * F.col("match_ngrams"))
                    / (
                        F.lit(b2) * F.col("ref_ngrams") + F.col("cand_ngrams")
                    ).cast("double"),
                    6,
                ),
            ).alias("fscore"),
        )
    )


def rouge_l(
    df: DataFrame,
    cand_col: str,
    ref_col: str,
    id_col: str,
) -> DataFrame:
    """Per-pair ROUGE-L (Lin 2004): token-level longest-common-
    subsequence precision / recall / F1 of a candidate column against
    a reference — BLEU's recall-oriented sibling for summarization /
    distillation output grading. LCS needs dynamic programming, so
    this is the sanctioned Arrow path (the ``multimodal`` pattern): a
    ``mapInPandas`` batch loop over a pure function of the two token
    lists — partitioning-invariant by construction, no model state.

    Tokenization matches ``bleu_corpus`` (lowercase + whitespace
    split). ``lcs_len`` and both lengths are exact ints; the three
    ratios are single float divisions rounded 6dp. A pair with NULL on
    either side keeps its row with NULL metrics (report semantics).
    Cost is O(|cand|·|ref|) per pair — the inherent LCS bound; batches
    stream through Arrow, per-executor memory stays one batch.

    Returns ``(id, cand_len, ref_len, lcs_len, precision, recall,
    f1)``.
    """
    import pandas as pd

    def _lcs(a: list, b: list) -> int:
        if not a or not b:
            return 0
        prev = [0] * (len(b) + 1)
        for x in a:
            cur = [0] * (len(b) + 1)
            for j, y in enumerate(b, 1):
                cur[j] = prev[j - 1] + 1 if x == y else max(
                    prev[j], cur[j - 1]
                )
            prev = cur
        return prev[-1]

    proj = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(cand_col).cast("string").alias("_c"),
        F.col(ref_col).cast("string").alias("_r"),
    )

    def batches(it):
        for pdf in it:
            out = []
            for pid, c, r in zip(pdf["_id"], pdf["_c"], pdf["_r"]):
                if c is None or r is None or (
                    isinstance(c, float) or isinstance(r, float)
                ):
                    out.append((pid, None, None, None, None, None, None))
                    continue
                ct, rt = str(c).strip().lower().split(), str(
                    r
                ).strip().lower().split()
                l = _lcs(ct, rt)
                p = round(l / len(ct), 6) if ct else None
                rec = round(l / len(rt), 6) if rt else None
                f1 = (
                    round(2 * l / (len(ct) + len(rt)), 6)
                    if (ct or rt)
                    else None
                )
                out.append((pid, len(ct), len(rt), l, p, rec, f1))
            yield pd.DataFrame(
                out,
                columns=[
                    "_id", "cand_len", "ref_len", "lcs_len",
                    "precision", "recall", "f1",
                ],
            )

    return proj.mapInPandas(
        batches,
        f"_id long, cand_len int, ref_len int, lcs_len int,"
        " precision double, recall double, f1 double",
    ).withColumnRenamed("_id", id_col)


def distinct_n(
    df: DataFrame,
    text_col: str,
    ns: tuple = (1, 2, 3),
) -> DataFrame:
    """Distinct-n generation-diversity report (Li et al. 2016,
    arXiv:1510.03055): corpus-level ratio of DISTINCT n-grams to total
    n-grams — the standard mode-collapse smoke alarm for synthetic /
    distilled data (a generator that loops emits many tokens but few
    distinct trigrams). Tokenization matches ``bleu_corpus``.

    One explode pass with every requested order tagged, one partial-agg
    groupBy on (n, gram), one bounded groupBy(n) fold — counts are
    associative BIGINTs, the ratio a single 6dp division; rows with
    NULL text are excluded from every order (their count is visible in
    any upstream profile, not silently folded here — this is a ratio
    over EMITTED text). Returns ``(n, total_ngrams, distinct_ngrams,
    distinct_ratio)`` ordered by n.
    """
    orders = sorted({int(n) for n in ns})
    if not orders or orders[0] < 1 or orders[-1] > 8:
        raise ValueError(f"ns must be ints in [1, 8]: got {ns!r}")
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(_tagged_grams(words(text_col), orders)).alias("e"))
        .groupBy(F.col("e.n").alias("n"), F.col("e.g").alias("g"))
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("n")
        .agg(
            F.sum("c").alias("total_ngrams"),
            F.count(F.lit(1)).alias("distinct_ngrams"),
        )
        .select(
            "n",
            F.col("total_ngrams").cast("bigint"),
            F.col("distinct_ngrams").cast("bigint"),
            F.round(
                F.col("distinct_ngrams") / F.col("total_ngrams"), 6
            ).alias("distinct_ratio"),
        )
        .orderBy("n")
    )


def spearman_rho(
    df: DataFrame,
    x_col: str,
    y_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Exact Spearman rank correlation between two score columns — the
    reward-model validation number ("does the model's score RANK like
    the human preference score?"), tie-aware via average ranks:

        ρ = Pearson(rank(x), rank(y))

    with both rank assignments computed the ``roc_auc`` way: quantize
    to BIGINT cells, order the BOUNDED cell table, give a tied cell of
    size c after ``cb`` smaller values twice-average-rank ``2·cb + c +
    1`` — then join each row back to its cell's rank (one shuffle per
    axis on the cell key) and fold the five Pearson sums as EXACT
    DECIMAL(38,0) aggregates (rank products reach 4n³, past BIGINT at
    ~10⁶ rows; decimal sums stay exact to 10³⁸). The doubling cancels
    in the correlation. The only float is the final formula over five
    exact integers — identical in DuckDB.

    Raises on NULL/NaN values (scalar semantics, the ``roc_auc``
    guard), fewer than 2 rows, or a zero-variance axis (ρ undefined).
    Returns one row: ``(n_rows, n_x_cells, n_y_cells, rho)`` (6dp).
    """
    import math

    scale = int(scale)
    base = df.select(
        _fixed(F.col(x_col), scale).alias("xq"),
        _fixed(F.col(y_col), scale).alias("yq"),
    )
    chk = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("xq").isNull() | F.col("yq").isNull()).cast("bigint")
        ).alias("nb"),
    ).collect()[0]
    n = int(chk.n or 0)
    if int(chk.nb or 0) > 0:
        raise ValueError(
            f"spearman_rho: {chk.nb} rows have NULL/NaN x or y — clean the"
            " eval relation first"
        )
    if n < 2:
        raise ValueError(f"spearman_rho needs >= 2 rows: got {n}")

    def cell_ranks(col, out):
        return (
            base.groupBy(col)
            .agg(F.count(F.lit(1)).alias("c"))
            .select(col, _rank2(col, "c").alias(out))
        )

    rx = cell_ranks("xq", "r_x")
    ry = cell_ranks("yq", "r_y")
    d38 = "decimal(38,0)"
    sums = (
        base.join(rx, "xq")
        .join(ry, "yq")
        .agg(
            F.sum(F.col("r_x").cast(d38)).alias("sx"),
            F.sum(F.col("r_y").cast(d38)).alias("sy"),
            # cast each operand BEFORE multiplying: doubled ranks reach
            # 2n, so a BIGINT product overflows at n ~ 1.5e9 rows —
            # decimal(38,0) operands keep the product exact
            F.sum(F.col("r_x").cast(d38) * F.col("r_y").cast(d38)).alias(
                "sxy"
            ),
            F.sum(F.col("r_x").cast(d38) * F.col("r_x").cast(d38)).alias(
                "sxx"
            ),
            F.sum(F.col("r_y").cast(d38) * F.col("r_y").cast(d38)).alias(
                "syy"
            ),
            F.count_distinct("xq").alias("ncx"),
            F.count_distinct("yq").alias("ncy"),
        )
        .collect()[0]
    )  # bounded model state: five exact decimals + two counts
    sx, sy = int(sums.sx), int(sums.sy)
    sxy, sxx, syy = int(sums.sxy), int(sums.sxx), int(sums.syy)
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    if var_x == 0 or var_y == 0:
        raise ValueError(
            "spearman_rho is undefined on a constant axis "
            f"(n_x_cells={sums.ncx}, n_y_cells={sums.ncy})"
        )
    rho = (n * sxy - sx * sy) / math.sqrt(var_x) / math.sqrt(var_y)
    spark = df.sparkSession
    return local_frame(
        spark,
        [(n, int(sums.ncx), int(sums.ncy), round(rho, 6))],
        "n_rows bigint, n_x_cells bigint, n_y_cells bigint, rho double",
    )


def calibration_by_group(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_col: str,
    n_bins: int = 10,
    scale: int = 10**6,
) -> DataFrame:
    """Per-group ECE / MCE / Brier — ``calibration_summary`` sliced by
    language/domain (the ``roc_auc_by_group`` companion: a filter can
    be calibrated on average while badly over-confident on one
    language), fully in-plan: ``_calibration_board`` over per-group
    bin cells — one shuffle on (group, bin), one on the group, no
    driver model state, no single-partition stage.

    Report semantics: a group with dirty labels, out-of-range scores,
    or no clean rows keeps its row with NULL metrics and visible
    ``n_bad`` / ``n_oob`` counts. Returns one row per group:
    ``(group, n_rows, n_pos, n_bad, n_oob, n_bins_used, ece, mce,
    brier)`` (6dp).
    """
    if int(n_bins) < 2:
        raise ValueError(f"n_bins must be >= 2: got {n_bins!r}")
    cells = _bin_cells(
        df, score_col, label_col, int(n_bins), int(scale), group_col=group_col
    )
    return _calibration_board(cells, int(scale)).withColumnRenamed(
        "grp", group_col
    )


def ndcg_at_k(
    df: DataFrame,
    query_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """Per-query NDCG@k (Järvelin & Kekäläinen 2002) — the ranking
    metric that grades the retrieval stack (``bm25_topk``, the
    IVF/PQ ANN family) against judged relevance, with the standard
    exponential gain:

        DCG@k  = Σ_{i≤k} (2^rel_i − 1) / log2(i + 1)
        NDCG@k = DCG@k / IDCG@k   (IDCG = DCG of the rel-sorted ideal)

    Both rankings are deterministic: system order is (score desc,
    id asc), ideal order is (rel desc, id asc) — ties can never make
    the metric layout-dependent. All arithmetic is per-row doubles on
    exact integer gains (rel grades validated integer 0–16, so
    2^rel − 1 is exact), folded per query; both windows PARTITION BY
    the query, so no single-partition stage exists at any query count
    and the query key shuffles once per ranking.

    Report semantics: a query with no relevant document (IDCG = 0)
    keeps its row with ``ndcg`` NULL and counts visible; rows with
    NULL score/rel RAISE (a judged pool with holes is an upstream
    bug, not a slice to skip). Returns one row per query:
    ``(query, n_docs, n_relevant, dcg, idcg, ndcg)`` (6dp).
    """
    from pyspark.sql.window import Window

    if int(k) < 1:
        raise ValueError(f"k must be >= 1: got {k!r}")
    chk = df.agg(
        F.sum(
            (
                F.col(score_col).isNull()
                | F.col(rel_col).isNull()
                | (F.col(rel_col).cast("int") < 0)
                | (F.col(rel_col).cast("int") > 16)
                | (F.col(rel_col).cast("double")
                   != F.col(rel_col).cast("int").cast("double"))
            ).cast("bigint")
        ).alias("nb")
    ).collect()[0]
    if int(chk.nb or 0) > 0:
        raise ValueError(
            f"ndcg_at_k: {chk.nb} rows have NULL scores or non-integer/"
            "out-of-[0,16] relevance grades — fix the judged pool"
        )
    gain = (
        F.pow(F.lit(2.0), F.col(rel_col).cast("int").cast("double"))
        - F.lit(1.0)
    )
    w_sys = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    w_ideal = Window.partitionBy(query_col).orderBy(
        F.col(rel_col).cast("int").desc(), F.col(id_col).asc()
    )
    ranked = df.select(
        F.col(query_col).alias("q"),
        gain.alias("g"),
        F.row_number().over(w_sys).alias("r_sys"),
        F.row_number().over(w_ideal).alias("r_ideal"),
    )
    disc = lambda r: F.log2(r.cast("double") + F.lit(1.0))  # noqa: E731
    out = ranked.groupBy(F.col("q").alias(query_col)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("g") > 0).cast("bigint")).alias("n_relevant"),
        F.round(
            F.sum(
                F.when(
                    F.col("r_sys") <= int(k),
                    F.col("g") / disc(F.col("r_sys")),
                ).otherwise(F.lit(0.0))
            ),
            6,
        ).alias("dcg"),
        F.round(
            F.sum(
                F.when(
                    F.col("r_ideal") <= int(k),
                    F.col("g") / disc(F.col("r_ideal")),
                ).otherwise(F.lit(0.0))
            ),
            6,
        ).alias("idcg"),
    )
    return out.withColumn(
        "ndcg",
        F.when(
            F.col("idcg") > 0, F.round(F.col("dcg") / F.col("idcg"), 6)
        ),
    )


def retrieval_metrics(
    df: DataFrame,
    query_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """Per-query binary retrieval metrics beside ``ndcg_at_k``: MRR,
    precision@k and recall@k over a judged pool (``rel_col`` coerced
    to the binary relevant/not — grade > 0 counts as relevant, the
    NDCG input convention). System order is the same deterministic
    (score desc, id asc) ranking, one window partitioned by the query;
    every numerator is an integer count, the three ratios are single
    6dp divisions.

        MRR        = 1 / rank of the first relevant document
        P@k        = relevant in top-k / k
        R@k        = relevant in top-k / total relevant

    Report semantics: a query with no relevant document keeps its row
    with NULL mrr/recall (precision is a true 0 there — the system
    retrieved k irrelevant docs); NULL scores/grades RAISE (the
    ``ndcg_at_k`` guard). Returns one row per query:
    ``(query, n_docs, n_relevant, first_rel_rank, mrr,
    precision_at_k, recall_at_k)``.
    """
    from pyspark.sql.window import Window

    if int(k) < 1:
        raise ValueError(f"k must be >= 1: got {k!r}")
    chk = df.agg(
        F.sum(
            (F.col(score_col).isNull() | F.col(rel_col).isNull())
            .cast("bigint")
        ).alias("nb")
    ).collect()[0]
    if int(chk.nb or 0) > 0:
        raise ValueError(
            f"retrieval_metrics: {chk.nb} rows have NULL scores or"
            " relevance grades — fix the judged pool"
        )
    rel = (F.col(rel_col).cast("double") > 0).cast("int")
    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    ranked = df.select(
        F.col(query_col).alias("q"),
        rel.alias("rel"),
        F.row_number().over(w).alias("r"),
    )
    out = ranked.groupBy(F.col("q").alias(query_col)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("rel").cast("bigint").alias("n_relevant"),
        F.min(F.when(F.col("rel") == 1, F.col("r"))).cast("bigint").alias(
            "first_rel_rank"
        ),
        F.sum(
            ((F.col("r") <= int(k)) & (F.col("rel") == 1)).cast("bigint")
        ).alias("_hits"),
    )
    return out.select(
        query_col,
        "n_docs",
        "n_relevant",
        "first_rel_rank",
        F.round(
            F.lit(1.0) / F.col("first_rel_rank").cast("double"), 6
        ).alias("mrr"),
        F.round(F.col("_hits").cast("double") / F.lit(float(k)), 6).alias(
            "precision_at_k"
        ),
        F.when(
            F.col("n_relevant") > 0,
            F.round(
                F.col("_hits").cast("double")
                / F.col("n_relevant").cast("double"),
                6,
            ),
        ).alias("recall_at_k"),
    )


def _conformal_threshold(
    cells: DataFrame, alpha: float, who: str, dirty: str
) -> tuple[int, int, int]:
    """The split-conformal order statistic of a quantized ``(s_fp,
    cnt)`` calibration cell table (dirty rows in the ``s_fp`` NULL
    cell): ``(n_cal, k, q_fp)`` with ``k = ceil((n_cal + 1)·(1 −
    alpha))`` and ``q_fp`` the k-th smallest quantized score. ``k`` is
    exact rational arithmetic on alpha's IEEE value (``Fraction``), so
    the replay is deterministic; ``q_fp`` is a cumulative-count window
    over the BOUNDED cell table, never a corpus-scale sort. Two jobs,
    each collecting one row.

    Raises, prefixed ``who``, on an alpha outside (0, 1), on dirty
    rows (``dirty`` names them) and when k > n_cal (the conformal set
    degenerates to "everything")."""
    import math

    if not 0.0 < float(alpha) < 1.0:
        raise ValueError(f"alpha must be in (0, 1): got {alpha!r}")
    tot = cells.agg(
        F.sum(F.when(F.col("s_fp").isNull(), F.col("cnt"))).alias("nb"),
        F.sum("cnt").alias("n"),
    ).collect()[0]
    if int(tot.nb or 0) > 0:
        raise ValueError(
            f"{who}: {tot.nb} {dirty} — the guarantee needs every"
            " held-out score"
        )
    n_cal = int(tot.n or 0)
    k = math.ceil((n_cal + 1) * (1 - Fraction(float(alpha))))
    if k > n_cal:
        raise ValueError(
            f"{who}: calibration set too small for alpha={alpha!r} —"
            f" k={k} > n_cal={n_cal}; collect at least {k} scores or"
            " raise alpha"
        )
    w = Window.orderBy("s_fp").rowsBetween(Window.unboundedPreceding, 0)
    q_fp = (
        cells.withColumn("cum", F.sum("cnt").over(w))
        .filter(F.col("cum") >= F.lit(k))
        .agg(F.min("s_fp"))
        .collect()[0][0]
    )
    return n_cal, int(k), int(q_fp)


def conformal_report(
    cal: DataFrame,
    ev: DataFrame,
    score_col: str,
    alpha: float = 0.1,
    scale: int = 10**6,
) -> DataFrame:
    """Split-conformal calibration (Vovk's inductive conformal
    prediction; Angelopoulos & Bates 2021, arXiv:2107.07511) — the
    distribution-free coverage gate a filter threshold should clear
    before it is frozen: from held-out calibration NONCONFORMITY scores
    take the k-th smallest with

        k = ceil((n + 1) · (1 − alpha))

    and the set {rows : score ≤ threshold} covers a fresh exchangeable
    row with probability ≥ 1 − alpha. The guarantee is exact for the
    QUANTIZED score function (scores are half-up-quantized once to
    BIGINT ``scale``-units and the SAME quantization applies to both
    relations — conformal validity holds for any measurable score, so
    quantizing first costs nothing and buys bit-exact replay).

    Scale shape: each relation collapses in one pass to the bounded
    quantized-score cell table (the ``roc_auc`` collapse); the order
    statistic is ``_conformal_threshold`` over the calibration cells,
    and the empirical check on the eval side is two integer sums. The
    only floats out are 6dp divisions of exact integers.

    Raises on NULL/NaN scores in either relation (silent exclusion would
    shrink the calibration set and quietly weaken the guarantee) and
    when the calibration set is too small for ``alpha`` (k > n — the
    conformal set degenerates to "everything"). Returns one row:
    ``(n_cal, k, threshold, n_eval, n_covered, coverage)``."""
    scale = int(scale)

    def _cells(df: DataFrame) -> DataFrame:
        return (
            df.select(_fixed(F.col(score_col), scale).alias("s_fp"))
            .groupBy("s_fp")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    n_cal, k, q_fp = _conformal_threshold(
        _cells(cal),
        alpha,
        "conformal_report",
        f"calibration rows have a NULL/NaN {score_col!r}",
    )

    e = _cells(ev)
    enulls = e.filter(F.col("s_fp").isNull()).agg(
        F.sum("cnt").alias("nb")
    ).collect()[0]
    if int(enulls.nb or 0) > 0:
        raise ValueError(
            f"conformal_report: {enulls.nb} eval rows have a NULL/NaN"
            f" {score_col!r} — coverage over a silently reduced"
            " population misreports the guarantee"
        )
    return e.agg(
        F.sum("cnt").alias("n_eval"),
        F.sum(F.when(F.col("s_fp") <= F.lit(q_fp), F.col("cnt"))).alias(
            "n_cov"
        ),
    ).select(
        F.lit(n_cal).cast("bigint").alias("n_cal"),
        F.lit(int(k)).cast("bigint").alias("k"),
        F.lit(round(q_fp / scale, 6)).alias("threshold"),
        F.col("n_eval").cast("bigint").alias("n_eval"),
        F.coalesce(F.col("n_cov"), F.lit(0)).cast("bigint").alias(
            "n_covered"
        ),
        F.round(
            F.coalesce(F.col("n_cov"), F.lit(0)).cast("double")
            / F.col("n_eval").cast("double"),
            6,
        ).alias("coverage"),
    )


def brier_decomposition(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    scale: int = 10**6,
) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score over the
    reliability-diagram bins — the diagnosis behind
    ``calibration_report``'s symptom numbers:

        brier = RELIABILITY − RESOLUTION + UNCERTAINTY + residual

    REL (how far bin-mean forecasts sit from bin outcomes — lower
    better) and RES (how much the bins separate outcomes — higher
    better) answer "is the score miscalibrated or just uninformative",
    which ECE alone cannot. UNC = ȳ(1−ȳ) is the no-skill floor.

    Exactness: everything derives from the same one-pass integer bin
    cells as ``calibration_report`` (n, pos, Σs quantized per bin);
    the decomposition folds in exact ``Fraction`` arithmetic on the
    bounded bin table, so REL/RES/UNC are exact rationals rounded 6dp.
    The published ``residual`` is brier − (REL − RES + UNC): the
    classical within-bin forecast variance that binned decompositions
    drop, plus the (≤ 1/scale) per-row quantization slack of the exact
    Brier — reported, never silently absorbed, so the identity holds
    to the printed digits by CONSTRUCTION.

    Raises on dirty rows and out-of-[0,1] scores (the
    ``calibration_summary`` guards). Returns one row: ``(n_rows,
    n_bins_used, brier, reliability, resolution, uncertainty,
    residual)``."""
    rows = _bin_cells(df, score_col, label_col, int(n_bins), int(scale)).collect()
    n_bad = sum(int(r.bad) for r in rows)
    if n_bad > 0:
        raise ValueError(
            f"brier_decomposition: {n_bad} rows have NULL/NaN scores or"
            " labels outside {0, 1} — clean the eval relation first"
        )
    oor = [r for r in rows if r.bin is not None and int(r.bin) == -1]
    if oor:
        raise ValueError(
            f"brier_decomposition: {sum(int(r.n) for r in oor)} rows have"
            f" scores outside [0, 1] — a probability forecast is required"
        )
    cells = [r for r in rows if r.bin is not None and int(r.bin) >= 0]
    n = sum(int(r.n) for r in cells)
    if n == 0:
        raise ValueError("brier_decomposition got an empty relation")
    pos = sum(int(r.pos) for r in cells)
    s2 = sum(int(r.s2_sum) for r in cells)
    sy = sum(int(r.sy_sum) for r in cells)
    scale = int(scale)

    y_bar = Fraction(pos, n)
    unc = y_bar * (1 - y_bar)
    rel = Fraction(0)
    res = Fraction(0)
    for r in cells:
        nb, pb = int(r.n), int(r.pos)
        y_b = Fraction(pb, nb)
        p_b = Fraction(int(r.s_sum), nb * scale)
        rel += nb * (p_b - y_b) ** 2
        res += nb * (y_b - y_bar) ** 2
    rel /= n
    res /= n
    brier = Fraction(s2 - 2 * sy + pos * scale, n * scale)
    residual = brier - (rel - res + unc)
    spark = df.sparkSession
    return local_frame(
        spark,
        [
            (
                n,
                len(cells),
                round(float(brier), 6),
                round(float(rel), 6),
                round(float(res), 6),
                round(float(unc), 6),
                round(float(residual), 6),
            )
        ],
        "n_rows bigint, n_bins_used int, brier double, reliability double,"
        " resolution double, uncertainty double, residual double",
    )


_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Isotonic calibration map via pool-adjacent-violators (Ayer et
    al. 1955; the sklearn-standard nonparametric recalibration,
    Zadrozny & Elkan 2002) — fit the best monotone step function from
    score to outcome rate. Parametric alternative: Platt scaling is
    exactly ``textstats.logreg_train`` on the single score feature; no
    separate operator needed.

    Scale shape: the corpus collapses ONCE to the bounded
    quantized-score cell table (the ``roc_auc`` collapse); PAVA is a
    driver fold over those cells in exact ``Fraction`` arithmetic —
    sequential BY NATURE (each pool depends on the previous) and
    correctly placed on bounded model state, the ``mmr_rerank``
    convention. Deterministic under any layout: cells are integer sums
    and the fold order is the total s_fp order.

    Returns the block map ``(block, s_fp_lo, s_fp_hi, n, n_pos,
    p_cal)`` — non-decreasing ``p_cal`` by construction (the pinned
    property); apply it with ``isotonic_apply``. Raises on dirty rows
    (NULL score / non-binary label)."""
    cells = _quantized_cells(df, score_col, label_col, int(scale))
    rows = cells.collect()
    n_bad = sum(int(r.bad) for r in rows)
    if n_bad > 0:
        raise ValueError(
            f"isotonic_calibration: {n_bad} rows have NULL/NaN scores or"
            " labels outside {0, 1} — clean the relation first"
        )
    clean = sorted(
        ((int(r.s_fp), int(r.cnt), int(r.pos)) for r in rows),
        key=lambda t: t[0],
    )
    if not clean:
        raise ValueError("isotonic_calibration got an empty relation")
    # PAVA: maintain a stack of pools (lo, hi, n, pos); merge while the
    # newest pool's rate drops below its predecessor's
    pools: list[list[int]] = []
    for s_fp, cnt, pos in clean:
        pools.append([s_fp, s_fp, cnt, pos])
        while len(pools) >= 2 and Fraction(
            pools[-1][3], pools[-1][2]
        ) < Fraction(pools[-2][3], pools[-2][2]):
            lo, _, n2, p2 = pools.pop(-2)
            pools[-1][0] = lo
            pools[-1][2] += n2
            pools[-1][3] += p2
    out = [
        (
            i,
            int(lo),
            int(hi),
            int(n),
            int(pos),
            round(pos / n, 6),
        )
        for i, (lo, hi, n, pos) in enumerate(pools)
    ]
    spark = df.sparkSession
    return local_frame(
        spark,
        out,
        "block int, s_fp_lo bigint, s_fp_hi bigint, n bigint,"
        " n_pos bigint, p_cal double",
    )


def isotonic_apply(
    df: DataFrame,
    score_col: str,
    blocks: DataFrame,
    scale: int = 10**6,
) -> DataFrame:
    """Apply an ``isotonic_calibration`` block map: quantize the score
    with the SAME half-up rule and attach the step function's value —
    right-continuous steps (a score between two blocks takes the block
    below, the standard isotonic extrapolation), clamped to the end
    blocks outside the calibrated range.

    Plan: the block map is bounded model state, so the range lookup is
    a BROADCAST nested-loop join against the |blocks|-row frame — each
    row scans the broadcast blocks inside codegen; the eval corpus
    never shuffles (the ``gap_pipeline`` J1 broadcast-relation class,
    generalized from 1 row to a model-sized frame). Raises on NULL/NaN
    scores. Output: ``df`` + ``p_cal``."""
    q = df.withColumn("_s_fp", _fixed(F.col(score_col), int(scale)))
    nb = q.agg(
        F.sum(F.col("_s_fp").isNull().cast("bigint")).alias("nb")
    ).collect()[0]
    if int(nb.nb or 0) > 0:
        raise ValueError(
            f"isotonic_apply: {nb.nb} rows have a NULL/NaN {score_col!r}"
        )
    w = Window.orderBy("s_fp_lo")  # bounded block table
    rng = (
        blocks.select("s_fp_lo", "p_cal")
        .withColumn(
            "_lo",
            F.when(
                F.row_number().over(w) == 1, F.lit(_LONG_MIN)
            ).otherwise(F.col("s_fp_lo")),
        )
        .withColumn(
            "_hi",
            F.coalesce(
                F.lead("s_fp_lo").over(w), F.lit(_LONG_MAX)
            ),
        )
        .select("_lo", "_hi", "p_cal")
    )
    return q.join(
        F.broadcast(rng),
        (F.col("_s_fp") >= F.col("_lo")) & (F.col("_s_fp") < F.col("_hi")),
    ).drop("_s_fp", "_lo", "_hi")


def kendall_tau(
    df: DataFrame,
    item_col: str,
    a_col: str,
    b_col: str,
    max_items: int = 20000,
) -> DataFrame:
    """Kendall's tau-b between two scorings of the SAME item set —
    the leaderboard-agreement number behind a release gate's
    "tops_agree" boolean (do Bradley-Terry and Elo rank the ARENA the
    same way, not just the winner?), and the standard rank-correlation
    complement to ``spearman_rho`` (tau counts pairwise inversions;
    rho squares rank displacement):

        tau_b = (C − D) / sqrt((n0 − T_a) · (n0 − T_b))

    with C/D the concordant/discordant strictly-ordered pairs, n0 =
    n(n−1)/2, and T_x the pairs tied on side x — the tie-adjusted form
    (Kendall 1945), so heavy score ties (quantized ratings) don't
    deflate the statistic.

    Exactness: every count is an exact BIGINT fold over the item-pair
    relation; the only floats are the final int→double conversions,
    sqrt and one division — all correctly rounded by IEEE 754, so the
    6dp report is hash-exact cross-engine (the ``wilson_winrate``
    argument).

    Scale contract: the input is a LEADERBOARD — bounded model state,
    the ``bradley_terry``/``wilson_winrate`` item universe — so the
    pairwise self-join (item < item, one side broadcast) is
    |items|²/2 skinny rows by design, the ``mmr_rerank``
    bounded-pool convention. ``max_items`` raises loudly beyond the
    documented bound rather than letting a corpus-sized relation in;
    corpus-scale rank agreement belongs to ``spearman_rho``, whose
    rank-sum form needs no pair relation. NULL scores/items and
    duplicate items raise. A CONSTANT side (every pair tied on it)
    carries no order information, so ``tau_b`` is NULL with the tie
    counts visible — not a divide-by-zero (hypothesis-caught edge).
    Returns one row: ``(n_items, n_pairs, concordant, discordant,
    tie_a, tie_b, tie_both, tau_b)``."""
    x = df.select(
        F.col(item_col).cast("string").alias("item"),
        F.col(a_col).cast("double").alias("sa"),
        F.col(b_col).cast("double").alias("sb"),
    )
    chk = x.agg(
        F.sum(
            (
                F.col("item").isNull()
                # _fixed is NULL exactly on a NULL/NaN score
                | _fixed(F.col("sa"), 1).isNull()
                | _fixed(F.col("sb"), 1).isNull()
            ).cast("bigint")
        ).alias("nb"),
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("item").alias("nd"),
    ).collect()[0]
    if int(chk.nb or 0) > 0:
        raise ValueError(
            f"kendall_tau: {chk.nb} rows have NULL items or NULL/NaN"
            " scores — a leaderboard with holes has no pairwise order"
        )
    n = int(chk.n or 0)
    if n != int(chk.nd or 0):
        raise ValueError(
            f"kendall_tau: {n - int(chk.nd)} duplicate items — one score"
            " pair per item"
        )
    if n < 2:
        raise ValueError(f"kendall_tau needs >= 2 items: got {n}")
    if n > int(max_items):
        raise ValueError(
            f"kendall_tau: {n} items exceed max_items={max_items} — the"
            " pairwise relation is bounded model state by contract; use"
            " spearman_rho for corpus-sized rank agreement"
        )
    left = x.select(
        F.col("item").alias("i"), F.col("sa").alias("a1"),
        F.col("sb").alias("b1"),
    )
    right = x.select(
        F.col("item").alias("j"), F.col("sa").alias("a2"),
        F.col("sb").alias("b2"),
    )
    pairs = left.join(F.broadcast(right), F.col("i") < F.col("j"))
    da = F.when(F.col("a1") > F.col("a2"), 1).when(
        F.col("a1") < F.col("a2"), -1
    ).otherwise(0)
    db = F.when(F.col("b1") > F.col("b2"), 1).when(
        F.col("b1") < F.col("b2"), -1
    ).otherwise(0)
    agg = pairs.select(da.alias("da"), db.alias("db")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(((F.col("da") * F.col("db")) == 1).cast("bigint")).alias("c"),
        F.sum(((F.col("da") * F.col("db")) == -1).cast("bigint")).alias("d"),
        F.sum((F.col("da") == 0).cast("bigint")).alias("ta"),
        F.sum((F.col("db") == 0).cast("bigint")).alias("tb"),
        F.sum(
            ((F.col("da") == 0) & (F.col("db") == 0)).cast("bigint")
        ).alias("tboth"),
    )
    return agg.select(
        F.lit(n).cast("bigint").alias("n_items"),
        "n_pairs",
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.col("ta").alias("tie_a"),
        F.col("tb").alias("tie_b"),
        F.col("tboth").alias("tie_both"),
        F.when(
            (F.col("n_pairs") > F.col("ta"))
            & (F.col("n_pairs") > F.col("tb")),
            F.round(
                (F.col("c") - F.col("d")).cast("double")
                / F.sqrt(
                    (F.col("n_pairs") - F.col("ta")).cast("double")
                    * (F.col("n_pairs") - F.col("tb")).cast("double")
                ),
                6,
            ),
        ).alias("tau_b"),
    )


MCNEMAR_THRESHOLDS = {0.1: 2.705543, 0.05: 3.841459, 0.01: 6.634897}


def _contingency_cells(
    df: DataFrame, correct_a_col: str, correct_b_col: str
) -> DataFrame:
    """One-row exact-BIGINT 2×2 contingency fold ``(rr, b, c, ww,
    bad)`` — shared by the batch ``mcnemar_test`` and the streamed
    cell maintenance (cells are associative sums, so micro-batch
    folds SUM-merge into the identical table)."""
    ca = F.col(correct_a_col).cast("int")
    cb = F.col(correct_b_col).cast("int")
    return df.agg(
        F.sum(
            (
                ca.isNull() | cb.isNull()
                | ~ca.isin(0, 1) | ~cb.isin(0, 1)
            ).cast("bigint")
        ).alias("bad"),
        F.sum(((ca == 1) & (cb == 1)).cast("bigint")).alias("rr"),
        F.sum(((ca == 1) & (cb == 0)).cast("bigint")).alias("b"),
        F.sum(((ca == 0) & (cb == 1)).cast("bigint")).alias("c"),
        F.sum(((ca == 0) & (cb == 0)).cast("bigint")).alias("ww"),
    ).select(
        *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
          for c in ("rr", "b", "c", "ww", "bad")]
    )


def mcnemar_report_from_counts(
    spark, rr: int, b: int, c: int, ww: int, alpha: float = 0.05
) -> DataFrame:
    """The McNemar report row from exact contingency counts — the
    arithmetic half ``mcnemar_test`` and the streamed
    ``mcnemar_from_cells`` share, so streamed == batch BY CONSTRUCTION
    on merged cells."""
    crit = MCNEMAR_THRESHOLDS.get(float(alpha))
    if crit is None:
        raise ValueError(
            f"alpha must be one of {sorted(MCNEMAR_THRESHOLDS)}:"
            f" got {alpha!r}"
        )
    import math

    rr, b, c, ww = int(rr), int(b), int(c), int(ww)
    d = max(abs(b - c) - 1, 0)
    # HALF-UP at 6dp (floor(x·1e6 + 0.5)) — the same rounding class as
    # the batch operator's in-plan F.round, so streamed == batch on
    # identical counts (Python's bankers' round() would differ at ties)
    chi2 = (
        math.floor((d * d) / (b + c) * 10**6 + 0.5) / 10**6
        if b + c > 0
        else None
    )
    sig = chi2 is not None and chi2 > float(crit)
    return local_frame(
        spark,
        [(rr + b + c + ww, rr, b, c, ww, chi2, sig)],
        "n_items bigint, both_right bigint, only_a bigint,"
        " only_b bigint, both_wrong bigint, chi2 double,"
        " significant boolean",
    )


def mcnemar_test(
    df: DataFrame,
    correct_a_col: str,
    correct_b_col: str,
    alpha: float = 0.05,
) -> DataFrame:
    """McNemar's test for two classifiers judged on the SAME items
    (McNemar 1947; Dietterich 1998 names it the right test for
    comparing classifiers on one test set) — the discordant-pair
    complement to ``paired_bootstrap_test``: only items the systems
    DISAGREE on carry information, so the statistic reads just the
    2×2 contingency diagonal

        chi2 = (|b − c| − 1)² / (b + c)      (continuity-corrected)

    with b = items only A got right, c = items only B got right. The
    null (marginal homogeneity) rejects at ``alpha`` against the
    chi-square(1) threshold — passed in as the standard table values
    (3.841459 at 0.05, 6.634897 at 0.01, 2.705543 at 0.1), avoiding
    any on-engine quantile function.

    Exactness: one corpus fold to four exact BIGINT cells; chi2 is two
    correctly-rounded float ops on exact integers (the
    ``wilson_winrate`` argument), so the row is hash-exact
    cross-engine. Rows with NULL/non-boolean outcomes raise; b = c = 0
    (no disagreement) keeps chi2 NULL with the counts visible rather
    than dividing by zero. Returns one row: ``(n_items, both_right,
    only_a, only_b, both_wrong, chi2, significant)``."""
    thresholds = {0.1: 2.705543, 0.05: 3.841459, 0.01: 6.634897}
    crit = thresholds.get(float(alpha))
    if crit is None:
        raise ValueError(
            f"alpha must be one of {sorted(thresholds)}: got {alpha!r}"
        )
    ca = F.col(correct_a_col).cast("int")
    cb = F.col(correct_b_col).cast("int")
    cells = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(
            (
                ca.isNull() | cb.isNull()
                | ~ca.isin(0, 1) | ~cb.isin(0, 1)
            ).cast("bigint")
        ).alias("nb"),
        F.sum(((ca == 1) & (cb == 1)).cast("bigint")).alias("rr"),
        F.sum(((ca == 1) & (cb == 0)).cast("bigint")).alias("b"),
        F.sum(((ca == 0) & (cb == 1)).cast("bigint")).alias("c"),
        F.sum(((ca == 0) & (cb == 0)).cast("bigint")).alias("ww"),
    )
    # the numerator stays in exact BIGINTs ((|b−c|−1)² as an integer
    # product, floored at 0) — one correctly-rounded division total
    d_num = F.greatest(
        F.abs(F.col("b") - F.col("c")) - F.lit(1).cast("bigint"),
        F.lit(0).cast("bigint"),
    )
    chi2 = F.when(
        F.col("b") + F.col("c") > 0,
        F.round(
            (d_num * d_num).cast("double")
            / (F.col("b") + F.col("c")).cast("double"),
            6,
        ),
    )
    out = cells.select(
        "n_items",
        "nb",
        F.col("rr").alias("both_right"),
        F.col("b").alias("only_a"),
        F.col("c").alias("only_b"),
        F.col("ww").alias("both_wrong"),
        chi2.alias("chi2"),
    )
    row_check = out.select("nb").collect()[0]
    if int(row_check.nb or 0) > 0:
        raise ValueError(
            f"mcnemar_test: {row_check.nb} items have NULL or non-binary"
            " outcomes — a paired contingency table needs both verdicts"
            " on every item"
        )
    return out.select(
        "n_items",
        "both_right",
        "only_a",
        "only_b",
        "both_wrong",
        "chi2",
        (
            F.col("chi2").isNotNull() & (F.col("chi2") > F.lit(float(crit)))
        ).alias("significant"),
    )


def rbo(
    df: DataFrame,
    item_col: str,
    rank_a_col: str,
    rank_b_col: str,
    p_pct: int = 90,
    max_depth: int = 1000,
) -> DataFrame:
    """Rank-Biased Overlap between two top-k rankings (Webber, Moffat
    & Zobel 2010) — the top-weighted agreement number for comparing
    retrieval systems or leaderboard revisions, where ``kendall_tau``
    weights every pair equally and punishes tail churn the reader
    never sees:

        RBO@d = (1 − p) Σ_{i≤d} p^(i−1) · |A_1..i ∩ B_1..i| / i

    (the prefix form, truncated at the evaluated depth d = the deeper
    of the two lists — the standard RBO_min lower bound; extrapolation
    needs an assumption about unseen tails and is deliberately not
    baked in). ``p`` arrives as an integer percent (p_pct=90 → p=0.9,
    the paper's "top-10 carries ~86% of the weight" setting) so the
    signature carries no float.

    Input is one row per (item, rank_a, rank_b) with NULL rank meaning
    "not in that list"; ranks must be 1-based and unique per side.
    Scale contract: rankings are bounded top-k lists (model state, the
    ``kendall_tau`` argument) — ``max_depth`` raises loudly beyond the
    documented bound. The overlap-at-depth series is ONE pass: sort
    the union by depth, count arrivals with a cumulative window over
    ≤ 2·depth rows, fold the weighted sum in exact driver arithmetic
    (Fraction powers of p, one float at print). Returns one row:
    ``(depth, n_common, rbo)``."""
    from fractions import Fraction

    if not 0 < int(p_pct) < 100:
        raise ValueError(f"p_pct must be in (0, 100): got {p_pct!r}")
    x = df.select(
        F.col(item_col).alias("item"),
        F.col(rank_a_col).cast("bigint").alias("ra"),
        F.col(rank_b_col).cast("bigint").alias("rb"),
    )
    chk = x.agg(
        F.sum(
            (
                F.col("item").isNull()
                | ((F.col("ra") < 1) & F.col("ra").isNotNull())
                | ((F.col("rb") < 1) & F.col("rb").isNotNull())
                | (F.col("ra").isNull() & F.col("rb").isNull())
            ).cast("bigint")
        ).alias("nb"),
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("item").alias("ndi"),
        F.count("ra").alias("na"),
        F.count_distinct("ra").alias("nda"),
        F.max("ra").alias("ma"),
        F.count("rb").alias("nb_"),
        F.count_distinct("rb").alias("ndb"),
        F.max("rb").alias("mb"),
        F.greatest(F.max("ra"), F.max("rb")).alias("depth"),
    ).collect()[0]
    if int(chk.nb or 0) > 0:
        raise ValueError(
            f"rbo: {chk.nb} rows have a NULL item, a rank < 1, or no"
            " rank on either side — feed 1-based top-k lists"
        )
    if int(chk.n) != int(chk.ndi):
        raise ValueError(
            f"rbo: {int(chk.n) - int(chk.ndi)} duplicate items — one row"
            " per item with both ranks"
        )
    if int(chk.na) != int(chk.nda) or int(chk.nb_) != int(chk.ndb):
        raise ValueError(
            "rbo: ranks must be unique per side — a list cannot place"
            " two items at one position"
        )
    # contiguity: |A_1..i| = min(i, k_a) only holds when side A's ranks
    # are exactly 1..k_a — a gapped list (e.g. ranks {1, 5} left over
    # from upstream filtering) would silently miscompute every
    # |A_1..i|/i term; callers must re-rank filtered lists first
    if int(chk.ma or 0) != int(chk.na) or int(chk.mb or 0) != int(chk.nb_):
        raise ValueError(
            "rbo: ranks must be contiguous 1..k per side (max rank"
            f" {int(chk.ma or 0)} vs {int(chk.na)} ranked rows on A;"
            f" {int(chk.mb or 0)} vs {int(chk.nb_)} on B) — re-rank"
            " filtered lists before calling rbo"
        )
    depth = int(chk.depth or 0)
    if depth == 0:
        raise ValueError("rbo got two empty rankings")
    if depth > int(max_depth):
        raise ValueError(
            f"rbo: evaluated depth {depth} exceeds max_depth={max_depth}"
            " — rankings are bounded top-k model state by contract"
        )
    # overlap series: |A_1..i ∩ B_1..i| jumps by 1 at depth
    # max(ra, rb) for every item present in BOTH lists
    arrivals = (
        x.filter(F.col("ra").isNotNull() & F.col("rb").isNotNull())
        .select(F.greatest("ra", "rb").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("k"))
        .collect()
    )  # <= depth rows: bounded model state
    jumps = {int(r.d): int(r.k) for r in arrivals}
    p_frac = Fraction(int(p_pct), 100)
    overlap = 0
    acc = Fraction(0)
    pw = Fraction(1)  # p^(i-1)
    for i in range(1, depth + 1):
        overlap += jumps.get(i, 0)
        acc += pw * Fraction(overlap, i)
        pw *= p_frac
    score = (1 - p_frac) * acc
    spark = df.sparkSession
    return local_frame(
        spark,
        [(depth, overlap, round(float(score), 6))],
        "depth bigint, n_common bigint, rbo double",
    )
