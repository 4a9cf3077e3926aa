"""Streaming classifier-evaluation maintenance — the streaming face of
``llmops/evaluation.py``'s cell tables, following the
``streaming/sketches.py`` twin pattern: every cell table is a set of
ASSOCIATIVE BIGINT sums, so a continuously-scored feed (a quality
filter running on live ingest) maintains its scorecards by
sum-merging each micro-batch's bounded cells into a persistent table —
no history replay, state bounded by the cell count forever.

The ``*_from_cells`` readers hold no arithmetic of their own: AUC,
calibration and the conformal threshold run the batch operators'
readers (``_auc_scalar``, ``_calibration_scalar``,
``_conformal_threshold``) over the state table, so a streamed number
cannot drift from its batch twin.

Every sink here is a sum-merge, so every one keeps the exactly-once
ledger of ``streaming/state.py::merge_state`` (which also recovers a
mid-swap crash). Each ``*_merge_batch`` below supplies only its merge
step and its ledger row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import local_frame
from .state import Ledger, merge_state, start_ingest

_META_BIN = -2  # ledger row: (bin=-2, n=last_batch_id, zeros elsewhere)
_CALIB = Ledger("n", (_META_BIN, 0, 0, 0, 0, 0, 0))

_CELL_SCHEMA = (
    "bin int, n bigint, pos bigint, s_sum bigint, s2_sum bigint,"
    " sy_sum bigint, bad bigint"
)
_CELL_COLS = ["bin", "n", "pos", "s_sum", "s2_sum", "sy_sum", "bad"]


def calib_cells_merge_batch(
    spark: SparkSession,
    target_table: str,
    batch_cells: DataFrame,
    batch_id: int,
) -> bool:
    """Merge one micro-batch's calibration cells into ``target_table``
    by (bin) SUM over every counter column, under the ledger. The
    dirty-row counter cell from ``_bin_cells`` carries bin = NULL and
    is a data row: it merges like any other bin. Returns whether the
    batch was applied. The merge aggregate runs over ≤ 2·(n_bins + 1)
    rows — bounded model state, never corpus-sized."""

    def merge(cur: DataFrame | None) -> DataFrame:
        if cur is None:
            return batch_cells
        return (
            cur.unionByName(batch_cells)
            .groupBy("bin")
            .agg(*[F.sum(c).alias(c) for c in _CELL_COLS[1:]])
        )

    return merge_state(
        spark, target_table, merge, _CELL_SCHEMA, _CALIB, batch_id
    )


def streaming_calibration_ingest(
    stream: DataFrame,
    target_table: str,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    scale: int = 10**6,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Maintain a calibration cell table over a scored stream: each
    micro-batch builds its own bounded ``_bin_cells`` aggregate
    (map-side combine inside the batch) and sum-merges it via
    ``calib_cells_merge_batch``. Read the live scorecard any time with
    ``calibration_from_cells`` — identical numbers to running
    ``calibration_summary`` over everything ingested so far (the
    batch-parity property the twin tests pin)."""
    from ..llmops.evaluation import _bin_cells

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        cells = _bin_cells(
            batch_df, score_col, label_col, int(n_bins), int(scale)
        )
        calib_cells_merge_batch(
            batch_df.sparkSession, target_table, cells, batch_id
        )

    return start_ingest(stream, apply_batch, checkpoint_dir)


_AUC_SCHEMA = "kind string, s_fp bigint, cnt bigint, pos bigint, bad bigint"
_AUC_COLS = ["cnt", "pos", "bad"]
_AUC = Ledger("cnt", ("meta", None, 0, 0, 0))


def auc_cells_merge_batch(
    spark: SparkSession,
    target_table: str,
    batch_cells: DataFrame,
    batch_id: int,
) -> bool:
    """Merge one micro-batch's quantized-score cells (``llmops.
    evaluation._quantized_cells`` output) into ``target_table`` by
    (s_fp) SUM under the ledger, keyed by a ``kind`` discriminator
    column instead of a sentinel key value: AUC score cells span the
    whole BIGINT range (scores can be negative), so no s_fp value is
    safe to reserve, and the dirty-row cell already owns s_fp = NULL.
    Cells ride as ``kind='cell'`` and the merge groupBy keys (kind,
    s_fp) — NULL s_fp is a real group, never filtered."""
    cells = batch_cells.select(
        F.lit("cell").alias("kind"),
        *[F.col(c).cast("bigint") for c in ["s_fp", *_AUC_COLS]],
    )

    def merge(cur: DataFrame | None) -> DataFrame:
        if cur is None:
            return cells
        return (
            cur.unionByName(cells)
            .groupBy("kind", "s_fp")
            .agg(*[F.sum(c).alias(c) for c in _AUC_COLS])
        )

    return merge_state(spark, target_table, merge, _AUC_SCHEMA, _AUC, batch_id)


def streaming_auc_ingest(
    stream: DataFrame,
    target_table: str,
    score_col: str,
    label_col: str,
    scale: int = 10**4,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Maintain a ROC-AUC cell table over a scored stream — the
    ``streaming_calibration_ingest`` twin for the ranking metric: each
    micro-batch partial-aggregates its own (s_fp, cnt, pos, bad) cells
    and sum-merges them. Read the live AUC any time with
    ``auc_from_cells`` — identical numbers to running ``roc_auc`` over
    everything ingested so far (rank-sums derive from the cells, and
    cells are associative BIGINT sums, so merge order cannot matter).

    State bound: one row per DISTINCT quantized score, ≤ scale + 1 rows
    for in-[0,1] scores — the default ``scale = 10⁴`` is the streaming
    monitor's resolution knob (the batch operator's 10⁶ would mean up
    to a million register rows; a tie-granularity of 10⁻⁴ changes AUC
    only below any live-dashboard decision threshold)."""
    from ..llmops.evaluation import _quantized_cells

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        cells = _quantized_cells(batch_df, score_col, label_col, int(scale))
        auc_cells_merge_batch(
            batch_df.sparkSession, target_table, cells, batch_id
        )

    return start_ingest(stream, apply_batch, checkpoint_dir)


def auc_from_cells(
    spark: SparkSession,
    target_table: str,
) -> DataFrame:
    """One-row exact AUC from a streamed cell table — ``roc_auc``'s own
    reader (``llmops.evaluation._auc_scalar``, the rank-sum board run
    as one group) over the state table's cells, so the numbers and the
    guards are the batch operator's: dirty rows and single-class
    relations raise."""
    from ..llmops.evaluation import _auc_scalar

    return _auc_scalar(
        spark.table(target_table).filter(F.col("kind") == "cell")
    )


def calibration_from_cells(
    spark: SparkSession,
    target_table: str,
    scale: int = 10**6,
) -> DataFrame:
    """One-row ECE / MCE / Brier scorecard from a streamed cell table —
    ``calibration_summary``'s own reader (``llmops.evaluation.
    _calibration_scalar``) over the merged cells, meta row excluded."""
    from ..llmops.evaluation import _calibration_scalar

    cells = spark.table(target_table).filter(
        # NULL-safe: keep the NULL-bin dirty cell so the reader raises
        # on dirty input exactly like the batch path (parity guarantee)
        ~F.col("bin").eqNullSafe(F.lit(_META_BIN))
    )
    return _calibration_scalar(cells, int(scale))


def conformal_from_cells(
    spark: SparkSession,
    target_table: str,
    alpha: float = 0.1,
    scale: int = 10**4,
) -> DataFrame:
    """Live split-conformal threshold from a streamed score-cell table
    (``streaming_auc_ingest``'s (s_fp, cnt) state — labels ride along
    unused): ``llmops.evaluation.conformal_report``'s own threshold
    fold (``_conformal_threshold``) over the state table's cells, so
    the monitor's threshold is IDENTICAL to the batch operator's at the
    same ingest ``scale``. Dirty rows raise like the batch path (a
    silently shrunk calibration set quietly weakens the guarantee). The
    ingest files a row as dirty when its score is NULL/NaN OR its label
    is NULL or outside {0, 1}, so a label-free calibration feed must
    ingest a constant 0/1 label: a NULL label is dirty.
    Returns one row: ``(n_cal, k, threshold)``."""
    from ..llmops.evaluation import _conformal_threshold

    n_cal, k, q_fp = _conformal_threshold(
        spark.table(target_table).filter(F.col("kind") == "cell"),
        alpha,
        "conformal_from_cells",
        "ingested rows had a NULL/NaN score or a label that is NULL or"
        " not 0/1",
    )
    return local_frame(
        spark,
        [(n_cal, k, round(q_fp / int(scale), 6))],
        "n_cal bigint, k bigint, threshold double",
    )


_MCN_SCHEMA = (
    "kind string, rr bigint, b bigint, c bigint, ww bigint, bad bigint"
)
_MCN_COLS = ["rr", "b", "c", "ww", "bad"]
_MCN = Ledger("rr", ("meta", 0, 0, 0, 0, 0))


def mcnemar_cells_merge_batch(
    spark: SparkSession,
    target_table: str,
    batch_cells: DataFrame,
    batch_id: int,
) -> bool:
    """Merge one micro-batch's 2×2 contingency fold (``llmops.
    evaluation._contingency_cells`` output) into ``target_table`` —
    the ``auc_cells_merge_batch`` ledger discipline at its smallest:
    the whole state is ONE cell row of five associative BIGINTs plus
    the ``(kind='meta', rr = last applied batch id)`` ledger row."""
    cells = batch_cells.select(
        F.lit("cell").alias("kind"),
        *[F.col(c).cast("bigint") for c in _MCN_COLS],
    )

    def merge(cur: DataFrame | None) -> DataFrame:
        if cur is None:
            return cells
        return (
            cur.unionByName(cells)
            .groupBy("kind")
            .agg(*[F.sum(c).alias(c) for c in _MCN_COLS])
        )

    return merge_state(spark, target_table, merge, _MCN_SCHEMA, _MCN, batch_id)


def streaming_mcnemar_ingest(
    stream: DataFrame,
    target_table: str,
    correct_a_col: str,
    correct_b_col: str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Maintain the paired-classifier contingency table over a live
    judged stream — the ``streaming_auc_ingest`` twin for A/B model
    comparison: each micro-batch folds to its own five-integer cell
    row and sum-merges. Read the live verdict any time with
    ``mcnemar_from_cells`` — identical to running ``mcnemar_test``
    over everything ingested so far (the cells are associative sums,
    so merge order cannot matter)."""
    from ..llmops.evaluation import _contingency_cells

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        cells = _contingency_cells(batch_df, correct_a_col, correct_b_col)
        mcnemar_cells_merge_batch(
            batch_df.sparkSession, target_table, cells, batch_id
        )

    return start_ingest(stream, apply_batch, checkpoint_dir)


def mcnemar_from_cells(
    spark: SparkSession, target_table: str, alpha: float = 0.05
) -> DataFrame:
    """The McNemar report off the streamed contingency table —
    batch-parity with ``mcnemar_test`` over everything ingested.
    Dirty ingests RAISE exactly like the batch operator (a paired
    contingency table with holes misreports both classifiers)."""
    from ..llmops.evaluation import mcnemar_report_from_counts

    row = (
        spark.table(target_table)
        .filter(F.col("kind") == "cell")
        .collect()
    )
    if len(row) != 1:
        raise ValueError(
            f"mcnemar_from_cells: expected exactly one cell row in"
            f" {target_table!r}, found {len(row)} — ingest first"
        )
    r = row[0]
    if int(r.bad) > 0:
        raise ValueError(
            f"mcnemar_test: {r.bad} items have NULL or non-binary"
            " outcomes — a paired contingency table needs both verdicts"
            " on every item"
        )
    return mcnemar_report_from_counts(
        spark, r.rr, r.b, r.c, r.ww, alpha=alpha
    )


_CHRF_SCHEMA = (
    "kind string, n int, a bigint, b bigint, c bigint"
)
_CHRF = Ledger("a", ("meta", 0, 0, 0, 0))


def chrf_cells_merge_batch(
    spark: SparkSession,
    target_table: str,
    n_pairs: int,
    n_nulls: int,
    per_n_rows: list,
    batch_id: int,
) -> bool:
    """Merge one micro-batch's chrF sufficient statistics into
    ``target_table`` under the ledger: state = one ``kind='cell'`` row
    per char-gram order carrying the three associative BIGINT sums
    (cand/ref/match as a/b/c), one ``kind='pairs'`` row carrying
    (n_pairs, n_null_pairs), and the ``kind='meta'`` ledger row whose
    ``a`` is the last applied batch id. Clipping is PER PAIR (inside
    one row), so per-batch cells sum-merge to exactly the whole-corpus
    counts as long as each (cand, ref) pair arrives whole in one batch
    — the document-level atomicity every row-shaped ingest has by
    construction."""
    rows = [
        ("cell", int(n), int(cn), int(rn), int(mn))
        for (n, cn, rn, mn) in per_n_rows
    ]
    rows.append(("pairs", 0, int(n_pairs), int(n_nulls), 0))
    cells = local_frame(spark, rows, _CHRF_SCHEMA)

    def merge(cur: DataFrame | None) -> DataFrame:
        if cur is None:
            return cells
        return (
            cur.unionByName(cells)
            .groupBy("kind", "n")
            .agg(F.sum("a").alias("a"), F.sum("b").alias("b"), F.sum("c").alias("c"))
        )

    return merge_state(
        spark, target_table, merge, _CHRF_SCHEMA, _CHRF, batch_id
    )


def streaming_chrf_ingest(
    stream: DataFrame,
    target_table: str,
    cand_col: str,
    ref_col: str,
    id_col: str,
    max_n: int = 6,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Maintain corpus chrF over a live (candidate, reference) stream
    — the generation-eval twin of ``streaming_mcnemar_ingest``: each
    micro-batch folds to its bounded per-order count cells
    (``llmops.evaluation._chrf_gram_counts``) and sum-merges under the
    ledger. Read the live report any time with ``chrf_from_cells`` —
    identical to ``chrf_report`` over everything ingested (associative
    sums; per-pair clipping closed inside each batch row)."""
    from ..llmops.evaluation import _chrf_gram_counts

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        n_pairs, n_nulls, per_n = _chrf_gram_counts(
            batch_df, cand_col, ref_col, id_col, int(max_n)
        )
        rows = [
            (r["n"], r["cand_ngrams"], r["ref_ngrams"], r["match_ngrams"])
            for r in per_n.collect()  # bounded: <= max_n rows
        ]
        chrf_cells_merge_batch(
            batch_df.sparkSession, target_table, n_pairs, n_nulls, rows,
            batch_id,
        )

    return start_ingest(stream, apply_batch, checkpoint_dir)


def chrf_from_cells(
    spark: SparkSession,
    target_table: str,
    max_n: int = 6,
    beta: int = 2,
) -> DataFrame:
    """The chrF report off the streamed cells — batch-parity with
    ``chrf_report`` over everything ingested (the shared
    ``_chrf_assemble`` arithmetic on the summed integers). Raises when
    nothing valid was ingested, exactly like the batch operator."""
    from ..llmops.evaluation import _chrf_assemble

    state = spark.table(target_table)
    pr = state.filter(F.col("kind") == "pairs").collect()
    if len(pr) != 1:
        raise ValueError(
            f"chrf_from_cells: expected exactly one pairs row in"
            f" {target_table!r}, found {len(pr)} — ingest first"
        )
    n_pairs, n_nulls = int(pr[0].a), int(pr[0].b)
    if n_pairs == 0:
        raise ValueError("chrf_report: no non-NULL candidate/ref pairs")
    per_n = state.filter(F.col("kind") == "cell").select(
        F.col("n"),
        F.col("a").alias("cand_ngrams"),
        F.col("b").alias("ref_ngrams"),
        F.col("c").alias("match_ngrams"),
    )
    return _chrf_assemble(
        spark, n_pairs, n_nulls, per_n, int(max_n), int(beta) ** 2
    )
