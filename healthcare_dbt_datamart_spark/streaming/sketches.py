"""Streaming sketch maintenance — the streaming face of
``llmops/sketches.py``. Count-min cells are plain sums, so a sketch
absorbs a continuous feed by ASSOCIATIVE MERGE: each micro-batch builds
its own d×w sketch (bounded state, map-side combine) and adds it into
the persistent sketch table cell-by-cell. No reindex, no history replay
— the property that makes CMS the standard streaming heavy-hitter
structure.

Every sink here merges through ``streaming/state.py::merge_state``,
which recovers a mid-swap crash and keeps the exactly-once ledger.
Each ``*_merge_batch`` below supplies only its merge step and, for the
sum-merges, its ledger row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import local_frame
from .state import Ledger, merge_state, start_ingest

_CMS = Ledger("cnt", (-1, -1, 0))  # (seed=-1, bucket=-1, cnt=batch id)


def cms_merge_batch(
    spark: SparkSession,
    target_table: str,
    batch_sketch: DataFrame,
    batch_id: int,
) -> bool:
    """Merge one micro-batch's sketch into ``target_table`` by
    (seed, bucket) SUM under the ledger (``streaming/state.py``).
    Returns whether the batch was applied. The merge aggregate runs
    over ≤ d·w + batch cells — bounded model-sized state, never
    corpus-sized."""

    def merge(cur: DataFrame | None) -> DataFrame:
        if cur is None:
            return batch_sketch
        return (
            cur.unionByName(batch_sketch)
            .groupBy("seed", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )

    return merge_state(
        spark, target_table, merge, "seed int, bucket bigint, cnt bigint",
        _CMS, batch_id,
    )


def hll_merge_batch(
    spark: SparkSession, target_table: str, batch_regs: DataFrame
) -> None:
    """Merge one micro-batch's sparse HLL registers into
    ``target_table`` by (bucket) MAX. Unlike the CMS sum-merge, MAX is
    IDEMPOTENT — re-applying a batch after a foreachBatch crash-replay
    yields the identical table — so the HLL sink needs no batch-id
    ledger; at-least-once delivery IS exactly-once here. The merged
    state never exceeds 2^b rows."""

    def merge(cur: DataFrame | None) -> DataFrame:
        if cur is None:
            return batch_regs
        return (
            cur.unionByName(batch_regs)
            .groupBy("bucket")
            .agg(F.max("mj").alias("mj"))
        )

    merge_state(spark, target_table, merge, "bucket bigint, mj int")


def streaming_hll_ingest(
    stream: DataFrame,
    target_table: str,
    value_col: str,
    b: int = 10,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Continuously fold a stream of values into a persistent
    HyperLogLog register table: per micro-batch, build the batch's own
    sparse registers (same hashing as the batch ``hll_registers``, so
    streamed and batch-built registers are row-identical — asserted in
    the parity test) and max-merge via ``hll_merge_batch``. Read the
    live distinct-count off the table any time with
    ``hll_table_estimate`` — the streaming face of approximate
    COUNT(DISTINCT) over an unbounded feed, with 2^b rows of state."""
    from ..llmops.sketches import hll_registers

    spark = stream.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        hll_merge_batch(
            spark, target_table, hll_registers(batch_df, value_col, b=b)
        )

    return start_ingest(stream, apply_batch, checkpoint_dir)


def hll_table_estimate(
    spark: SparkSession, table: str, b: int = 10
) -> DataFrame:
    """The live estimate off a streamed register table: one row
    (m, hll_estimate), computed by the SAME `hll_estimate_fold` the
    batch query uses (identical formula + rounding, so a streamed table
    over a corpus estimates exactly what the batch sketch would)."""
    from ..llmops.sketches import hll_estimate_fold

    m = 1 << b
    est, corrected = hll_estimate_fold(spark.table(table), m)
    return est.select(
        F.lit(m).alias("m"), F.round(corrected, 6).alias("hll_estimate")
    )


def streaming_cms_ingest(
    token_stream: DataFrame,
    target_table: str,
    w: int = 1024,
    d: int = 4,
    term_col: str = "term",
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Continuously fold a token stream into a persistent count-min
    sketch: per micro-batch, build the batch's own d×w sketch (the same
    ``cms_sketch`` the batch path uses — identical hashing, so streamed
    and batch-built sketches are cell-identical, asserted in the parity
    test) and sum-merge it via ``cms_merge_batch``. Stateless stream
    side — the sketch table IS the state, and it is bounded at d·w
    cells no matter how much text flows through."""
    from ..llmops.sketches import cms_sketch

    spark = token_stream.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        cms_merge_batch(
            spark,
            target_table,
            cms_sketch(batch_df, w=w, d=d, term_col=term_col),
            batch_id,
        )

    return start_ingest(token_stream, apply_batch, checkpoint_dir)


def reservoir_merge_batch(
    spark: SparkSession,
    target_table: str,
    batch_sample: DataFrame,
    k: int,
    id_col: str = "id",
) -> None:
    """Merge one micro-batch's weighted-sample candidates (rows carrying
    the ``_wkey`` race key from ``weighted_sample``) into the k-slot
    persistent reservoir: union, dedupe by id on the smaller key, keep
    the k smallest. min-k-of-union == min-k-of-everything-seen, and the
    merge is IDEMPOTENT (a replayed batch's rows dedupe away), so like
    the HLL sink — and unlike the CMS sum — no batch-id ledger is
    needed. State is ≤ k rows regardless of stream volume."""
    from pyspark.sql.window import Window

    def merge(cur: DataFrame | None) -> DataFrame:
        pool = batch_sample if cur is None else cur.unionByName(batch_sample)
        dedup = Window.partitionBy(id_col).orderBy(F.col("_wkey").asc())
        return (
            pool.withColumn("_rn", F.row_number().over(dedup))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .orderBy(F.col("_wkey").asc(), F.col(id_col).asc())
            .limit(k)
        )

    merge_state(spark, target_table, merge)


def streaming_weighted_reservoir(
    stream: DataFrame,
    target_table: str,
    weight_col: str,
    id_col: str,
    k: int,
    seed: str = "w1",
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Continuously maintain a k-row weighted sample over an unbounded
    feed — the streaming face of ``llmops/splits.py::weighted_sample``.
    Per micro-batch: run the SAME exponential race over the batch (the
    race key is a pure function of (seed, id, weight), so candidates
    from any batch are comparable) and min-k-merge into the reservoir
    table. Because min-k over a union equals min-k over the whole
    history, the reservoir at any instant IS the weighted sample of
    everything ingested so far — asserted against the batch operator in
    the parity test. The classic distributed reservoir trick
    (Efraimidis-Spirakis keys make weighted reservoirs mergeable),
    here with zero RNG state."""
    from ..llmops.splits import weighted_sample

    spark = stream.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        reservoir_merge_batch(
            spark,
            target_table,
            weighted_sample(batch_df, weight_col, id_col, k, seed=seed),
            k,
            id_col=id_col,
        )

    return start_ingest(stream, apply_batch, checkpoint_dir)


_LOGBUCKET = Ledger("cnt", (-1, -1, 0))  # (b=-1, m=-1, cnt=batch id)


def logbucket_merge_batch(
    spark: SparkSession,
    target_table: str,
    batch_sketch: DataFrame,
    batch_id: int,
) -> bool:
    """Merge one micro-batch's log-bucket quantile cells into
    ``target_table`` by (b, m) SUM — counts, so like the CMS sink (and
    unlike HLL/reservoir) a replay would double-count: ledgered, ledger
    row at b=-1. Returns whether the batch was applied. State stays
    ≤ 63·2^s cells + 1 meta row."""

    def merge(cur: DataFrame | None) -> DataFrame:
        if cur is None:
            return batch_sketch
        return (
            cur.unionByName(batch_sketch)
            .groupBy("b", "m")
            .agg(F.sum("cnt").alias("cnt"))
        )

    return merge_state(
        spark, target_table, merge, "b int, m bigint, cnt bigint",
        _LOGBUCKET, batch_id,
    )


def streaming_logbucket_ingest(
    stream: DataFrame,
    target_table: str,
    value_col: str,
    s: int = 4,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Continuously fold a numeric stream into the persistent
    log-bucket quantile sketch — live percentiles over an unbounded
    feed with ≤ 63·2^s cells of state. Same hashing-free exact bit
    buckets as the batch ``logbucket_sketch``, so streamed and
    batch-built cells are identical (parity-asserted); read estimates
    any time by running ``logbucket_quantiles``'s walk over the table's
    data rows."""
    from ..llmops.sketches import logbucket_sketch

    spark = stream.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        logbucket_merge_batch(
            spark,
            target_table,
            logbucket_sketch(batch_df, value_col, s=s),
            batch_id,
        )

    return start_ingest(stream, apply_batch, checkpoint_dir)


_PREF = Ledger("w2", ("__batch_ledger__", "__batch_ledger__", 0))


def pref_counts_merge_batch(
    spark: SparkSession,
    target_table: str,
    batch_outcomes: DataFrame,
    batch_id: int,
    winner_col: str = "winner_id",
    loser_col: str = "loser_id",
) -> bool:
    """Merge one micro-batch of pairwise preference outcomes into the
    maintained ``(i, j, w2)`` DOUBLED-win-count table — the live
    arena-leaderboard ingest: counts SUM-merge (so, like the CMS sink
    and unlike HLL/reservoir, a replayed batch would double-count —
    ledgered, ledger row at i = '__batch_ledger__'), and
    ``llmops/preferences.py::bradley_terry_from_pairs`` re-derives
    ratings from this bounded table on any schedule without re-reading
    a single outcome. Ids are stored as strings so the sentinel row is
    type-safe for any id type. State is one row per observed ordered
    pair."""
    # drop self-comparisons at ingest, mirroring bradley_terry's batch
    # path — streamed and single-shot counts must rate identically
    batch = (
        batch_outcomes.filter(F.col(winner_col) != F.col(loser_col))
        .groupBy(
            F.col(winner_col).cast("string").alias("i"),
            F.col(loser_col).cast("string").alias("j"),
        )
        .agg((F.lit(2) * F.count(F.lit(1))).alias("w2"))
    )

    def merge(cur: DataFrame | None) -> DataFrame:
        if cur is None:
            return batch
        return (
            cur.unionByName(batch)
            .groupBy("i", "j")
            .agg(F.sum("w2").alias("w2"))
        )

    return merge_state(
        spark, target_table, merge, "i string, j string, w2 bigint",
        _PREF, batch_id,
    )


_ELO_SCHEMA = (
    "kind string, item string, r_fp bigint, n_matches bigint, wins bigint"
)
_ELO = Ledger("r_fp", ("meta", None, 0, 0, 0))


def elo_merge_batch(
    spark: SparkSession,
    target_table: str,
    batch_matches: DataFrame,
    batch_id: int,
    winner_col: str = "winner_id",
    loser_col: str = "loser_id",
    k: int = 32,
    initial: int = 1000,
    scale: int = 10**6,
) -> bool:
    """Apply ONE micro-batch of decided matches as ONE Elo RATING
    PERIOD against the maintained rating state — the live-leaderboard
    ingest beside ``pref_counts_merge_batch``: BT re-derives from
    summed counts (order-free), Elo is order-DEPENDENT, so its
    streaming form is exactly the batch operator's period semantics
    with micro-batch = period. ``llmops/preferences.py::
    elo_update_period`` runs the same period step that ``elo_boards``
    (and so ``elo_ratings``) loops over, so streamed state after N
    batches is BIT-IDENTICAL to ``elo_ratings`` over the same log with
    ``period = batch index``.

    State: one ``kind='rating'`` row per item ``(item, r_fp,
    n_matches, wins)`` + the ``kind='meta'`` ledger row (``r_fp`` =
    last applied batch id). Unseen items enter at ``initial·scale``
    BEFORE the period applies (identical to the batch operator, whose
    every item starts at the initial rating). NULL keys raise, the
    batch path's guard — a streamed leaderboard must not diverge from
    the batch one on dirty input."""
    from ..llmops.preferences import elo_update_period

    m = batch_matches.select(
        F.col(winner_col).cast("string").alias("w"),
        F.col(loser_col).cast("string").alias("l"),
    )
    nb = m.agg(
        F.sum(
            (F.col("w").isNull() | F.col("l").isNull()).cast("bigint")
        ).alias("nb")
    ).collect()[0]
    if int(nb.nb or 0) > 0:
        raise ValueError(
            f"elo_merge_batch: {nb.nb} matches have a NULL winner or"
            " loser — clean the match log first"
        )
    m = m.filter(F.col("w") != F.col("l"))

    def merge(cur: DataFrame | None) -> DataFrame:
        state = (
            local_frame(spark, [], _ELO_SCHEMA) if cur is None else cur
        ).select("item", "r_fp", "n_matches", "wins")
        players = m.select(F.col("w").alias("item")).unionByName(
            m.select(F.col("l").alias("item"))
        ).distinct()
        newbies = players.join(
            state.select("item"), "item", "left_anti"
        ).select(
            "item",
            F.lit(int(initial) * int(scale)).cast("long").alias("r_fp"),
            F.lit(0).cast("long").alias("n_matches"),
            F.lit(0).cast("long").alias("wins"),
        )
        state0 = state.unionByName(newbies)
        # check_items=False: `newbies` just seeded every item this batch
        # names, so the guard's anti-join is redundant here by construction
        updated = elo_update_period(
            state0.select("item", "r_fp"), m, k=int(k), scale=int(scale),
            check_items=False,
        )
        sides = m.select(
            F.col("w").alias("item"), F.lit(1).alias("win")
        ).unionByName(
            m.select(F.col("l").alias("item"), F.lit(0).alias("win"))
        ).groupBy("item").agg(
            F.count(F.lit(1)).alias("dn"), F.sum("win").alias("dw")
        )
        return (
            updated.join(state0.select("item", "n_matches", "wins"), "item")
            .join(sides, "item", "left")
            .select(
                F.lit("rating").alias("kind"),
                "item",
                "r_fp",
                (
                    F.col("n_matches") + F.coalesce(F.col("dn"), F.lit(0))
                ).alias("n_matches"),
                (F.col("wins") + F.coalesce(F.col("dw"), F.lit(0))).alias("wins"),
            )
        )

    return merge_state(
        spark, target_table, merge, _ELO_SCHEMA, _ELO, batch_id
    )


def streaming_elo_ingest(
    stream: DataFrame,
    target_table: str,
    winner_col: str = "winner_id",
    loser_col: str = "loser_id",
    k: int = 32,
    initial: int = 1000,
    scale: int = 10**6,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Maintain a live Elo leaderboard over a match stream: each
    micro-batch applies as one rating period via ``elo_merge_batch``.
    Read the board any time with ``elo_from_state`` — identical
    numbers to ``elo_ratings`` over everything ingested so far with
    ``period`` = arrival batch (pinned by the batch-parity test)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        elo_merge_batch(
            batch_df.sparkSession,
            target_table,
            batch_df,
            batch_id,
            winner_col=winner_col,
            loser_col=loser_col,
            k=k,
            initial=initial,
            scale=scale,
        )

    return start_ingest(stream, apply_batch, checkpoint_dir)


def elo_from_state(spark: SparkSession, target_table: str) -> DataFrame:
    """The leaderboard view of a streamed Elo state table — the batch
    operator's ``(item, n_matches, wins, rating_fp)`` shape, for
    parity asserts and downstream joins."""
    return (
        spark.table(target_table)
        .filter(F.col("kind") == "rating")
        .select(
            "item",
            "n_matches",
            "wins",
            F.col("r_fp").alias("rating_fp"),
        )
    )
