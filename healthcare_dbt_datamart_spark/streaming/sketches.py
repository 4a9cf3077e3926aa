"""Streaming sketch maintenance — the streaming face of
``llmops/sketches.py``. Count-min cells are plain sums, so a sketch
absorbs a continuous feed by ASSOCIATIVE MERGE: each micro-batch builds
its own d×w sketch (bounded state, map-side combine) and adds it into
the persistent sketch table cell-by-cell. No reindex, no history replay
— the property that makes CMS the standard streaming heavy-hitter
structure.

Exactly-once across foreachBatch replays: Structured Streaming re-runs
the last uncommitted batch after a crash, and a sum-merge applied twice
double-counts. The sink therefore records the applied batch id INSIDE
the sketch table (one meta row, written in the same atomic table swap
as the merged cells) and skips any batch id at or below the stored
high-water mark — the canonical idempotent-sink ledger, made crash-safe
here by riding the swap instead of a second non-atomic write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import local_frame

_META_SEED = -1  # the ledger row: (seed=-1, bucket=-1, cnt=last_batch_id)


def cms_merge_batch(
    spark: SparkSession,
    target_table: str,
    batch_sketch: DataFrame,
    batch_id: int,
) -> bool:
    """Merge one micro-batch's sketch into ``target_table`` by
    (seed, bucket) SUM, atomically (the materialize_table swap) and
    idempotently (skip if ``batch_id`` ≤ the stored high-water mark —
    the ledger row travels in the same swap, so a crash between merge
    and ledger cannot desynchronize them). Returns whether the batch
    was applied. The merge aggregate runs over ≤ d·w + batch cells —
    bounded model-sized state, never corpus-sized."""
    from ..operators.materialize import materialize_table

    if spark.catalog.tableExists(target_table):
        cur = spark.table(target_table)
        mark = (
            cur.filter(F.col("seed") == _META_SEED)
            .select("cnt")
            .collect()
        )
        if mark and batch_id <= mark[0][0]:
            return False  # replay of an already-applied batch
        base = cur.filter(F.col("seed") != _META_SEED)
        merged = (
            base.unionByName(batch_sketch)
            .groupBy("seed", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:
        merged = batch_sketch
    meta = local_frame(
        spark,
        [(_META_SEED, -1, int(batch_id))],
        "seed int, bucket bigint, cnt bigint",
    )
    materialize_table(
        spark,
        target_table,
        merged.select(
            F.col("seed").cast("int"),
            F.col("bucket").cast("bigint"),
            F.col("cnt").cast("bigint"),
        ).unionByName(meta),
    )
    return True


def hll_merge_batch(
    spark: SparkSession, target_table: str, batch_regs: DataFrame
) -> None:
    """Merge one micro-batch's sparse HLL registers into
    ``target_table`` by (bucket) MAX, atomically via the table swap.
    Unlike the CMS sum-merge, MAX is IDEMPOTENT — re-applying a batch
    after a foreachBatch crash-replay yields the identical table — so
    the HLL sink needs no batch-id ledger; at-least-once delivery IS
    exactly-once here. The merged state never exceeds 2^b rows."""
    from ..operators.materialize import materialize_table

    if spark.catalog.tableExists(target_table):
        merged = (
            spark.table(target_table)
            .unionByName(batch_regs)
            .groupBy("bucket")
            .agg(F.max("mj").alias("mj"))
        )
    else:
        merged = batch_regs
    materialize_table(
        spark,
        target_table,
        merged.select(
            F.col("bucket").cast("bigint"), F.col("mj").cast("int")
        ),
    )


def streaming_hll_ingest(
    stream: DataFrame,
    target_table: str,
    value_col: str,
    b: int = 10,
    checkpoint_dir: str | None = None,
    trigger_once: bool = True,
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
        if batch_df.isEmpty():
            return
        hll_merge_batch(
            spark, target_table, hll_registers(batch_df, value_col, b=b)
        )

    writer = stream.writeStream.foreachBatch(apply_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
    trigger_once: bool = True,
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
        if batch_df.isEmpty():
            return
        cms_merge_batch(
            spark,
            target_table,
            cms_sketch(batch_df, w=w, d=d, term_col=term_col),
            batch_id,
        )

    writer = token_stream.writeStream.foreachBatch(apply_batch).outputMode(
        "append"
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
    from ..operators.materialize import materialize_table
    from pyspark.sql.window import Window

    pool = batch_sample
    if spark.catalog.tableExists(target_table):
        pool = spark.table(target_table).unionByName(batch_sample)
    dedup = Window.partitionBy(id_col).orderBy(F.col("_wkey").asc())
    merged = (
        pool.withColumn("_rn", F.row_number().over(dedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .orderBy(F.col("_wkey").asc(), F.col(id_col).asc())
        .limit(k)
    )
    materialize_table(spark, target_table, merged)


def streaming_weighted_reservoir(
    stream: DataFrame,
    target_table: str,
    weight_col: str,
    id_col: str,
    k: int,
    seed: str = "w1",
    checkpoint_dir: str | None = None,
    trigger_once: bool = True,
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
        if batch_df.isEmpty():
            return
        reservoir_merge_batch(
            spark,
            target_table,
            weighted_sample(batch_df, weight_col, id_col, k, seed=seed),
            k,
            id_col=id_col,
        )

    writer = stream.writeStream.foreachBatch(apply_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def logbucket_merge_batch(
    spark: SparkSession,
    target_table: str,
    batch_sketch: DataFrame,
    batch_id: int,
) -> bool:
    """Merge one micro-batch's log-bucket quantile cells into
    ``target_table`` by (b, m) SUM — counts, so like the CMS sink (and
    unlike HLL/reservoir) a replay would double-count: the applied
    batch id rides the same atomic swap as the merged cells (ledger row
    at b=-1) and stale batch ids are skipped. Returns whether the batch
    was applied. State stays ≤ 63·2^s cells + 1 meta row."""
    from ..operators.materialize import materialize_table

    if spark.catalog.tableExists(target_table):
        cur = spark.table(target_table)
        mark = cur.filter(F.col("b") == -1).select("cnt").collect()
        if mark and batch_id <= mark[0][0]:
            return False
        merged = (
            cur.filter(F.col("b") != -1)
            .unionByName(batch_sketch)
            .groupBy("b", "m")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:
        merged = batch_sketch
    meta = local_frame(
        spark,
        [(-1, -1, int(batch_id))],
        "b int, m bigint, cnt bigint",
    )
    materialize_table(
        spark,
        target_table,
        merged.select(
            F.col("b").cast("int"),
            F.col("m").cast("bigint"),
            F.col("cnt").cast("bigint"),
        ).unionByName(meta),
    )
    return True


def streaming_logbucket_ingest(
    stream: DataFrame,
    target_table: str,
    value_col: str,
    s: int = 4,
    checkpoint_dir: str | None = None,
    trigger_once: bool = True,
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
        if batch_df.isEmpty():
            return
        logbucket_merge_batch(
            spark,
            target_table,
            logbucket_sketch(batch_df, value_col, s=s),
            batch_id,
        )

    writer = stream.writeStream.foreachBatch(apply_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
    the applied batch id rides the same atomic swap as the merged
    counts, ledger row at i = '__batch_ledger__'), and
    ``llmops/preferences.py::bradley_terry_from_pairs`` re-derives
    ratings from this bounded table on any schedule without re-reading
    a single outcome. Ids are stored as strings so the sentinel row is
    type-safe for any id type. State is one row per observed ordered
    pair."""
    from ..operators.materialize import materialize_table

    _LEDGER = "__batch_ledger__"
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
    if spark.catalog.tableExists(target_table):
        cur = spark.table(target_table)
        mark = cur.filter(F.col("i") == _LEDGER).select("w2").collect()
        if mark and batch_id <= mark[0][0]:
            return False  # replay of an already-applied batch
        merged = (
            cur.filter(F.col("i") != _LEDGER)
            .unionByName(batch)
            .groupBy("i", "j")
            .agg(F.sum("w2").alias("w2"))
        )
    else:
        merged = batch
    meta = local_frame(
        spark,
        [(_LEDGER, _LEDGER, int(batch_id))],
        "i string, j string, w2 bigint",
    )
    materialize_table(
        spark,
        target_table,
        merged.select("i", "j", F.col("w2").cast("bigint")).unionByName(meta),
    )
    return True


_ELO_SCHEMA = (
    "kind string, item string, r_fp bigint, n_matches bigint, wins bigint"
)


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
    with micro-batch = period (``llmops/preferences.py::
    elo_update_period`` is the shared core — streamed state after N
    batches is BIT-IDENTICAL to ``elo_ratings`` over the same log with
    ``period = batch index``).

    State: one ``kind='rating'`` row per item ``(item, r_fp,
    n_matches, wins)`` + one ``kind='meta'`` ledger row (``r_fp`` =
    last applied batch id) riding the same atomic swap — a replayed
    batch id at or below the mark is skipped, the idempotent-sink
    discipline. Unseen items enter at ``initial·scale`` BEFORE the
    period applies (identical to the batch operator, whose every item
    starts at the initial rating). NULL keys raise, the batch path's
    guard — a streamed leaderboard must not diverge from the batch one
    on dirty input."""
    from ..operators.materialize import materialize_table

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

    if spark.catalog.tableExists(target_table):
        cur = spark.table(target_table)
        mark = cur.filter(F.col("kind") == "meta").select("r_fp").collect()
        if mark and batch_id <= mark[0][0]:
            return False  # replay of an already-applied batch
        state = cur.filter(F.col("kind") == "rating").select(
            "item", "r_fp", "n_matches", "wins"
        )
    else:
        state = local_frame(spark, [], _ELO_SCHEMA).select(
            "item", "r_fp", "n_matches", "wins"
        )

    from ..llmops.preferences import elo_update_period

    players = m.select(F.col("w").alias("item")).unionByName(
        m.select(F.col("l").alias("item"))
    ).distinct()
    newbies = players.join(state.select("item"), "item", "left_anti").select(
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
    sides = m.select(F.col("w").alias("item"), F.lit(1).alias("win")).unionByName(
        m.select(F.col("l").alias("item"), F.lit(0).alias("win"))
    ).groupBy("item").agg(
        F.count(F.lit(1)).alias("dn"), F.sum("win").alias("dw")
    )
    merged = (
        updated.join(
            state0.select("item", "n_matches", "wins"), "item"
        )
        .join(sides, "item", "left")
        .select(
            F.lit("rating").alias("kind"),
            "item",
            F.col("r_fp").cast("bigint"),
            (
                F.col("n_matches") + F.coalesce(F.col("dn"), F.lit(0))
            ).cast("bigint").alias("n_matches"),
            (
                F.col("wins") + F.coalesce(F.col("dw"), F.lit(0))
            ).cast("bigint").alias("wins"),
        )
    )
    meta = local_frame(
        spark,
        [("meta", None, int(batch_id), 0, 0)],
        _ELO_SCHEMA,
    )
    materialize_table(spark, target_table, merged.unionByName(meta))
    return True


def streaming_elo_ingest(
    stream: DataFrame,
    target_table: str,
    winner_col: str = "winner_id",
    loser_col: str = "loser_id",
    k: int = 32,
    initial: int = 1000,
    scale: int = 10**6,
    checkpoint_dir: str | None = None,
    trigger_once: bool = True,
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

    writer = stream.writeStream.foreachBatch(apply_batch).outputMode(
        "update"
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
