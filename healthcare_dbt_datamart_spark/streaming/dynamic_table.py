"""Dynamic-table / microbatch analogs (SURVEY §2.11).

The reference's nearest-real-time constructs map to Structured Streaming:

- Snowflake dynamic table (``target_lag`` / ``refresh_mode=incremental``,
  ``dbt-snowflake/macros/relations/dynamic_table/create.sql:36-47``) ->
  a streaming query with ``trigger(processingTime=target_lag)`` whose
  sink keeps a continuously-refreshed result table.
- dbt microbatch incremental strategy (event-time window delete+insert,
  ``dbt-snowflake/macros/materializations/incremental/merge.sql:73-101``)
  -> ``withWatermark`` + ``foreachBatch`` applying the same windowed
  delete+insert through the batch engine's ``incremental_run``.

Both reuse the *batch* transformation function unchanged — the engine's
models are stream/batch agnostic (DataFrame in, DataFrame out), which is
exactly Spark's unified-engine design.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..session import pinned

# query.id (checkpoint-persistent, unlike runId) -> the checkpoint dir the
# dynamic table was STARTED with, so alter_dynamic_table_lag can keep the
# docstring's offset-resume promise without the caller re-passing it
_CHECKPOINTS: dict[str, str | None] = {}


def dynamic_table(
    source_stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    name: str,
    target_lag: str = "10 seconds",
    checkpoint_dir: str | None = None,
    output_mode: str = "complete",
) -> StreamingQuery:
    """Continuously-refreshed derived table: the transform runs over the
    stream; each trigger refreshes the in-memory/catalog result table
    ``name``. ``target_lag`` becomes the processing-time trigger."""
    out = transform(source_stream)
    writer = (
        out.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(processingTime=target_lag)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    _CHECKPOINTS[str(q.id)] = checkpoint_dir
    return q


def refresh_dynamic_table(
    source: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    name: str,
    checkpoint_dir: str | None = None,
    output_mode: str = "complete",
) -> None:
    """Manual one-shot refresh — the analog of ``ALTER DYNAMIC TABLE …
    REFRESH`` (``dbt-snowflake/macros/relations/dynamic_table/refresh.sql``):
    process everything currently available in the source once
    (``trigger(availableNow)``) and return when the result table is
    up to date, instead of running on the continuous target-lag cadence."""
    out = transform(source)
    writer = (
        out.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()


def alter_dynamic_table_lag(
    query: StreamingQuery,
    source_stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    name: str,
    target_lag: str,
    checkpoint_dir: str | None = None,
    output_mode: str = "complete",
) -> StreamingQuery:
    """``ALTER DYNAMIC TABLE … SET TARGET_LAG`` analog
    (``dbt-snowflake/macros/relations/dynamic_table/alter.sql`` — the
    reference alters lag in place; Spark triggers are immutable on a
    running query, so the alter is stop-and-restart with the new trigger
    against the same sink name and checkpoint, which resumes from the
    recorded stream offsets).

    Leaving ``checkpoint_dir`` unset reuses the checkpoint the stopped
    query was STARTED with (recorded at start time) — otherwise an alter
    call that forgot to repeat the original checkpoint would silently
    restart the stream from scratch, reprocessing the whole source.
    Passing a DIFFERENT checkpoint than the recorded one raises, since
    that is never an offset-resume; pass the same one (or alter a
    checkpoint-less query) to proceed."""
    recorded = _CHECKPOINTS.get(str(query.id))
    if checkpoint_dir is None:
        checkpoint_dir = recorded
    elif recorded is not None and checkpoint_dir != recorded:
        raise ValueError(
            f"alter_dynamic_table_lag: query {query.id} was started with "
            f"checkpoint {recorded!r} but {checkpoint_dir!r} was passed — "
            "a different checkpoint cannot resume the recorded offsets"
        )
    query.stop()
    query.awaitTermination()
    return dynamic_table(
        source_stream,
        transform,
        name,
        target_lag=target_lag,
        checkpoint_dir=checkpoint_dir,
        output_mode=output_mode,
    )


def _parse_delay(delay: str):
    """Parse a Spark-style delay string into a timedelta for the explicit
    late-period guard in ``microbatch_stream``. Accepts what
    ``withWatermark`` accepts for fixed-length units: case-insensitive,
    multi-unit ('1 hour 30 minutes'), microsecond through week.
    Month/year delays have no fixed length and are rejected loudly
    rather than approximated."""
    import re
    from datetime import timedelta

    units = {
        "microsecond": "microseconds",
        "millisecond": "milliseconds",
        "second": "seconds",
        "minute": "minutes",
        "hour": "hours",
        "day": "days",
        "week": "weeks",
    }
    parts = re.findall(r"(\d+)\s*([a-zA-Z]+)", delay)
    if not parts or re.sub(r"[\d\sa-zA-Z]", "", delay):
        raise ValueError(f"unsupported watermark delay: {delay!r}")
    total = timedelta()
    for n, unit in parts:
        u = unit.lower().rstrip("s")
        if u not in units:
            raise ValueError(
                f"unsupported watermark delay unit {unit!r} in {delay!r}"
                " (month/year have no fixed length)"
            )
        total += timedelta(**{units[u]: int(n)})
    return total


def _period_end(start, period: str):
    from datetime import timedelta

    if period == "hour":
        return start + timedelta(hours=1)
    if period == "day":
        return start + timedelta(days=1)
    if period == "month":
        if start.month == 12:
            return start.replace(year=start.year + 1, month=1)
        return start.replace(month=start.month + 1)
    if period == "year":
        return start.replace(year=start.year + 1)
    raise ValueError(f"unsupported microbatch period: {period}")


def microbatch_stream(
    source_stream: DataFrame,
    name: str,
    event_time: str,
    watermark_delay: str = "30 minutes",
    checkpoint_dir: str | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    period: str = "hour",
    unique_key: str | list[str] | None = None,
) -> StreamingQuery:
    """Microbatch incremental: each foreachBatch applies the reference's
    windowed delete+insert (I5), with delete windows aligned to FIXED
    event-time periods (``period`` ∈ hour/day/month/year — dbt's
    microbatch ``batch_size``, ``dbt-snowflake/.../merge.sql:73-101``).

    The batch is grouped by its rows' periods and each period runs one
    delete+insert containing ONLY that period's rows. Aligning to fixed
    periods (rather than the batch's min/max span) is what makes
    out-of-order arrival safe: a batch holding a late row at t=3 and a
    new row at t=6 replaces only period(3) and period(6) — previously
    landed rows in the untouched periods between them survive. Late
    periods inside the watermark re-land whole; periods wholly beyond it
    are dropped by an EXPLICIT guard in the batch hook (``withWatermark``
    alone does NOT filter rows for a stateless foreachBatch sink — a
    beyond-watermark straggler would otherwise reach the period
    delete+insert and wipe its already-complete period, re-inserting only
    itself). The guard tracks the max event time seen across batches on
    the driver and drops the re-delivery of any period whose END is at or
    before ``max_seen - watermark_delay`` — period-granular, because the
    period is the re-run unit: a threshold-straddling period keeps ALL
    its rows, matching dbt microbatch re-run semantics. The high-water
    mark is tracked in memory and RE-ARMED after a restart from the
    target table's own max event time — the landed data is the durable
    mark — so the guard stays armed across driver failures instead of
    letting the first post-restart straggler wipe its period.

    CONTRACT (dbt's own): a batch that touches a period re-delivers that
    period COMPLETELY — the period is the re-run unit. For arrival-based
    feeds whose micro-batches slice periods arbitrarily (e.g. a file
    stream with per-row files), pass ``unique_key`` instead: each batch
    then MERGEs on the key (update re-delivered rows, insert new ones,
    never delete), which is the order-safe semantic when period-complete
    delivery cannot be assumed.

    The per-batch distinct-period collect is bounded model state: the
    watermark bounds the batch's event-time span, so the period count is
    span/period, never data-sized.
    """
    from ..operators.incremental import incremental_run
    from ..operators.materialize import recover_swap
    from pyspark.sql import functions as F

    stream = source_stream.withWatermark(event_time, watermark_delay)
    if transform is not None:
        stream = transform(stream)
    delay = _parse_delay(watermark_delay)
    max_seen = None  # driver-side event-time high-water mark

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # several passes read the batch (guard max, distinct periods, one
        # filtered write per period) — pin it once, or each pass re-runs
        # the micro-batch source + transform
        with pinned(batch_df) as cached:
            _apply_batch_inner(cached)

    def _apply_batch_inner(batch_df: DataFrame) -> None:
        nonlocal max_seen
        if batch_df.isEmpty():
            return
        if unique_key is not None:
            # merge mode never deletes, so stragglers are order-safe:
            # a late row simply updates/inserts its own key. An arrival
            # batch can carry the same key several times (two updates in
            # one trigger) — MERGE would be nondeterministic, so keep
            # the LATEST row per key by event time first (the standard
            # streaming-upsert dedupe; batch-side only, one window over
            # the small batch)
            from pyspark.sql.window import Window

            keys = (
                [unique_key] if isinstance(unique_key, str) else list(unique_key)
            )
            # xxhash64 over the whole row as the secondary sort: equal
            # event times for one key would otherwise pick an arbitrary
            # winner per partition layout — replays of the same batch
            # must merge the SAME row
            w = Window.partitionBy(*keys).orderBy(
                F.col(event_time).desc(),
                F.xxhash64(*[F.col(c) for c in batch_df.columns]).asc(),
            )
            deduped = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            incremental_run(
                batch_df.sparkSession,
                name,
                deduped,
                strategy="merge",
                unique_key=unique_key,
            )
            return
        # explicit late-PERIOD guard (see docstring): drop re-deliveries
        # of periods the stream has moved past, BEFORE the period-aligned
        # delete+insert, so a straggler cannot wipe its already-complete
        # period. The guard is PERIOD-granular, not row-granular: the
        # period is the re-run unit, so a period still inside the
        # watermark (period_end > threshold) keeps ALL its rows — a
        # row-level filter would truncate a legitimate complete
        # re-delivery of a threshold-straddling period and the delete
        # would destroy the filtered-out rows. Like Spark's own
        # watermark, the threshold comes from PRIOR batches' max event
        # time — a batch is never late relative to itself.
        if max_seen is None:
            # restart: re-arm from the TARGET's landed high-water mark —
            # the in-memory mark dies with the driver, and an unarmed
            # guard would let a straggler in the first post-restart
            # batch wipe its already-complete period. recover_swap, not
            # tableExists: after a crash mid-swap only the backup holds
            # the landed rows
            spark = batch_df.sparkSession
            if recover_swap(spark, name):
                max_seen = (
                    spark.table(name).agg(F.max(event_time)).first()[0]
                )
        if max_seen is not None:
            threshold = max_seen - delay
            # period_end > threshold  <=>  date_trunc(period, ts) >=
            # date_trunc(period, threshold)  (boundary case: a threshold
            # exactly on a period boundary drops the period it closes)
            batch_df = batch_df.filter(
                F.date_trunc(period, F.col(event_time))
                >= F.date_trunc(period, F.lit(threshold))
            )
        batch_hi = batch_df.agg(F.max(event_time)).first()[0]
        if batch_hi is not None and (max_seen is None or batch_hi > max_seen):
            max_seen = batch_hi
        if batch_hi is None:
            return  # every row was in a beyond-watermark period
        # NULL event_time rows truncate to a None "period": they belong
        # to no window (incremental_run's 3VL predicate drops them from
        # the insert too) and None is unorderable against datetimes —
        # keep them out of the period list or sorted() crashes the query
        starts = [
            r[0]
            for r in batch_df.select(
                F.date_trunc(period, F.col(event_time)).alias("p")
            )
            .distinct()
            .collect()
            if r[0] is not None
        ]
        if not starts:
            return  # only NULL-event_time rows arrived: nothing replaceable
        # ONE delete+insert over the union of the batch's period windows:
        # a catch-up batch spanning k periods must not rewrite the target
        # k times (each microbatch call swaps the full table) — the OR-ed
        # window predicate replaces exactly the touched periods in one
        # pass, and periods BETWEEN touched ones (no arriving rows) are
        # untouched, which a single min..max span would wrongly wipe
        windows = [
            (start, _period_end(start, period)) for start in sorted(starts)
        ]
        incremental_run(
            batch_df.sparkSession,
            name,
            batch_df,
            strategy="microbatch",
            event_time=event_time,
            batch_windows=windows,
        )

    writer = stream.writeStream.foreachBatch(apply_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
