"""The one streaming state sink: every ``foreachBatch`` state table in
``streaming/`` is read, replay-checked and published here.

A state table is the whole state of a stream — sketch cells, metric
cells, a leaderboard, a ranked winner per key — kept in the catalog, not
in executor memory. Each micro-batch merges into it through
``merge_state``:

1. RECOVER. A crash inside ``materialize_table``'s swap can leave only
   ``{table}__dbt_backup`` in the catalog. ``recover_swap`` promotes it
   before the read, so the batch merges into the accumulated state; a
   bare ``tableExists`` would read "no state" and the publish would
   overwrite the promoted backup with this batch alone.
2. LEDGER. Sum-merges double-count when Structured Streaming re-runs
   the last uncommitted batch after a crash. Such a sink keeps one
   ledger row INSIDE its table: the first column holds a sentinel key,
   ``mark`` holds the last applied batch id. A batch id at or below the
   mark is skipped. The ledger row rides the same atomic swap as the
   merged rows, so a crash can never apply one without the other. The
   data/ledger split is NULL-safe: a dirty-row cell with a NULL key is
   data, and a plain ``!=`` filter would drop it. Idempotent merges
   (MAX, min-k, argmin) pass no ledger — at-least-once delivery is
   exactly-once for them.
3. MERGE. The sink's own ``merge(current)`` folds the batch into the
   data rows, ``current`` being ``None`` for the first batch.
4. PUBLISH. The result is cast to the sink's schema, the ledger row is
   appended and ``materialize_table`` swaps the table in.

``start_ingest`` is the one stream writer: it skips empty micro-batches
(no table swap for nothing) and by default drains what is available and
stops (``availableNow``).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import local_frame


class Ledger(NamedTuple):
    """A sink's ledger row, in its schema's column order: ``row[0]`` is
    the sentinel key of the first column, and the batch id replaces the
    value in column ``mark`` (a BIGINT)."""

    mark: str
    row: tuple


def merge_state(
    spark: SparkSession,
    table: str,
    merge: Callable[[DataFrame | None], DataFrame],
    schema: str | None = None,
    ledger: Ledger | None = None,
    batch_id: int | None = None,
) -> bool:
    """Merge one micro-batch into state table ``table`` (steps 1-4 of
    the module docstring). ``merge`` maps the current data rows (or
    ``None`` before the first batch) to the new data rows; ``schema``
    is the table's DDL, required with a ``ledger``. Returns whether the
    batch was applied (``False`` for a replayed batch id)."""
    from ..operators.materialize import materialize_table, recover_swap

    current = spark.table(table) if recover_swap(spark, table) else None
    if ledger is not None and current is not None:
        is_ledger = F.col(current.columns[0]).eqNullSafe(F.lit(ledger.row[0]))
        mark = current.filter(is_ledger).select(ledger.mark).collect()
        if mark and batch_id <= mark[0][0]:
            return False  # replay of an already-applied batch
        current = current.filter(~is_ledger)
    merged = merge(current)
    if schema is not None:
        fields = local_frame(spark, [], schema).schema.fields
        merged = merged.select(
            *[F.col(f.name).cast(f.dataType) for f in fields]
        )
        if ledger is not None:
            row = tuple(
                int(batch_id) if f.name == ledger.mark else v
                for f, v in zip(fields, ledger.row)
            )
            merged = merged.unionByName(local_frame(spark, [row], schema))
    materialize_table(spark, table, merged)
    return True


def start_ingest(
    stream: DataFrame,
    apply_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start ``stream`` into the ``foreachBatch`` sink ``apply_batch``,
    skipping empty micro-batches. ``available_now=False`` keeps the
    query running until stopped (a continuously maintained table)."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            apply_batch(batch_df, batch_id)

    writer = stream.writeStream.foreachBatch(run).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
