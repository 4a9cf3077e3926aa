"""Continuously-maintained best-evidence table — the flagship pipeline's
dynamic-table analog (SURVEY §2.11: Snowflake dynamic tables with
``target_lag``/``refresh_mode=incremental``, reference
``dbt-snowflake/macros/relations/dynamic_table/create.sql:36-47``).

Batch gap_status re-ranks ALL evidence per member every run (W1 window).
The streaming form keeps the ranked winner incrementally: each
micro-batch reduces to its per-member best candidate (partial agg), then
a keyed MERGE keeps whichever of {current winner, batch winner} ranks
higher. State lives in the target table, not executor memory — arriving
evidence touches only the members in the batch, which is what
``refresh_mode=incremental`` promises and what a 100 TB evidence feed
needs (per-batch work ∝ batch size, not table size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .state import merge_state, start_ingest


def _best_of(df: DataFrame) -> DataFrame:
    """Per-member argmin over (reason_rank asc, event_date desc, claim_id
    DESC) — the SAME tie-break order as the batch pipeline's W1 window
    (gap_pipeline.py: 'claim_id DESC'), so the streaming table never
    silently disagrees with the batch rebuild on rank+date ties. Packed
    into one min_by-able struct (partial-agg friendly: no window, no
    shuffle beyond the groupBy)."""
    pick = F.struct(
        F.col("reason_rank").alias("r"),
        (-F.unix_date(F.col("event_date").cast("date"))).alias("neg_d"),
        (-F.col("claim_id")).alias("neg_c"),
    )
    return (
        df.groupBy("member_id")
        .agg(
            F.min_by(
                F.struct("reason_rank", "event_date", "claim_id", "closure_reason"),
                pick,
            ).alias("b")
        )
        .select(
            "member_id",
            F.col("b.reason_rank").alias("reason_rank"),
            F.col("b.event_date").alias("event_date"),
            F.col("b.claim_id").alias("claim_id"),
            F.col("b.closure_reason").alias("closure_reason"),
        )
    )


def streaming_best_evidence(
    evidence_stream: DataFrame,
    name: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Maintain table ``name`` = best evidence per member over an
    unbounded evidence stream with columns (member_id, claim_id,
    event_date, closure_reason, reason_rank).

    foreachBatch: reduce the batch to per-member winners, then merge —
    existing rows survive unless the batch brings a strictly better
    (lower-rank / more recent) candidate. Deterministic across arrival
    orders: the kept row is always the global argmin of everything seen.
    The table is read and published through ``merge_state``, so a
    restart after a crash mid-swap merges into the accumulated state.
    The query runs until stopped.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_best = _best_of(batch_df)

        def merge(target: DataFrame | None) -> DataFrame:
            if target is None:
                return batch_best
            # re-rank ONLY members present in this batch (semi-join); the
            # rest of the table passes through untouched. On plain parquet
            # the publish still rewrites the table (Delta MERGE would make
            # it a partial file rewrite); the RANKING compute is ∝ batch
            # either way.
            affected = batch_best.select("member_id")
            winners = _best_of(
                target.join(affected, "member_id", "left_semi").unionByName(
                    batch_best
                )
            )
            untouched = target.join(affected, "member_id", "left_anti")
            return untouched.unionByName(winners)

        merge_state(batch_df.sparkSession, name, merge)

    return start_ingest(
        evidence_stream, apply_batch, checkpoint_dir, available_now=False
    )
