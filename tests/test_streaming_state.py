"""Crash recovery of every streaming state sink.

``materialize_table`` publishes a state table by renaming the old table
to ``{t}__dbt_backup`` before the new one takes its name. A crash in
that window leaves only the backup. The next micro-batch must merge
into the promoted backup: the state after three batches, with a crash
before the third, equals the state after three batches without one.
Ledgered sinks must also still skip a replayed batch id.
"""

from __future__ import annotations

import pytest

from healthcare_dbt_datamart_spark.streaming import evaluation as ev
from healthcare_dbt_datamart_spark.streaming import sketches as sk


def _cms(spark, t, k):
    cnt = (5, 7, 11)[k]
    cells = spark.createDataFrame(
        [(0, 1, cnt), (1, 2, cnt)], "seed int, bucket bigint, cnt bigint"
    )
    return sk.cms_merge_batch(spark, t, cells, k)


def _hll(spark, t, k):
    regs = spark.createDataFrame(
        [(0, 2 + k), (k + 1, 3)], "bucket bigint, mj int"
    )
    sk.hll_merge_batch(spark, t, regs)


def _reservoir(spark, t, k):
    rows = [[(1, 0.1), (2, 0.5)], [(3, 0.2), (4, 0.9)], [(5, 0.3)]][k]
    sample = spark.createDataFrame(rows, "id long, _wkey double")
    sk.reservoir_merge_batch(spark, t, sample, 3)


def _logbucket(spark, t, k):
    cells = spark.createDataFrame(
        [(3, 1, k + 1), (4 + k, 0, 2)], "b int, m bigint, cnt bigint"
    )
    return sk.logbucket_merge_batch(spark, t, cells, k)


_MATCHES = [[(1, 2), (1, 3)], [(2, 3), (3, 1)], [(1, 2), (4, 2)]]


def _pref_counts(spark, t, k):
    outcomes = spark.createDataFrame(
        _MATCHES[k], "winner_id long, loser_id long"
    )
    return sk.pref_counts_merge_batch(spark, t, outcomes, k)


def _elo(spark, t, k):
    matches = spark.createDataFrame(
        _MATCHES[k], "winner_id long, loser_id long"
    )
    return sk.elo_merge_batch(spark, t, matches, k)


def _calib(spark, t, k):
    # the NULL-bin dirty cell is data: it must survive every merge
    cells = spark.createDataFrame(
        [(0, 2, 1, 5, 7, 3, 0), (k + 1, 1, 1, 9, 81, 9, 0),
         (None, 1, 0, 0, 0, 0, 1)],
        "bin int, n bigint, pos bigint, s_sum bigint, s2_sum bigint,"
        " sy_sum bigint, bad bigint",
    )
    return ev.calib_cells_merge_batch(spark, t, cells, k)


def _auc(spark, t, k):
    cells = spark.createDataFrame(
        [(-5, 2, 1, 0), (10 * k, 1, 1, 0), (None, 1, 0, 1)],
        "s_fp bigint, cnt bigint, pos bigint, bad bigint",
    )
    return ev.auc_cells_merge_batch(spark, t, cells, k)


def _mcnemar(spark, t, k):
    cells = spark.createDataFrame(
        [(k + 1, 2, 1, 3, 0)],
        "rr bigint, b bigint, c bigint, ww bigint, bad bigint",
    )
    return ev.mcnemar_cells_merge_batch(spark, t, cells, k)


def _chrf(spark, t, k):
    per_n = [(1, 10 + k, 12, 8), (2, 9, 11, 5 + k)]
    return ev.chrf_cells_merge_batch(spark, t, 3, k, per_n, k)


def _best_evidence(tmp_path):
    from healthcare_dbt_datamart_spark.streaming import (
        streaming_best_evidence,
    )

    batches = [
        [(1, 100, "2024-01-05", "FIT_FOBT", 4),
         (2, 102, "2024-01-03", "SIGMOIDOSCOPY", 2)],
        [(1, 200, "2024-01-01", "COLONOSCOPY", 1),
         (3, 300, "2024-02-01", "FIT_FOBT", 4)],
        [(2, 201, "2024-01-09", "FIT_FOBT", 4),
         (3, 301, "2024-01-20", "CT_COLONOGRAPHY", 3)],
    ]
    schema = (
        "member_id long, claim_id long, event_date string,"
        " closure_reason string, reason_rank int"
    )

    def apply(spark, t, k):
        src = tmp_path / f"{t}_src{k}"
        batch = spark.createDataFrame(batches[k], schema)
        batch.write.parquet(str(src))
        stream = spark.readStream.schema(batch.schema).parquet(str(src))
        q = streaming_best_evidence(stream, t, str(tmp_path / f"{t}_ckpt{k}"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    return apply


_LEDGERED = {
    "cms": _cms,
    "logbucket": _logbucket,
    "pref_counts": _pref_counts,
    "elo": _elo,
    "calib": _calib,
    "auc": _auc,
    "mcnemar": _mcnemar,
    "chrf": _chrf,
}
_IDEMPOTENT = {"hll": _hll, "reservoir": _reservoir}


def _state(spark, t):
    spark.catalog.refreshTable(t)
    return sorted((tuple(r) for r in spark.table(t).collect()), key=repr)


@pytest.mark.parametrize(
    "sink", [*_LEDGERED, *_IDEMPOTENT, "best_evidence"]
)
def test_state_sink_recovers_mid_swap_crash(spark, tmp_path, sink):
    apply = (
        _best_evidence(tmp_path)
        if sink == "best_evidence"
        else {**_LEDGERED, **_IDEMPOTENT}[sink]
    )
    t, ref = f"crash_{sink}", f"crash_{sink}_ref"
    tables = (t, f"{t}__dbt_backup", ref)
    for name in tables:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        for k in range(3):
            apply(spark, ref, k)
        apply(spark, t, 0)
        apply(spark, t, 1)
        # the crash window inside materialize_table's swap
        spark.sql(f"ALTER TABLE {t} RENAME TO {t}__dbt_backup")
        applied = apply(spark, t, 2)
        expected = _state(spark, ref)
        assert _state(spark, t) == expected
        if sink in _LEDGERED:
            assert applied is True
            assert _LEDGERED[sink](spark, t, 0) is False  # replayed batch
            assert _state(spark, t) == expected
    finally:
        for name in tables:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_microbatch_stream_guard_rearms_after_mid_swap_crash(spark, tmp_path):
    """A restarted ``microbatch_stream`` re-arms its late-period guard
    from the target's landed rows. After a crash mid-swap those rows sit
    in ``{t}__dbt_backup``: the guard must read them there, or a
    beyond-watermark straggler replaces its complete period."""
    from datetime import datetime as D

    from healthcare_dbt_datamart_spark.streaming import microbatch_stream

    schema = "id long, ts timestamp"
    t = "crash_microbatch"

    def run(rows, k):
        src = str(tmp_path / f"src{k}")
        spark.createDataFrame(rows, schema).write.parquet(src)
        q = microbatch_stream(
            spark.readStream.schema(schema).parquet(src), t, "ts",
            watermark_delay="1 hour", period="hour",
            checkpoint_dir=str(tmp_path / f"ckpt{k}"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    tables = (t, f"{t}__dbt_backup")
    for name in tables:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        run([(1, D(2024, 1, 1, 0, 10)), (2, D(2024, 1, 1, 0, 20)),
             (3, D(2024, 1, 1, 5, 0))], 0)
        spark.sql(f"ALTER TABLE {t} RENAME TO {t}__dbt_backup")
        run([(9, D(2024, 1, 1, 0, 30))], 1)  # hour 0, beyond the watermark
        spark.catalog.refreshTable(t)
        assert sorted(r.id for r in spark.table(t).collect()) == [1, 2, 3]
    finally:
        for name in tables:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
