"""Tests for the LLM-ops operators and the streaming surface."""

from __future__ import annotations

import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from healthcare_dbt_datamart_spark.llmops.dedup import (
    candidate_pairs,
    exact_dedup_fingerprints,
    jaccard_pairs,
    lsh_band_buckets,
    minhash_signatures,
    simhash16,
    tokens_col,
)
from healthcare_dbt_datamart_spark.llmops.multimodal import (
    extract_features,
    frame_sample_plan,
    text_as_media,
)
from healthcare_dbt_datamart_spark.llmops.similarity import cosine_topk, near_dup_pairs_lsh
from healthcare_dbt_datamart_spark.llmops.textstats import langid_scores, quality_stats
from healthcare_dbt_datamart_spark.streaming import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),  # exact dup
        (3, "the quick brown fox jumps over the lazy cat today"),  # near dup
        (4, "completely different words appear within this very sentence here"),
        (5, "el perro corre por la calle y los gatos duermen"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    fps = exact_dedup_fingerprints(docs, "text", "doc_id")
    dups = fps.filter(F.col("n_copies") > 1).collect()
    assert len(dups) == 1 and dups[0].keep_id == 1 and dups[0].n_copies == 2


def test_minhash_lsh_finds_near_dups(spark, docs):
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=8, n_shingle=3)
    pairs = candidate_pairs(lsh_band_buckets(sigs, "doc_id", 8, 2), "doc_id")
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup always collides on every band
    verified = jaccard_pairs(pairs, docs, "text", "doc_id", 0.4, n_shingle=3)
    jac = {(r.id_a, r.id_b): r.jaccard for r in verified.collect()}
    assert jac[(1, 2)] == 1.0
    # (4,5) must never verify
    assert all(not (a == 4 and b == 5) for a, b in jac)


def test_simhash_similarity_structure(spark, docs):
    rows = {r.doc_id: r.simhash for r in simhash16(docs, "text", "doc_id").collect()}
    assert rows[1] == rows[2]  # identical text -> identical simhash
    ham_near = sum(a != b for a, b in zip(rows[1], rows[3]))
    ham_far = sum(a != b for a, b in zip(rows[1], rows[4]))
    assert ham_near <= ham_far  # near-dup closer than unrelated doc
    assert len(rows[1]) == 16 and set(rows[1]) <= {"0", "1"}


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id long, text string")
    toks = df.select(tokens_col("text", 3).alias("t")).collect()[0].t
    assert sorted(toks) == ["a b c", "b c d"]


def test_quality_and_langid(spark, docs):
    q = {r.doc_id: r for r in quality_stats(docs, "text", "doc_id").collect()}
    assert q[1].n_tokens == 10
    assert q[4].uniq_ratio == 1.0
    lang = {r.doc_id: r.predicted_lang for r in langid_scores(docs, "text", "doc_id").collect()}
    assert lang[1] == "en" and lang[5] == "es"


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),   # most similar
        (2, [0.0, 1.0, 0.0], 0),   # orthogonal
        (3, [-1.0, 0.0, 0.0], 1),  # opposite
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    top = cosine_topk(emb, query_id=0, k=2).collect()
    assert [r.vec_id for r in top] == [1, 2]
    assert top[0].cosine == pytest.approx(0.993884, abs=1e-6)
    # label-restricted path excludes the other cell entirely
    top_l = cosine_topk(emb, query_id=0, k=3, restrict_label=True).collect()
    assert {r.vec_id for r in top_l} == {1, 2}


def test_near_dup_pairs_lsh(spark):
    rows = [
        (0, [1.0, 1.0, 1.0, 1.0] * 16),
        (1, [1.0, 1.0, 1.0, 0.9] * 16),   # near-identical
        (2, [-1.0, 1.0, -1.0, 1.0] * 16),  # different bucket
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = near_dup_pairs_lsh(emb, threshold=0.9, dims=(0, 1, 2, 3)).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}


def test_pq_encode_reconstruction(spark):
    """Product quantization: seed vectors reconstruct EXACTLY (their own
    subvectors are codebook entries → d2=0 per subspace); a non-seed
    vector gets the nearest codes with a positive but bounded error."""
    from healthcare_dbt_datamart_spark.llmops.similarity import pq_encode_report

    rows = [
        (0, [0.0] * 8),
        (1, [1.0] * 8),
        (2, [0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0]),
        (3, [0.9, 0.9, 0.9, 0.9, 0.1, 0.1, 0.1, 0.1]),  # non-seed probe
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in pq_encode_report(emb, m=2, k=3).collect()}
    # seeds (vec_id < k=3): exact reconstruction
    for vid in (0, 1, 2):
        assert out[vid].recon_err == 0.0
    # seed codes are their own cids per subspace (no duplicate subvectors
    # except vec 2's halves, which tie to the LOWEST cid)
    assert out[1].code == "1-1"
    assert out[2].code == "0-1"  # first half == vec0's, ties to cid 0
    # probe: first half nearest all-ones (cid 1), second nearest all-zeros
    assert out[3].code == "1-0"
    expected = (4 * 0.1**2 + 4 * 0.1**2) ** 0.5
    assert out[3].recon_err == pytest.approx(expected, abs=1e-6)


def test_pq_topk_adc_ranking(spark):
    """ADC search ranks by distance-table lookups on the codes: the query
    (all-zeros) is exact, database vectors contribute the distance from
    the query's subvectors to their CHOSEN centroids."""
    from healthcare_dbt_datamart_spark.llmops.similarity import pq_topk

    rows = [
        (0, [0.0] * 8),
        (1, [1.0] * 8),
        (2, [0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0]),
        (3, [0.9, 0.9, 0.9, 0.9, 0.1, 0.1, 0.1, 0.1]),  # codes (1, 0)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pq_topk(emb, query_id=0, k=3, m=2, n_codes=3).collect()
    # vec2 reconstructs exactly → adc = |q - [0,0,0,0,1,1,1,1]| = 2.0;
    # vec3's codes reconstruct to the same point → ties at 2.0, id order;
    # vec1 → |q - ones| = 2*sqrt(2)
    assert [r.vec_id for r in out] == [2, 3, 1]
    assert out[0].adc_dist == 2.0 and out[1].adc_dist == 2.0
    assert out[2].adc_dist == pytest.approx(8 ** 0.5, abs=1e-6)


def test_quantize_int8_error_bounds(spark):
    """Int8 quantization: reconstruction error bounded by scale/2 per
    dim; constant vectors (scale 0) reconstruct exactly."""
    from healthcare_dbt_datamart_spark.llmops.similarity import quantize_int8_report

    rows = [
        (0, [0.0, 1.0, 0.5, 0.25]),
        (1, [3.0, 3.0, 3.0, 3.0]),        # constant -> exact
        (2, [-1.0, 1.0, 0.123, -0.456]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in quantize_int8_report(emb).collect()}
    assert out[1].max_err == 0.0 and out[1].mean_err == 0.0
    for vid in (0, 2):
        rng = {0: 1.0, 2: 2.0}[vid]
        half_step = (rng / 255.0) / 2.0
        assert out[vid].max_err <= half_step + 1e-6  # report rounds to 6dp
        assert 0.0 <= out[vid].mean_err <= out[vid].max_err
        assert out[vid].n_dims == 4


def test_multimodal_feature_extraction(spark, docs):
    media = text_as_media(docs, "text", "doc_id")
    feats = {r.media_id: r for r in extract_features(media).collect()}
    assert len(feats) == 5
    assert feats[1].content_md5 == feats[2].content_md5  # same bytes
    assert feats[1].n_bytes == len("the quick brown fox jumps over the lazy dog today")
    assert 16 <= feats[1].width < 256 and 16 <= feats[1].height < 256
    # decode stub 'raise' marks the real-decoder plug point
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        extract_features(media, decode_stub="raise").collect()
    # frame sampling fans out >= 1 frame per media row
    assert frame_sample_plan(media).count() >= 5


def test_multimodal_null_payload_yields_null_features(spark):
    """A NULL content payload (allowed by MEDIA_SCHEMA; a PERMISSIVE
    corrupt load produces them) must yield NULL features / NULL resize,
    not a TypeError that fails the whole task — the _probed_durations
    'one bad row must not fail the task' contract."""
    from healthcare_dbt_datamart_spark.llmops.multimodal import (
        extract_features,
        resize_images,
    )

    media = spark.createDataFrame(
        [(1, "image", bytearray(b"payload-bytes"), None), (2, "image", None, None)],
        "media_id long, media_type string, content binary, meta string",
    )
    feats = {r.media_id: r for r in extract_features(media).collect()}
    assert feats[1].n_bytes == 13 and feats[1].content_md5 is not None
    assert feats[2].n_bytes is None
    assert feats[2].content_md5 is None
    assert feats[2].width is None and feats[2].height is None

    sizes = {r.media_id: r for r in resize_images(media, max_side=32).collect()}
    assert sizes[1].width is not None and sizes[1].content is not None
    assert sizes[2].width is None and sizes[2].height is None
    assert sizes[2].content is None


def test_frame_sample_plan_never_emits_out_of_range_index(spark):
    """F.sequence is bound-inclusive: sampling 0..n_frames would emit
    frame_idx == n_frames (invalid — indices are 0..n_frames-1) whenever
    n_frames % every_n == 0. 9000 bytes -> n_frames = 10 in stub mode;
    every_n=5 must top out at index 5, not 10."""
    from healthcare_dbt_datamart_spark.llmops.multimodal import frame_sample_plan

    media = spark.createDataFrame(
        [(1, "video", bytearray(b"x" * 9000), None)],
        "media_id long, media_type string, content binary, meta string",
    )
    idxs = sorted(r.frame_idx for r in frame_sample_plan(media, every_n=5).collect())
    assert idxs == [0, 5]  # n_frames=10 -> valid indices 0..9

    # NULL payload -> NULL n_frames: the row must DROP (explode of a NULL
    # sequence), not emit a phantom frame 0 — greatest() skips NULLs, so
    # an unconditional greatest(n-1, 0) clamp would turn NULL into 0
    with_null = spark.createDataFrame(
        [(1, "video", bytearray(b"x" * 9000), None), (2, "video", None, None)],
        "media_id long, media_type string, content binary, meta string",
    )
    rows = frame_sample_plan(with_null, every_n=5).collect()
    assert {r.media_id for r in rows} == {1}


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        ("2024-01-01 10:00:00", 1, "click", 1.0),
        ("2024-01-01 10:10:00", 1, "click", 2.0),
        ("2024-01-01 12:00:00", 1, "view", 3.0),   # new session (gap > 30m)
        ("2024-01-01 10:05:00", 2, "click", 4.0),
    ]
    return spark.createDataFrame(
        rows, "ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_batch_windows(spark, events):
    t = tumbling_window_agg(events, "1 hour")
    # 10:00 window (click, 3 events incl. both users), 12:00 window (view)
    assert t.count() == 2
    clicks = t.filter(F.col("event_type") == "click").collect()[0]
    assert clicks.n_events == 3
    s = sliding_window_agg(events, "1 hour", "30 minutes")
    assert s.count() >= t.count()  # overlapping windows >= tumbling
    sess = session_window_agg(events, "30 minutes")
    per_user = {(r.user_id): 0 for r in sess.collect()}
    rows = sess.collect()
    assert len([r for r in rows if r.user_id == 1]) == 2  # gap split
    assert len([r for r in rows if r.user_id == 2]) == 1


def test_streaming_dynamic_table(spark, events, tmp_path):
    """End-to-end micro stream: file source -> windowed agg -> memory sink."""
    from healthcare_dbt_datamart_spark.streaming import dynamic_table

    src_dir = str(tmp_path / "stream_src")
    events.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(events.schema).parquet(src_dir)

    q = dynamic_table(
        stream,
        lambda df: tumbling_window_agg(df.withWatermark("ts", "1 hour"), "1 hour"),
        name="dyn_events",
        target_lag="1 seconds",
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("select * from dyn_events").count() >= 2:
                break
            time.sleep(1)
        assert spark.sql("select * from dyn_events").count() >= 2
    finally:
        q.stop()


def test_dynamic_table_refresh_and_alter_lag(spark, events, tmp_path):
    """The alter/refresh surface around dynamic_table: one-shot manual
    refresh (availableNow) fills the result table, and altering the
    target lag stops + restarts the query on the same name/checkpoint."""
    from healthcare_dbt_datamart_spark.streaming import (
        alter_dynamic_table_lag,
        dynamic_table,
        refresh_dynamic_table,
    )

    src_dir = str(tmp_path / "dyn_src2")
    events.write.mode("overwrite").parquet(src_dir)

    def xform(df):
        return tumbling_window_agg(df.withWatermark("ts", "1 hour"), "1 hour")

    # manual refresh: processes all available input once, then returns
    stream1 = spark.readStream.schema(events.schema).parquet(src_dir)
    refresh_dynamic_table(stream1, xform, name="dyn_refresh")
    assert spark.sql("select * from dyn_refresh").count() >= 2

    # alter target_lag: old query stops, replacement runs with new trigger
    stream2 = spark.readStream.schema(events.schema).parquet(src_dir)
    q1 = dynamic_table(stream2, xform, name="dyn_alter", target_lag="10 seconds")
    try:
        q2 = alter_dynamic_table_lag(
            q1, stream2, xform, name="dyn_alter", target_lag="1 seconds"
        )
        try:
            assert not q1.isActive
            assert q2.isActive
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.sql("select * from dyn_alter").count() >= 2:
                    break
                time.sleep(1)
            assert spark.sql("select * from dyn_alter").count() >= 2
        finally:
            q2.stop()
    finally:
        if q1.isActive:
            q1.stop()


def test_alter_lag_reuses_recorded_checkpoint(spark, events, tmp_path):
    """alter_dynamic_table_lag without checkpoint_dir must reuse the one
    the query was STARTED with (otherwise the restart silently reprocesses
    the whole source from offset zero), and a DIFFERENT checkpoint raises
    rather than pretending to resume."""
    from healthcare_dbt_datamart_spark.streaming import (
        alter_dynamic_table_lag,
        dynamic_table,
    )
    from healthcare_dbt_datamart_spark.streaming.dynamic_table import _CHECKPOINTS

    src_dir = str(tmp_path / "dyn_src_ckpt")
    ckpt = str(tmp_path / "dyn_ckpt")
    events.write.mode("overwrite").parquet(src_dir)

    def xform(df):
        return tumbling_window_agg(df.withWatermark("ts", "1 hour"), "1 hour")

    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    q1 = dynamic_table(
        stream, xform, name="dyn_ckpt_t", target_lag="10 seconds",
        checkpoint_dir=ckpt,
    )
    try:
        with pytest.raises(ValueError, match="different checkpoint"):
            alter_dynamic_table_lag(
                q1, stream, xform, name="dyn_ckpt_t",
                target_lag="1 seconds", checkpoint_dir=str(tmp_path / "other"),
            )
        assert q1.isActive  # the guard fired BEFORE stopping the query
        q2 = alter_dynamic_table_lag(
            q1, stream, xform, name="dyn_ckpt_t", target_lag="1 seconds"
        )
        try:
            # the restart reused the recorded checkpoint — offset resume
            assert _CHECKPOINTS[str(q2.id)] == ckpt
            # same checkpoint => Spark keeps the same persistent query id
            assert str(q2.id) == str(q1.id)
        finally:
            q2.stop()
    finally:
        if q1.isActive:
            q1.stop()


def test_stateful_user_totals_across_batches(spark, events, tmp_path):
    """applyInPandasWithState keeps per-key state across micro-batches:
    totals after batch 2 include batch 1's rows."""
    from healthcare_dbt_datamart_spark.streaming import stateful_user_totals

    src_dir = tmp_path / "stateful_src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "stateful_ckpt")
    events.write.mode("overwrite").parquet(str(src_dir / "b1"))

    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src_dir / "*"))
    q = (
        stateful_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("user_totals")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        batch2 = spark.createDataFrame(
            [("2024-01-01 13:00:00", 1, "click", 10.0)],
            "ts string, user_id long, event_type string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        batch2.write.mode("overwrite").parquet(str(src_dir / "b2"))
        q.processAllAvailable()
        rows = spark.sql("select * from user_totals").collect()
        # last emitted row for user 1 accumulates batch1 (3 events, 6.0)
        # + batch2 (1 event, 10.0)
        latest_u1 = [r for r in rows if r.user_id == 1][-1]
        assert latest_u1.n_events == 4
        assert latest_u1.total_value == pytest.approx(16.0)
    finally:
        q.stop()


def test_microbatch_stream_delete_insert(spark, events, tmp_path):
    """foreachBatch microbatch path: re-delivered rows inside the batch's
    event-time span replace prior target rows (I5 semantics) instead of
    double-appending. Batches are delivered period-complete (one file per
    directory drop) — the dbt microbatch contract the period-aligned
    delete+insert assumes; see the unique_key test for arrival-based
    feeds."""
    from healthcare_dbt_datamart_spark.streaming import microbatch_stream

    src_dir = tmp_path / "mb_src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "mb_ckpt")
    name = "mb_target"
    spark.sql(f"DROP TABLE IF EXISTS {name}")

    events.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "b1"))
    stream = spark.readStream.schema(events.schema).parquet(str(src_dir / "*"))
    # re-delivery arrives 2h behind the stream head → needs an
    # in-watermark delay (the guard drops beyond-watermark stragglers)
    q = microbatch_stream(
        stream, name, event_time="ts", watermark_delay="6 hours",
        checkpoint_dir=ckpt,
    )
    try:
        q.processAllAvailable()
        n1 = spark.table(name).count()
        assert n1 == events.count()
        # re-deliver one event (same span) with a changed value
        redeliver = spark.createDataFrame(
            [("2024-01-01 10:00:00", 1, "click", 99.0),
             ("2024-01-01 12:00:00", 1, "view", 3.0),
             ("2024-01-01 10:10:00", 1, "click", 2.0),
             ("2024-01-01 10:05:00", 2, "click", 4.0)],
            "ts string, user_id long, event_type string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        redeliver.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "b2"))
        q.processAllAvailable()
        # foreachBatch swaps the table from a cloned session; this session
        # must drop its cached relation before re-reading
        spark.catalog.refreshTable(name)
        out = spark.table(name)
        # replaced, not appended: same row count, updated value present
        assert out.count() == events.count()
        assert out.filter(
            (F.col("user_id") == 1) & (F.col("value") == 99.0)
        ).count() == 1
    finally:
        q.stop()
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_microbatch_stream_survives_null_event_time_rows(spark, tmp_path):
    """A batch carrying NULL event_time rows must not kill the query:
    NULL truncates to a None period, which is unorderable against
    datetimes (sorted() would raise) and belongs to no window — the
    non-NULL rows land, the NULL rows drop, the stream stays alive."""
    from healthcare_dbt_datamart_spark.streaming import microbatch_stream

    src_dir = tmp_path / "mbn_src"
    src_dir.mkdir()
    name = "mbn_target"
    spark.sql(f"DROP TABLE IF EXISTS {name}")

    batch = spark.createDataFrame(
        [("2024-01-01 10:00:00", 1, "click", 1.0),
         (None, 2, "view", 2.0)],
        "ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    batch.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "b1"))
    stream = spark.readStream.schema(batch.schema).parquet(str(src_dir / "*"))
    q = microbatch_stream(
        stream, name, event_time="ts", watermark_delay="6 hours",
        checkpoint_dir=str(tmp_path / "mbn_ckpt"),
    )
    try:
        q.processAllAvailable()
        assert q.isActive  # the NULL period did not crash the batch fn
        assert q.exception() is None
        rows = spark.table(name).collect()
        assert [r.user_id for r in rows] == [1]  # NULL-ts row never lands
    finally:
        q.stop()
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_microbatch_stream_drops_beyond_watermark_straggler(spark, tmp_path):
    """A straggler older than max-seen-event-time minus the watermark must
    be DROPPED by the explicit batch guard — withWatermark alone does not
    filter for a stateless foreachBatch sink, and without the guard the
    straggler's period-aligned delete+insert would wipe its whole
    already-landed period and re-insert only itself."""
    from healthcare_dbt_datamart_spark.streaming import microbatch_stream

    schema = "ts string, user_id long, event_type string, value double"
    base = spark.createDataFrame(
        [("2024-01-01 10:00:00", 1, "click", 1.0),
         ("2024-01-01 10:20:00", 2, "click", 2.0),
         ("2024-01-01 14:00:00", 1, "view", 3.0)],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    src_dir = tmp_path / "mb_src3"
    src_dir.mkdir()
    ckpt = str(tmp_path / "mb_ckpt3")
    name = "mb_target_straggler"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    base.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "b1"))
    stream = spark.readStream.schema(base.schema).parquet(str(src_dir / "*"))
    q = microbatch_stream(
        stream, name, event_time="ts", watermark_delay="30 minutes",
        checkpoint_dir=ckpt, period="hour",
    )
    try:
        q.processAllAvailable()
        # straggler: hour-10 row, 4h behind the 14:00 head, watermark 30m
        straggler = spark.createDataFrame(
            [("2024-01-01 10:40:00", 9, "click", 99.0)], schema
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        straggler.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "b2"))
        q.processAllAvailable()
        spark.catalog.refreshTable(name)
        out = spark.table(name)
        # straggler dropped — and crucially hour 10's landed rows SURVIVE
        assert out.filter(F.col("value") == 99.0).count() == 0
        assert out.filter(F.col("value") == 1.0).count() == 1
        assert out.filter(F.col("value") == 2.0).count() == 1
        assert out.count() == 3
    finally:
        q.stop()
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_microbatch_stream_keeps_whole_straddling_period(spark, tmp_path):
    """A re-delivered period whose span STRADDLES the watermark threshold
    must land completely — the guard is period-granular (the period is
    the re-run unit); a row-level filter would truncate the re-delivery
    and the period delete would permanently destroy the older rows."""
    from healthcare_dbt_datamart_spark.streaming import microbatch_stream

    schema = "ts string, user_id long, event_type string, value double"
    base = spark.createDataFrame(
        [("2024-01-01 10:00:00", 1, "click", 1.0),
         ("2024-01-01 10:20:00", 2, "click", 2.0),
         ("2024-01-01 10:45:00", 3, "view", 3.0)],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    src_dir = tmp_path / "mb_src4"
    src_dir.mkdir()
    ckpt = str(tmp_path / "mb_ckpt4")
    name = "mb_target_straddle"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    base.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "b1"))
    stream = spark.readStream.schema(base.schema).parquet(str(src_dir / "*"))
    q = microbatch_stream(
        stream, name, event_time="ts", watermark_delay="30 minutes",
        checkpoint_dir=ckpt, period="hour",
    )
    try:
        q.processAllAvailable()
        # head=10:45, threshold=10:15 — hour 10 straddles it (ends 11:00)
        # and is re-delivered COMPLETELY with corrected values
        corrected = spark.createDataFrame(
            [("2024-01-01 10:00:00", 1, "click", 10.0),
             ("2024-01-01 10:20:00", 2, "click", 20.0),
             ("2024-01-01 10:45:00", 3, "view", 30.0)],
            schema,
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        corrected.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "b2"))
        q.processAllAvailable()
        spark.catalog.refreshTable(name)
        out = spark.table(name)
        # the WHOLE corrected period landed — including the 10:00 row
        # that a row-granular guard would have dropped then deleted
        assert out.count() == 3
        assert out.filter(F.col("value") == 10.0).count() == 1
        assert out.filter(F.col("value") == 1.0).count() == 0
    finally:
        q.stop()
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_microbatch_stream_unique_key_merge_for_arrival_batches(
    spark, events, tmp_path
):
    """Arrival-based feeds (row-grain files, one per micro-batch) cannot
    assume period-complete delivery; with unique_key the stream MERGEs
    each batch — earlier rows of the same period survive, re-delivered
    keys update in place."""
    from healthcare_dbt_datamart_spark.streaming import microbatch_stream

    src_dir = tmp_path / "mb_src3"
    src_dir.mkdir()
    ckpt = str(tmp_path / "mb_ckpt3")
    name = "mb_target_keyed"
    spark.sql(f"DROP TABLE IF EXISTS {name}")

    events.write.mode("overwrite").parquet(str(src_dir / "b1"))
    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", "1"  # deliberately slices periods across batches
    ).parquet(str(src_dir / "*"))
    q = microbatch_stream(
        stream, name, event_time="ts", checkpoint_dir=ckpt,
        unique_key=["ts", "user_id", "event_type"],
    )
    try:
        q.processAllAvailable()
        spark.catalog.refreshTable(name)
        assert spark.table(name).count() == events.count()
        redeliver = spark.createDataFrame(
            [("2024-01-01 10:00:00", 1, "click", 99.0)],
            "ts string, user_id long, event_type string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        redeliver.write.mode("overwrite").parquet(str(src_dir / "b2"))
        q.processAllAvailable()
        spark.catalog.refreshTable(name)
        out = spark.table(name)
        assert out.count() == events.count()  # updated, not appended
        assert out.filter(F.col("value") == 99.0).count() == 1
        assert out.filter(F.col("value") == 1.0).count() == 0
    finally:
        q.stop()
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_microbatch_stream_out_of_order_batch_preserves_middle(spark, tmp_path):
    """A batch holding a late row (hour 10) plus a new row (hour 12) must
    only replace those two periods — previously-landed rows in hour 11
    that are NOT re-delivered must survive (period-aligned windows, not
    the batch's min/max span)."""
    from healthcare_dbt_datamart_spark.streaming import microbatch_stream

    schema = "ts string, user_id long, event_type string, value double"
    base = spark.createDataFrame(
        [("2024-01-01 10:00:00", 1, "click", 1.0),
         ("2024-01-01 11:00:00", 1, "view", 2.0),
         ("2024-01-01 12:00:00", 1, "view", 3.0)],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    src_dir = tmp_path / "mb_src2"
    src_dir.mkdir()
    ckpt = str(tmp_path / "mb_ckpt2")
    name = "mb_target_ooo"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    base.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "b1"))
    stream = spark.readStream.schema(base.schema).parquet(str(src_dir / "*"))
    q = microbatch_stream(
        stream, name, event_time="ts", watermark_delay="6 hours",
        checkpoint_dir=ckpt, period="hour",
    )
    try:
        q.processAllAvailable()
        # batch 2: late row in hour 10 + new row in hour 12; hour 11 absent
        late_plus_new = spark.createDataFrame(
            [("2024-01-01 10:00:00", 1, "click", 99.0),
             ("2024-01-01 12:00:00", 1, "view", 3.0),
             ("2024-01-01 12:30:00", 1, "purchase", 4.0)],
            schema,
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        late_plus_new.coalesce(1).write.mode("overwrite").parquet(str(src_dir / "b2"))
        q.processAllAvailable()
        spark.catalog.refreshTable(name)
        out = spark.table(name)
        # hour 11 row survived untouched
        assert out.filter(F.col("value") == 2.0).count() == 1
        # hour 10 replaced with the late re-delivery
        assert out.filter(F.col("value") == 99.0).count() == 1
        assert out.filter(F.col("value") == 1.0).count() == 0
        # hour 12 replaced by the two re-delivered rows
        assert out.count() == 4
    finally:
        q.stop()
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_multimodal_resize(spark, docs):
    from healthcare_dbt_datamart_spark.llmops.multimodal import resize_images, text_as_media

    media = text_as_media(docs, "text", "doc_id")
    out = resize_images(media, max_side=32).collect()
    assert len(out) == docs.count()
    for r in out:
        assert max(r.width, r.height) == 32
        assert len(r.content) >= 1


def test_multimodal_auto_decode_path(spark, docs):
    """decode_stub='auto' selects the real PIL decoder by import probe.
    Text payloads are not decodable images, so without PIL — and with
    PIL, for undecodable rows — auto must match the deterministic stub
    row-for-row (the per-row fallback contract)."""
    from healthcare_dbt_datamart_spark.llmops.multimodal import (
        _pil_decode,
        pil_available,
        text_as_media,
    )

    media = text_as_media(docs, "text", "doc_id")
    stub = {r.media_id: r for r in extract_features(media).collect()}
    auto = {r.media_id: r for r in extract_features(media, decode_stub="auto").collect()}
    assert set(stub) == set(auto)
    for mid in stub:
        assert (auto[mid].width, auto[mid].height) == (stub[mid].width, stub[mid].height)

    if pil_available():
        # real path: a 1x1 PNG decodes to its true dims, not the fake's
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (3, 2)).save(buf, format="PNG")
        assert _pil_decode(buf.getvalue()) == (3, 2)
    else:
        assert _pil_decode(b"not an image") is None


def test_hash_split_deterministic_and_leakage(spark, docs):
    from healthcare_dbt_datamart_spark.llmops.splits import (
        assign_splits,
        split_contamination,
    )

    a = {r.doc_id: r.split for r in assign_splits(docs, "text", "doc_id").collect()}
    b = {r.doc_id: r.split for r in assign_splits(docs, "text", "doc_id").collect()}
    assert a == b  # deterministic
    assert a[1] == a[2]  # identical text -> identical split (content hash)
    assert set(a.values()) <= {"train", "val", "test"}
    # doc 1/2 are exact dups: if they ever straddled splits the detector
    # must catch them — they can't, by construction, so filter by pair
    leaks = split_contamination(docs, "text", "doc_id", threshold=0.4).collect()
    assert all(not (r.id_a == 1 and r.id_b == 2) for r in leaks)


def test_near_dup_components_transitive(spark):
    """Min-label propagation: chains collapse to one component, disjoint
    pairs stay separate, fixpoint reached within diameter rounds."""
    from healthcare_dbt_datamart_spark.llmops.dedup import near_dup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.component for r in near_dup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_near_dup_components_deep_chain_converges(spark):
    """Pointer doubling: a chain DEEPER than max_iter still converges
    exactly (plain 1-hop propagation would need diameter rounds and
    return silently-wrong labels — it now raises instead)."""
    from healthcare_dbt_datamart_spark.llmops.dedup import near_dup_components

    chain = [(i, i + 1) for i in range(25)]  # diameter 25 > max_iter 5
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {
        r.doc_id: r.component
        for r in near_dup_components(pairs, max_iter=5).collect()
    }
    assert got == {i: 0 for i in range(26)}


def test_exact_substr_coverage(spark):
    """ExactSubstr criterion: a 40-char substring shared verbatim across
    two docs covers exactly its own chars in each (context windows that
    cross the span boundary differ and must not count); a unique doc and
    a short doc report zeros; two disjoint shared spans merge into two
    islands."""
    from healthcare_dbt_datamart_spark.llmops.dedup import exact_substr_coverage

    shared = "abcdefghij" * 4  # 40 chars
    shared2 = "0123456789" * 4
    # distinct delimiters around every planted span: a shared BOUNDARY
    # char would legitimately extend the duplicated substring by one
    # (the criterion is exact, so the fixture must be too)
    rows = [
        (1, "PREFIXONE-" + shared + "-SUFFIXONE"),
        (2, "OTHERHEAD_" + shared + "_TAILBIT_" + shared2),
        (3, "completely unique text with no duplicated spans at all here"),
        (4, "tiny"),
        (5, shared2 + "#standalone context around the second span"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in exact_substr_coverage(df, "text", "doc_id", 30).collect()}
    assert out[1].covered_chars == 40 and out[1].n_spans == 1
    assert out[2].covered_chars == 80 and out[2].n_spans == 2
    assert out[3].covered_chars == 0 and out[3].n_spans == 0
    assert out[4].covered_chars == 0 and out[4].n_chars == 4
    assert out[5].covered_chars == 40
    assert out[1].coverage_ratio == round(40 / out[1].n_chars, 6)


def test_exact_substr_dedup_cuts_only_non_canonical(spark):
    """ExactSubstr removal: the LOWEST-id holder of a shared span keeps
    its text byte-identical; every higher-id holder loses exactly the
    maximal shared span (boundary chars shared by accident extend it —
    the criterion is exact); unique docs pass through untouched; the
    rebuilt text stitches the kept segments in order."""
    from healthcare_dbt_datamart_spark.llmops.dedup import exact_substr_dedup

    shared = "the quick brown fox jumps over the lazy dog!"  # 44 chars
    rows = [
        (1, "AAAA-" + shared + "-BBBB"),
        (2, "CCCC_" + shared + "_DDDD"),
        (3, "completely unique text with no duplicated spans at all here"),
        (4, "EEEE=" + shared + "=FFFF" + "$padding$" + shared + "@tail@"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in exact_substr_dedup(df, "text", "doc_id", 30).collect()}
    # canonical holder (lowest id): untouched
    assert out[1].removed_chars == 0 and out[1].text_deduped == rows[0][1]
    # higher-id holder: exactly the 44 shared chars cut, context kept
    assert out[2].removed_chars == 44 and out[2].n_cuts == 1
    assert out[2].text_deduped == "CCCC__DDDD"
    assert out[3].removed_chars == 0 and out[3].text_deduped == rows[2][1]
    # two occurrences in one doc -> two cuts, both stitched out
    assert out[4].n_cuts == 2 and out[4].removed_chars == 88
    assert out[4].text_deduped == "EEEE==FFFF$padding$@tail@"


def test_bpe_train_matches_reference(spark):
    """bpe_train must reproduce the classic BPE algorithm exactly:
    word-frequency dict, argmax pair per round (freq desc, pair asc),
    left-to-right non-overlapping merge — checked against a pure-Python
    reference on a corpus engineered with back-to-back merge sites
    (the shared-sentinel-space trap) and multi-char merged symbols."""
    from collections import Counter, defaultdict

    from healthcare_dbt_datamart_spark.llmops.bpe import (
        bpe_segment_report,
        bpe_train,
    )

    texts = [
        "low low low lower lowest",
        "newer newer new newest",
        "aaaa aa aaa",  # back-to-back identical-pair merges
        "low newer",
    ]

    def ref_apply(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    def ref_bpe(texts, n_merges):
        wf = Counter(w for t in texts for w in t.lower().split())
        words = {w: list(w) for w in wf}
        merges = []
        for _ in range(n_merges):
            pc = Counter()
            for w, syms in words.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += wf[w]
            if not pc:
                break
            (a, b), f = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((a, b, f))
            words = {w: ref_apply(syms, a, b) for w, syms in words.items()}
        nocc, tfreq = defaultdict(int), defaultdict(int)
        for w, syms in words.items():
            for sym in syms:
                nocc[sym] += 1
                tfreq[sym] += wf[w]
        return merges, {t: (nocc[t], tfreq[t]) for t in tfreq}

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = bpe_train(df, "text", n_merges=6)
    want_merges, want_vocab = ref_bpe(texts, 6)
    assert got == want_merges

    rep = {
        r.token: (r.n_occurrences, r.total_freq)
        for r in bpe_segment_report(df, "text", got).collect()
    }
    assert rep == want_vocab


def test_streaming_contamination_guard(spark, tmp_path):
    """Stream-static decontamination at ingest: a doc plagiarizing the
    static eval set scores ~1.0 contamination, a clean doc 0.0; a
    second microbatch behaves identically (the static side re-plans per
    batch, no cross-batch state beyond the windowed count)."""
    from healthcare_dbt_datamart_spark.streaming import (
        streaming_contamination_guard,
    )

    ev_docs = spark.createDataFrame(
        [(100, " ".join(f"e{i}" for i in range(20)))], ["doc_id", "text"]
    )
    schema = "doc_id long, ts timestamp, text string"
    dirty = " ".join(f"e{i}" for i in range(20)) + " extra"
    clean = " ".join(f"c{i}" for i in range(20))
    src = tmp_path / "guard_src"
    src.mkdir()
    spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10, 0), dirty),
         (2, datetime(2024, 1, 1, 10, 1), clean)],
        schema,
    ).write.mode("overwrite").parquet(str(src / "b1"))
    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, text string"
    ).option("maxFilesPerTrigger", "1").parquet(str(src / "*"))
    q = (
        streaming_contamination_guard(
            stream, ev_docs, "text", "doc_id", "ts", n=5
        )
        .writeStream.format("memory")
        .queryName("guard_out")
        .option("checkpointLocation", str(tmp_path / "guard_ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [(3, datetime(2024, 1, 1, 10, 2), dirty + " more")], schema
        ).write.mode("overwrite").parquet(str(src / "b2"))
        q.processAllAvailable()
        # append mode holds windows open until the watermark passes: a
        # far-future nudge doc closes the 10:00 window (and itself stays
        # open, unemitted)
        spark.createDataFrame(
            [(9, datetime(2024, 1, 1, 12, 0), clean)], schema
        ).write.mode("overwrite").parquet(str(src / "b3"))
        q.processAllAvailable()
        rows = {
            r.doc_id: r
            for r in spark.sql("SELECT * FROM guard_out").collect()
        }
        assert set(rows) == {1, 2, 3}
        # dirty doc: 17 grams, 16 from the eval prefix -> ratio ~0.94
        assert rows[1].contamination_ratio > 0.9
        assert rows[2].contamination_ratio == 0.0
        assert rows[3].contamination_ratio > 0.85
    finally:
        q.stop()

    # batch parity: same pipeline on a batch frame == ngram_contamination
    from healthcare_dbt_datamart_spark.llmops.filtering import (
        ngram_contamination,
    )

    batch = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10, 0), dirty),
         (2, datetime(2024, 1, 1, 10, 1), clean)],
        schema,
    )
    via_guard = {
        (r.doc_id, r.n_grams, r.n_contaminated, r.contamination_ratio)
        for r in streaming_contamination_guard(
            batch, ev_docs, "text", "doc_id", "ts", n=5
        ).collect()
    }
    direct = {
        tuple(r)
        for r in ngram_contamination(
            ev_docs, batch, "text", "doc_id", n=5
        ).collect()
    }
    assert via_guard == direct


def test_streaming_near_dup_guard_flags_corpus_twins(spark, tmp_path):
    """Ingest-time near-dup guard: a stream doc that is a near-twin of a
    corpus doc collides in LSH buckets and verifies above the Jaccard
    threshold; an unrelated doc emits NO row (no bucket collision at
    all — the guard's cost model); batch parity reproduces the batch
    minhash → band → jaccard composition."""
    from healthcare_dbt_datamart_spark.streaming.guard import (
        streaming_near_dup_guard,
    )

    base = " ".join(f"w{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(100, base), (101, " ".join(f"z{i}" for i in range(30)))],
        ["doc_id", "text"],
    )
    schema = "doc_id long, ts timestamp, text string"
    twin = base + " extra"                      # ~0.97 Jaccard vs doc 100
    fresh = " ".join(f"q{i}" for i in range(30))
    src = tmp_path / "ndg_src"
    src.mkdir()
    spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10, 0), twin),
         (2, datetime(2024, 1, 1, 10, 1), fresh)],
        schema,
    ).write.mode("overwrite").parquet(str(src / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (
        streaming_near_dup_guard(
            stream, corpus, "text", "doc_id", "ts", threshold=0.7
        )
        .writeStream.format("memory")
        .queryName("ndg_out")
        .option("checkpointLocation", str(tmp_path / "ndg_ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # far-future nudge closes the 10:00 window under append mode
        spark.createDataFrame(
            [(9, datetime(2024, 1, 1, 12, 0), fresh)], schema
        ).write.mode("overwrite").parquet(str(src / "b2"))
        q.processAllAvailable()
        rows = {r.doc_id: r for r in spark.table("ndg_out").collect()}
    finally:
        q.stop()
    assert 1 in rows and rows[1].is_near_dup == 1
    assert rows[1].best_jaccard > 0.9 and rows[1].n_bucket_hits >= 1
    # the unrelated doc shares no band bucket: no candidate row at all
    assert 2 not in rows

    # batch parity: the guard on a batch frame == the batch composition
    from healthcare_dbt_datamart_spark.llmops.dedup import (
        jaccard_pairs,
        lsh_band_buckets,
        minhash_signatures,
    )

    batch = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10, 0), twin)], schema
    )
    via_guard = {
        (r.doc_id, r.best_jaccard)
        for r in streaming_near_dup_guard(
            batch, corpus, "text", "doc_id", "ts", threshold=0.0
        ).collect()
    }
    # batch composition: union stream+corpus docs, band, verify pairs
    both = corpus.unionByName(batch.select("doc_id", "text"))
    buckets = lsh_band_buckets(
        minhash_signatures(both, "text", "doc_id", 8), "doc_id", 8, 2
    )
    pairs = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band_idx", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    direct = {
        (1, r.jaccard)
        for r in jaccard_pairs(
            pairs, both, "text", "doc_id", threshold=0.0
        ).collect()
        if 1 in (r.id_a, r.id_b)
    }
    assert via_guard == direct


def test_streaming_dedup_suppresses_redelivery(spark, tmp_path):
    """At-least-once source: in-batch duplicates and cross-batch
    re-deliveries within the watermark delay emit exactly once."""
    from healthcare_dbt_datamart_spark.streaming import streaming_dedup

    schema = "event_id long, ts timestamp, value double"
    src = tmp_path / "dd_src"
    src.mkdir()
    b1 = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10, 0), 1.0),
         (1, datetime(2024, 1, 1, 10, 0), 1.0),   # in-batch dup
         (2, datetime(2024, 1, 1, 10, 1), 2.0)],
        schema,
    )
    b1.write.mode("overwrite").parquet(str(src / "b1"))
    stream = spark.readStream.schema(b1.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "*"))
    q = (
        streaming_dedup(stream, ["event_id"], "ts", delay="30 minutes")
        .writeStream.format("memory")
        .queryName("dd_out")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # cross-batch redelivery of id 1 + one genuinely new id
        spark.createDataFrame(
            [(1, datetime(2024, 1, 1, 10, 2), 9.9),
             (3, datetime(2024, 1, 1, 10, 3), 3.0)],
            schema,
        ).write.mode("overwrite").parquet(str(src / "b2"))
        q.processAllAvailable()
        out = spark.sql("SELECT event_id FROM dd_out").collect()
        assert sorted(r.event_id for r in out) == [1, 2, 3]
    finally:
        q.stop()


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join emits exactly the pairs the batch
    interval_join produces on the same data (semantics parity)."""
    from healthcare_dbt_datamart_spark.operators.asof import interval_join
    from healthcare_dbt_datamart_spark.streaming import stream_interval_join

    errors = spark.createDataFrame(
        [(7, 100, datetime(2024, 1, 1, 10, 0, 0)),
         (7, 101, datetime(2024, 1, 1, 11, 0, 0)),
         (8, 102, datetime(2024, 1, 1, 10, 0, 30))],
        "user_id long, error_id long, err_ts timestamp",
    )
    acts = spark.createDataFrame(
        [(7, 200, datetime(2024, 1, 1, 10, 0, 10)),   # in window of 100
         (7, 201, datetime(2024, 1, 1, 10, 20, 0)),   # past 600s: excluded
         (7, 202, datetime(2024, 1, 1, 11, 9, 59)),   # in window of 101
         (8, 203, datetime(2024, 1, 1, 10, 0, 31))],  # in window of 102
        "user_id long, next_id long, next_ts timestamp",
    )
    expected = sorted(
        (r.error_id, r.next_id)
        for r in interval_join(
            errors, acts, "user_id", "err_ts", "next_ts", 600
        ).collect()
    )
    l_dir, r_dir = tmp_path / "sj_l", tmp_path / "sj_r"
    l_dir.mkdir(); r_dir.mkdir()
    errors.write.mode("overwrite").parquet(str(l_dir / "b1"))
    acts.write.mode("overwrite").parquet(str(r_dir / "b1"))
    l_stream = spark.readStream.schema(errors.schema).parquet(str(l_dir / "*"))
    r_stream = spark.readStream.schema(acts.schema).parquet(str(r_dir / "*"))
    q = (
        stream_interval_join(
            l_stream, r_stream, "user_id", "err_ts", "next_ts", 600
        )
        .writeStream.format("memory")
        .queryName("sj_out")
        .option("checkpointLocation", str(tmp_path / "sj_ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r.error_id, r.next_id)
            for r in spark.sql("SELECT error_id, next_id FROM sj_out").collect()
        )
        assert got == expected and len(got) == 3
    finally:
        q.stop()


def test_kmeans_lloyd_separates_blobs(spark):
    """Three well-separated direction blobs: Lloyd assignment groups each
    blob into one cell, iterations are deterministic, and the trained
    centroids beat the raw seeds on within-cell similarity."""
    from healthcare_dbt_datamart_spark.llmops.similarity import (
        ivf_assign,
        ivf_centroids,
        kmeans_lloyd,
    )

    rows = []
    for i in range(30):
        blob = i % 3
        base = {0: [10.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0], 2: [0.0, 0.0, 10.0]}[blob]
        jitter = [(i * 7 % 5) * 0.1, (i * 3 % 5) * 0.1, (i * 11 % 5) * 0.1]
        rows.append((i, [b + j for b, j in zip(base, jitter)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    trained = kmeans_lloyd(emb, k=3, n_iter=4)
    assigned = ivf_assign(emb, trained)
    cells = {r.vec_id: r.cell for r in assigned.collect()}
    # every blob lands in exactly one cell, cells are distinct
    blob_cells = [{cells[i] for i in range(30) if i % 3 == b} for b in range(3)]
    assert all(len(bc) == 1 for bc in blob_cells)
    assert len(set().union(*blob_cells)) == 3
    # determinism
    again = kmeans_lloyd(emb, k=3, n_iter=4)
    assert trained == again
    # trained centroids fit at least as well as the seed centroids
    seed_sim = ivf_assign(emb, ivf_centroids(emb, 3)).agg(
        F.avg("cell_sim")
    ).collect()[0][0]
    trained_sim = assigned.agg(F.avg("cell_sim")).collect()[0][0]
    assert trained_sim >= seed_sim - 1e-9


def test_semantic_dedup_drops_within_cell_twins(spark):
    """SemDeDup semantics on the blob fixture: near-twins inside one blob
    drop against their lowest-id keeper; items only similar to vectors in
    OTHER cells survive (the cluster bound is a real precision/recall
    trade, not an optimization detail); the keeper itself is never
    dropped by its own twin; one-shot rule — a dropped item can still be
    the keeper recorded for a later twin."""
    from healthcare_dbt_datamart_spark.llmops.similarity import (
        kmeans_lloyd,
        semantic_dedup,
    )

    rows = []
    for i in range(30):
        blob = i % 3
        base = {0: [10.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0], 2: [0.0, 0.0, 10.0]}[blob]
        jitter = [(i * 7 % 5) * 0.1, (i * 3 % 5) * 0.1, (i * 11 % 5) * 0.1]
        rows.append((i, [b + j for b, j in zip(base, jitter)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    trained = kmeans_lloyd(emb, k=3, n_iter=4)

    dropped = {r.vec_id: r for r in semantic_dedup(emb, trained, 0.99).collect()}
    # within a blob everything is a >=0.99-cosine twin of the blob's
    # lowest id: exactly the three blob minima survive
    assert set(dropped) == set(range(30)) - {0, 1, 2}
    for vid, r in dropped.items():
        assert r.kept_id == vid % 3  # lowest-id twin in the same blob
        assert r.sim >= 0.99
    # impossible threshold: nothing drops
    assert semantic_dedup(emb, trained, 1.1).count() == 0


def test_semantic_salt_is_adaptive():
    """The pair-join salt replicates keepers only while the cell count
    leaves cores idle: ceil(parallelism / n_cells), and exactly 1 once
    cells >= parallelism — production cell counts (thousands) must not
    pay a fixed keeper-side shuffle multiplier."""
    from healthcare_dbt_datamart_spark.llmops.similarity import _semantic_salt

    assert _semantic_salt(8, 32) == 4
    assert _semantic_salt(1, 32) == 32
    assert _semantic_salt(32, 32) == 1
    assert _semantic_salt(1000, 32) == 1  # cells saturate the cluster
    assert _semantic_salt(5, 32) == 7  # ceil, not floor
    assert _semantic_salt(0, 32) == 32  # degenerate input stays sane


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-4, max_value=4), min_size=4, max_size=4
        ).filter(lambda v: any(v)),
        min_size=2,
        max_size=14,
    ),
    st.sampled_from([0.2, 0.5, 0.9]),
)
def test_semantic_dedup_matches_bruteforce_property(spark, vecs, tau):
    """For arbitrary (non-zero) vectors, semantic_dedup must equal a
    plain-Python brute force of the same rule: assign to nearest trained
    centroid (6dp cosine, ties to lowest cid), then drop any id with a
    lower-id same-cell twin at 6dp cosine >= tau, recording the lowest
    such twin and its cosine."""
    from healthcare_dbt_datamart_spark.llmops.similarity import (
        ivf_assign,
        kmeans_lloyd,
        semantic_dedup,
    )

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    k = min(3, len(rows))
    trained = kmeans_lloyd(emb, k=k, n_iter=2)
    # cells from the engine's own assignment (the property under test is
    # the DEDUP rule, not Lloyd — covered by its own tests/oracle)
    cell = {r.vec_id: r.cell for r in ivf_assign(emb, trained).collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return round(dot / (na * nb), 6)

    expect = {}
    for i, vi in rows:
        twins = [
            (j, cos(vj, vi))
            for j, vj in rows
            if j < i and cell[j] == cell[i] and cos(vj, vi) >= tau
        ]
        if twins:
            kept = min(t[0] for t in twins)
            expect[i] = (cell[i], kept, dict(twins)[kept])

    got = {
        r.vec_id: (r.cell, r.kept_id, r.sim)
        for r in semantic_dedup(emb, trained, tau).collect()
    }
    assert set(got) == set(expect)
    for vid, (c, kept, s) in expect.items():
        gc, gk, gs = got[vid]
        assert (gc, gk) == (c, kept)
        assert abs(gs - s) < 1e-9


def test_ivf_topk_trained_recall_beats_seed_quantizer(spark):
    """ANN recall vs the brute-force top-k: probing Lloyd-TRAINED cells
    must beat probing the raw low-id seed cells when the seeds are badly
    placed (all k seeds inside one blob — the untrained-quantizer failure
    VERDICT r2 flagged)."""
    from healthcare_dbt_datamart_spark.llmops.similarity import (
        cosine_topk,
        ivf_topk,
    )

    import numpy as np

    # seeds (ids 0..7) all in blob A; per-member GAUSSIAN jitter makes
    # each B member prefer a different (noise-decided) A-seed cell, so
    # the untrained quantizer scatters the query's true neighbors across
    # cells while Lloyd re-centers cells onto the blobs
    rng = np.random.RandomState(42)
    dirs = np.zeros((3, 16))
    dirs[0, 0] = dirs[1, 5] = dirs[2, 10] = 10.0
    rows = []
    for i in range(60):
        blob = 0 if i < 8 else (1 if i < 34 else 2)
        v = dirs[blob].copy()
        if blob == 0:
            # seed cells differ only in dims 0..3 — a non-seed member's
            # preference among them is then decided by ITS OWN dims-0..3
            # noise (member-dependent), scattering each blob across cells
            v[:4] += rng.normal(0, 1.0, 4)
        else:
            v += rng.normal(0, 0.4, 16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {r.vec_id for r in cosine_topk(emb, query_id=8, k=10).collect()}

    def recall(n_iter: int) -> float:
        got = {
            r.vec_id
            for r in ivf_topk(
                emb, query_id=8, k=10, n_centroids=8, nprobe=2, n_iter=n_iter
            ).collect()
        }
        return len(got & exact) / len(exact)

    seed_recall, trained_recall = recall(0), recall(3)
    assert trained_recall > seed_recall
    assert trained_recall >= 0.9


def test_pq_trained_codebooks_beat_seed_adc_recall(spark):
    """ADC recall vs exact cosine: Lloyd-TRAINED per-subspace codebooks
    (pq_codebooks_trained) must beat serving the raw low-id seed
    subvectors as 'centroids' when the seeds are badly placed (all k
    seed vectors inside one blob — the untrained-quantizer failure
    VERDICT r3 flagged one level down from IVF). Also pins determinism:
    two fits from the same data are identical."""
    from healthcare_dbt_datamart_spark.llmops.similarity import (
        cosine_topk,
        pq_codebooks,
        pq_codebooks_trained,
        pq_topk,
    )

    import numpy as np

    # seeds (ids 0..3) all in blob A, so the seeded codebooks collapse
    # every non-A vector onto near-identical A-like codes: ADC distances
    # tie and the (adc_dist, vec_id) order hands the top-10 to the
    # LOW-ID blob-C decoys (ids 4..29). The query blob B has exactly 11
    # members (ids 30..40) so exact top-10 = the other 10 B members and
    # recall measures pure blob separation, not within-blob code order.
    rng = np.random.RandomState(7)
    dirs = np.zeros((3, 16))
    dirs[0, 0] = dirs[1, 5] = dirs[2, 13] = 10.0
    rows = []
    for i in range(41):
        blob = 0 if i < 4 else (2 if i < 30 else 1)
        v = dirs[blob].copy() + rng.normal(0, 0.5, 16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {r.vec_id for r in cosine_topk(emb, query_id=35, k=10).collect()}

    def recall(books) -> float:
        got = {
            r.vec_id
            for r in pq_topk(
                emb, query_id=35, k=10, m=2, n_codes=4, codebooks=books
            ).collect()
        }
        return len(got & exact) / len(exact)

    seeded = pq_codebooks(emb, m=2, k=4)
    trained = pq_codebooks_trained(emb, m=2, k=4, n_iter=3)
    assert trained == pq_codebooks_trained(emb, m=2, k=4, n_iter=3)
    assert recall(trained) > recall(seeded)
    assert recall(trained) >= 0.9


def test_ivfpq_index_probe_matches_inplan_and_prunes(spark):
    """The materialized IVFADC serving split: build_ivfpq_index writes
    the codes table PARTITIONED BY (cell); ivfadc_topk_indexed must be
    row-for-row identical to the in-plan ivfadc_topk (same quantizers,
    same rounding/tie rules) AND its probed scan must show partition
    pruning — the plan property the 100 TB serving story rests on."""
    from healthcare_dbt_datamart_spark.llmops.similarity import (
        build_ivfpq_index,
        ivfadc_topk,
        ivfadc_topk_indexed,
        kmeans_lloyd,
        pq_codebooks_trained,
    )

    import numpy as np

    rng = np.random.RandomState(11)
    rows = [
        (i, [float(x) for x in rng.normal(0, 1.0, 16)]) for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = kmeans_lloyd(emb, k=4, n_iter=2)
    books = pq_codebooks_trained(emb, m=2, k=4, n_iter=2)

    name = "ivfpq_codes_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        build_ivfpq_index(emb, name, cents, books)
        # the index stores codes, never raw vectors
        assert set(spark.table(name).columns) == {"vec_id", "codes", "cell"}
        inplan = ivfadc_topk(
            emb, query_id=3, k=5, shortlist=15, n_centroids=4, nprobe=2,
            m=2, n_codes=4, centroids=cents, codebooks=books,
        ).collect()
        indexed_df = ivfadc_topk_indexed(
            emb, name, query_id=3, k=5, shortlist=15, nprobe=2,
            centroids=cents, codebooks=books,
        )
        indexed = indexed_df.collect()
        assert [tuple(r) for r in indexed] == [tuple(r) for r in inplan]
        plan = indexed_df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "cell" in plan.split(
            "PartitionFilters"
        )[1][:200]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_residual_encoding_beats_raw_when_cells_outnumber_codes(spark):
    """Residual IVFADC (Jégou et al. §III — PQ encodes r = x − q1(x)):
    with 6 coarse cells but only 4 PQ codes per subspace, raw-vector
    books CANNOT cover the blob positions (recon error ~ blob
    separation) while residual books only need to cover the zero-
    centered within-cell jitter — reconstruction error must drop by at
    least 2x. Also pins the residual serving plumbing: a residual-built
    index probed with per-cell distance tables returns EXACTLY the
    in-cell exact top-k when the shortlist covers the probed cell
    (the ADC stage then only orders candidates into the re-rank, which
    is exact), and the probed scan partition-prunes."""
    from healthcare_dbt_datamart_spark.llmops.similarity import (
        build_ivfpq_index,
        cosine_topk,
        ivf_assign,
        ivf_residuals,
        ivfadc_topk_indexed,
        kmeans_lloyd,
        pq_codebooks_trained,
        pq_encode_report,
    )

    import numpy as np
    import pyspark.sql.functions as SF

    rng = np.random.RandomState(3)
    dirs = np.zeros((6, 16))
    for b in range(6):
        dirs[b, b * 2] = 10.0
    rows = [
        (i, [float(x) for x in dirs[i % 6] + rng.normal(0, 0.3, 16)])
        for i in range(90)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = kmeans_lloyd(emb, k=6, n_iter=3)
    raw_books = pq_codebooks_trained(emb, m=2, k=4, n_iter=3)
    res = ivf_residuals(emb, cents).withColumnRenamed("residual", "embedding")
    res_books = pq_codebooks_trained(res, m=2, k=4, n_iter=3)

    raw_err = (
        pq_encode_report(emb, m=2, k=4, codebooks=raw_books)
        .agg(SF.avg("recon_err"))
        .first()[0]
    )
    res_err = (
        pq_encode_report(res, m=2, k=4, codebooks=res_books)
        .agg(SF.avg("recon_err"))
        .first()[0]
    )
    assert res_err * 2 < raw_err

    name = "ivfpq_residual_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        build_ivfpq_index(emb, name, cents, res_books, residual=True)
        out_df = ivfadc_topk_indexed(
            emb, name, query_id=7, k=5, shortlist=90, nprobe=1,
            centroids=cents, codebooks=res_books, residual=True,
        )
        got = [(r.vec_id, r.cosine) for r in out_df.collect()]
        # shortlist covers the whole probed cell -> exact re-rank makes
        # the result the exact top-k restricted to the query's cell
        cellmap = {
            r.vec_id: r.cell for r in ivf_assign(emb, cents).collect()
        }
        qcell = cellmap[7]
        exact_in_cell = [
            (r.vec_id, r.cosine)
            for r in cosine_topk(emb, query_id=7, k=90).collect()
            if cellmap[r.vec_id] == qcell
        ][:5]
        assert got == exact_in_cell
        plan = out_df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_streaming_best_evidence_upgrades_winner(spark, tmp_path):
    """Dynamic-table analog on the flagship shape: per-member best
    evidence maintained incrementally; a later batch with more durable
    evidence replaces the winner, less durable doesn't."""
    from healthcare_dbt_datamart_spark.streaming import streaming_best_evidence

    schema = (
        "member_id long, claim_id long, event_date string, "
        "closure_reason string, reason_rank int"
    )
    src = tmp_path / "ev_src"
    src.mkdir()
    name = "stream_best_ev"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    b1 = spark.createDataFrame(
        [(1, 100, "2024-01-05", "FIT_FOBT", 4),
         (1, 101, "2024-01-02", "FIT_FOBT", 4),   # older same rank: loses
         (2, 102, "2024-01-03", "SIGMOIDOSCOPY", 2)],
        schema,
    )
    b1.write.mode("overwrite").parquet(str(src / "b1"))
    stream = spark.readStream.schema(b1.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "*"))
    q = streaming_best_evidence(stream, name, str(tmp_path / "ev_ckpt"))
    try:
        q.processAllAvailable()
        spark.catalog.refreshTable(name)
        r1 = {r.member_id: (r.claim_id, r.closure_reason)
              for r in spark.table(name).collect()}
        assert r1[1] == (100, "FIT_FOBT")       # most recent of rank 4
        assert r1[2] == (102, "SIGMOIDOSCOPY")
        b2 = spark.createDataFrame(
            [(1, 200, "2024-01-01", "COLONOSCOPY", 1),   # more durable: wins
             (2, 201, "2024-01-09", "FIT_FOBT", 4)],     # less durable: loses
            schema,
        )
        b2.write.mode("overwrite").parquet(str(src / "b2"))
        q.processAllAvailable()
        spark.catalog.refreshTable(name)
        r2 = {r.member_id: (r.claim_id, r.closure_reason)
              for r in spark.table(name).collect()}
        assert r2[1] == (200, "COLONOSCOPY")
        assert r2[2] == (102, "SIGMOIDOSCOPY")
    finally:
        q.stop()
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_audio_chunk_plan_windows(spark, docs):
    """Chunk plan: overlapping windows tile each media row's duration;
    last window clips at the duration; fan-out = one row per chunk."""
    from healthcare_dbt_datamart_spark.llmops.multimodal import (
        audio_chunk_plan,
        text_as_media,
    )

    media = text_as_media(docs, "text", "doc_id")
    chunks = audio_chunk_plan(media, chunk_ms=2000, overlap_ms=500, bytes_per_ms=1)
    rows = [r for r in chunks.collect() if r.media_id == 1]
    # doc 1 text is 49 chars -> duration 50ms at 1 byte/ms... too short for
    # 2000ms chunks: exactly one clipped chunk
    assert len(rows) == 1 and rows[0].start_ms == 0 and rows[0].end_ms == 50
    # longer synthetic media: verify tiling arithmetic
    import pyspark.sql.functions as SF

    big = media.withColumn("content", SF.expr("repeat(content, 200)"))
    rows = sorted(
        (r.chunk_idx, r.start_ms, r.end_ms)
        for r in audio_chunk_plan(
            big, chunk_ms=2000, overlap_ms=500, bytes_per_ms=1
        ).collect()
        if r.media_id == 1
    )
    dur = 49 * 200 + 1
    assert rows[0] == (0, 0, 2000)
    assert rows[1] == (1, 1500, 3500)          # overlap = 500
    assert rows[-1][2] == dur                   # final chunk clips
    assert all(b[1] - a[1] == 1500 for a, b in zip(rows, rows[1:]))


def _wav_bytes(n_seconds: float, rate: int = 8000) -> bytes:
    """A real (silent) mono 16-bit WAV built with the stdlib writer."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"\x00\x00" * int(n_seconds * rate))
    return buf.getvalue()


def test_audio_chunk_plan_auto_reads_real_wav_header(spark):
    """metadata='auto': a REAL WAV payload's duration comes from the
    container header (frames/rate via the stdlib wave parser), while an
    opaque payload in the SAME feed falls back per-row to the byte-length
    stub — so 'auto' degrades to exactly the 'stub' values, and mixed
    feeds keep flowing."""
    from healthcare_dbt_datamart_spark.llmops.multimodal import (
        audio_chunk_plan,
        wav_duration_ms,
    )

    wav = _wav_bytes(3.2)                 # header says 3200 ms
    assert wav_duration_ms(wav) == 3200
    opaque = b"not-an-audio-container" * 40   # 880 bytes
    media = spark.createDataFrame(
        [(1, "audio", bytearray(wav), "{}"), (2, "audio", bytearray(opaque), "{}"),
         # NULL payload must DROP (like stub's length(NULL)), not fail
         # the task — one bad row can't kill the feed
         (3, "audio", None, "{}")],
        "media_id long, media_type string, content binary, meta string",
    )
    out = {
        r.media_id: r
        for r in audio_chunk_plan(
            media, chunk_ms=2000, overlap_ms=500, bytes_per_ms=1, metadata="auto"
        ).collect()
        if r.chunk_idx == 0
    }
    n_chunks = {
        r.media_id
        for r in audio_chunk_plan(
            media, chunk_ms=2000, overlap_ms=500, bytes_per_ms=1, metadata="auto"
        ).collect()
    }
    assert n_chunks == {1, 2}  # NULL-payload doc 3 drops, no bogus chunk
    # real header duration: first window is a full 2000ms chunk of 3200
    assert (out[1].start_ms, out[1].end_ms) == (0, 2000)
    # opaque payload: identical to the stub arithmetic (len//1 + 1 = 881)
    assert (out[2].start_ms, out[2].end_ms) == (0, 881)
    stub = {
        (r.media_id, r.chunk_idx, r.start_ms, r.end_ms)
        for r in audio_chunk_plan(
            media.filter("media_id = 2"),
            chunk_ms=2000, overlap_ms=500, bytes_per_ms=1, metadata="stub",
        ).collect()
    }
    auto = {
        (r.media_id, r.chunk_idx, r.start_ms, r.end_ms)
        for r in audio_chunk_plan(
            media.filter("media_id = 2"),
            chunk_ms=2000, overlap_ms=500, bytes_per_ms=1, metadata="auto",
        ).collect()
    }
    assert auto == stub


def test_frame_sample_plan_auto_falls_back_without_ffprobe(spark, docs):
    """metadata='auto' on a host without ffprobe (this container) is
    value-identical to the stub plan — the probe degrades per the
    pil_available pattern instead of erroring."""
    from healthcare_dbt_datamart_spark.llmops.multimodal import (
        frame_sample_plan,
        text_as_media,
    )

    media = text_as_media(docs, "text", "doc_id")
    stub = {
        (r.media_id, r.frame_idx)
        for r in frame_sample_plan(media, every_n=7).collect()
    }
    auto = {
        (r.media_id, r.frame_idx)
        for r in frame_sample_plan(media, every_n=7, metadata="auto").collect()
    }
    assert auto == stub and len(stub) > 0


def test_streaming_ann_ingest_matches_batch_assignment(spark, tmp_path):
    """The streaming cell-assignment must be the batch ivf_assign,
    batch-for-batch: same trained centroids, same cells, same sims."""
    from healthcare_dbt_datamart_spark.llmops.similarity import (
        ivf_assign,
        kmeans_lloyd,
    )
    from healthcare_dbt_datamart_spark.streaming.dedup_join import (
        streaming_ann_ingest,
    )

    rows = [
        (i, [1.0 + 0.01 * i, 0.0, 0.0]) for i in range(6)
    ] + [
        (10 + i, [0.0, 1.0 + 0.01 * i, 0.0]) for i in range(6)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_lloyd(emb, k=2, n_iter=2)
    expected = sorted(
        (r["vec_id"], r["cell"], r["cell_sim"])
        for r in ivf_assign(emb, cents).collect()
    )

    src = tmp_path / "ann_src"
    src.mkdir()
    emb.write.mode("overwrite").parquet(str(src / "b1"))
    stream = spark.readStream.schema(emb.schema).parquet(str(src / "*"))
    q = (
        streaming_ann_ingest(stream, cents)
        .drop("embedding")
        .writeStream.format("memory")
        .queryName("ann_out")
        .option("checkpointLocation", str(tmp_path / "ann_ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r["vec_id"], r["cell"], r["cell_sim"])
            for r in spark.table("ann_out").collect()
        )
    finally:
        q.stop()
    assert got == expected
    # every vector lands in its own blob's cell: the two blobs separate
    cells = {r[0]: r[1] for r in got}
    assert len({cells[i] for i in range(6)}) == 1
    assert len({cells[10 + i] for i in range(6)}) == 1
    assert cells[0] != cells[10]


def test_streaming_ivfpq_ingest_appends_batch_compatible_rows(spark, tmp_path):
    """Streamed index writes: streaming_ivfpq_ingest must emit the SAME
    (id, codes, cell) rows the batch build derives (it IS the shared
    ivfpq_index_rows projection), so appending a micro-batch into the
    batch-built table grows the index without a reindex step."""
    from healthcare_dbt_datamart_spark.llmops.similarity import (
        ivfpq_index_rows,
        kmeans_lloyd,
        pq_codebooks_trained,
    )
    from healthcare_dbt_datamart_spark.streaming.dedup_join import (
        streaming_ivfpq_ingest,
    )

    import numpy as np

    rng = np.random.RandomState(9)
    rows = [
        (i, [float(x) for x in rng.normal(0, 1.0, 8)]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_lloyd(emb, k=3, n_iter=2)
    books = pq_codebooks_trained(emb, m=2, k=3, n_iter=2)
    expected = sorted(
        (r.vec_id, tuple(r.codes), r.cell)
        for r in ivfpq_index_rows(emb, cents, books).collect()
    )

    src = tmp_path / "ivfpq_src"
    src.mkdir()
    emb.write.mode("overwrite").parquet(str(src / "b1"))
    stream = spark.readStream.schema(emb.schema).parquet(str(src / "*"))
    q = (
        streaming_ivfpq_ingest(stream, cents, books)
        .writeStream.format("memory")
        .queryName("ivfpq_out")
        .option("checkpointLocation", str(tmp_path / "ivfpq_ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r.vec_id, tuple(r.codes), r.cell)
            for r in spark.table("ivfpq_out").collect()
        )
    finally:
        q.stop()
    assert got == expected


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=60),
        min_size=2,
        max_size=8,
    ),
    st.sampled_from([4, 8]),
)
def test_exact_substr_dedup_invariants_property(spark, texts, min_len):
    """For arbitrary small-alphabet docs (maximally collision-prone) and
    any min_len: (1) rebuilt length = n_chars − removed_chars for every
    doc, (2) zero-removal docs pass through byte-identical, (3) the
    lowest doc id never loses a character (it is every shared span's
    canonical holder), (4) removed_chars is consistent with n_cuts
    (each maximal cut is at least min_len chars)."""
    from healthcare_dbt_datamart_spark.llmops.dedup import exact_substr_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in exact_substr_dedup(df, "text", "doc_id", min_len).collect()
    }
    assert set(out) == set(range(len(texts)))
    for i, t in rows:
        r = out[i]
        assert r.n_chars == len(t)
        assert len(r.text_deduped) == r.n_chars - r.removed_chars
        if r.removed_chars == 0:
            assert r.text_deduped == t
        else:
            assert r.n_cuts >= 1
            assert r.removed_chars >= r.n_cuts * min_len
    assert out[0].removed_chars == 0  # lowest id is always canonical


def test_bm25_topk_matches_reference_arithmetic(spark):
    """BM25 scores against an independent pure-Python computation of the
    same formula (Lucene non-negative idf, k1=1.2 b=0.75), plus the
    ranking sanities: a rare term outscores a common one at equal tf,
    and matched_terms is the sorted comma-joined posting set."""
    import math

    from healthcare_dbt_datamart_spark.llmops.retrieval import bm25_topk

    corpus = {
        0: "apple banana apple",
        1: "banana cherry",
        2: "cherry cherry cherry durian",
        3: "apple",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in corpus.items()], ["doc_id", "text"]
    )
    terms, k1, b = ["apple", "durian"], 1.2, 0.75
    out = {r.doc_id: r for r in bm25_topk(df, terms, k=10).collect()}

    toks = {i: t.split() for i, t in corpus.items()}
    n, avgdl = len(toks), sum(len(w) for w in toks.values()) / len(toks)
    expected = {}
    for i, w in toks.items():
        score = 0.0
        matched = []
        for t in sorted(terms):
            tf = w.count(t)
            if not tf:
                continue
            matched.append(t)
            dfreq = sum(1 for ww in toks.values() if t in ww)
            idf = math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
            score += idf * (
                (tf * (k1 + 1))
                / (tf + k1 * ((1.0 - b) + b * len(w) / avgdl))
            )
        if matched:
            expected[i] = (",".join(matched), round(score, 6))
    assert set(out) == set(expected)
    for i, (mt, sc) in expected.items():
        assert out[i].matched_terms == mt
        assert out[i].score == pytest.approx(sc, abs=1e-6)
    # durian: df=1 of 4 docs; its single posting (doc 2) must outrank
    # the tf=1 common-term docs (apple has df=2)
    assert out[2].score > out[3].score
    # the scoring plan stays JVM-side and broadcasts the corpus stats
    plan = bm25_topk(df, terms, k=10)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    ),
    st.sets(st.sampled_from(["a", "b", "c", "ab", "ca"]), min_size=1, max_size=3),
)
def test_bm25_topk_property_vs_python_reference(spark, texts, qset):
    """For arbitrary tiny-alphabet corpora (collision-prone tokens,
    empty docs, repeated terms) and any query set: bm25_topk equals an
    independent Python implementation of the same formula, doc for doc,
    including the matched_terms string and the order discipline
    (score desc, id asc)."""
    import math

    from healthcare_dbt_datamart_spark.llmops.retrieval import bm25_topk

    k1, b = 1.2, 0.75
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = bm25_topk(df, sorted(qset), k=100).collect()

    toks = {i: t.strip().lower().split() for i, t in rows}
    # Spark's split('\s+') of '' yields [''] (size 1), mirroring the
    # oracle; python split() yields [] — align dl to the engine rule
    dls = {i: (len(w) if w else 1) for i, w in toks.items()}
    n = len(toks)
    avgdl = sum(dls.values()) / n
    expected = []
    for i, w in toks.items():
        score, matched = 0.0, []
        for t in sorted(set(q.lower() for q in qset)):
            tf = w.count(t)
            if not tf:
                continue
            matched.append(t)
            dfreq = sum(1 for ww in toks.values() if t in ww)
            idf = math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
            score += idf * (
                (tf * (k1 + 1))
                / (tf + k1 * ((1.0 - b) + b * dls[i] / avgdl))
            )
        if matched:
            expected.append((i, ",".join(matched), round(score, 6)))
    expected.sort(key=lambda r: (-r[2], r[0]))
    assert [(r.doc_id, r.matched_terms) for r in got] == [
        (i, mt) for i, mt, _ in expected
    ]
    for r, (_, _, sc) in zip(got, expected):
        assert r.score == pytest.approx(sc, abs=1e-6)


def test_ann_model_save_load_roundtrip_serves_index(spark):
    """The quantizers persist next to the codes table and round-trip
    bit-identically, so a FRESH session (simulated: everything re-read
    from the catalog, nothing from the fit's Python state) can probe
    and decode the materialized IVFADC index with identical results."""
    from healthcare_dbt_datamart_spark.llmops.similarity import (
        build_ivfpq_index,
        ivfadc_topk_indexed,
        kmeans_lloyd,
        load_ann_model,
        pq_codebooks_trained,
        save_ann_model,
    )

    rows = [
        (i, [float((i * 7 + d * 3) % 13) - 6.0 for d in range(16)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_lloyd(emb, k=4, n_iter=2)
    books = pq_codebooks_trained(emb, m=4, k=8, n_iter=2)
    build_ivfpq_index(emb, "ann_codes_rt", cents, books)
    save_ann_model(spark, "ann_model_rt", cents, books)

    lcents, lbooks = load_ann_model(spark, "ann_model_rt")
    assert lcents == cents  # doubles round-trip parquet exactly
    assert lbooks == books

    want = ivfadc_topk_indexed(
        emb, "ann_codes_rt", query_id=0, k=5, shortlist=12, nprobe=2,
        centroids=cents, codebooks=books,
    ).collect()
    got = ivfadc_topk_indexed(
        emb, "ann_codes_rt", query_id=0, k=5, shortlist=12, nprobe=2,
        centroids=lcents, codebooks=lbooks,
    ).collect()
    assert got == want
    spark.sql("DROP TABLE ann_codes_rt")
    spark.sql("DROP TABLE ann_model_rt")


def test_cms_never_underestimates_and_ranks_heavy_hitters(spark):
    """Count-min guarantees est >= exact for every term (each probe cell
    contains the term's own count plus collisions; min over d cells
    cannot drop below the true count); a term 10x hotter than the rest
    must surface in the top ranks; w must be a power of two."""
    from healthcare_dbt_datamart_spark.llmops.sketches import (
        cms_heavy_hitters,
        cms_sketch,
    )

    rows = [(i, "hot " * 10 + f"cold{i} rare{i % 7}") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = cms_heavy_hitters(df, k=30, w=256, d=4).collect()
    assert all(r.overestimate >= 0 for r in out)
    assert out[0].term == "hot" and out[0].exact_cnt == 500
    # sketch is bounded state: at most d*w cells regardless of corpus
    n_cells = cms_sketch(
        df.selectExpr("explode(split(text, ' ')) AS term"), w=256, d=4
    ).count()
    assert n_cells <= 4 * 256

    import pytest as _p

    with _p.raises(ValueError):
        cms_heavy_hitters(df, w=1000)


def test_hll_estimate_accuracy_and_small_range_correction(spark):
    """HLL relative error stays within ~4x the theoretical sigma
    (1.04/sqrt(1024) ~ 3.25%) on a 5000-distinct stream, and the
    small-range linear-counting branch makes tiny cardinalities nearly
    exact. Runs are bit-deterministic (md5 hashing, no randomness)."""
    from healthcare_dbt_datamart_spark.llmops.sketches import hll_cardinality

    big = spark.range(5000).selectExpr("concat('item-', id) AS v")
    r1 = hll_cardinality(big, "v", b=10).collect()[0]
    r2 = hll_cardinality(big, "v", b=10).collect()[0]
    assert r1 == r2
    assert r1.n_exact == 5000
    assert r1.rel_error < 0.13

    small = spark.range(40).selectExpr("concat('s-', id) AS v")
    rs = hll_cardinality(small, "v", b=10).collect()[0]
    assert rs.n_exact == 40
    assert abs(rs.hll_estimate - 40) <= 2  # linear counting regime


def test_streaming_cms_ingest_matches_batch_sketch(spark, tmp_path):
    """Streamed CMS maintenance: micro-batches sum-merge into the
    persistent sketch table and the final cells equal the batch-built
    sketch over the whole corpus (associative merge), the ledger row
    makes replayed batch ids no-ops, and the table never exceeds d*w
    cells + 1 meta row."""
    from healthcare_dbt_datamart_spark.llmops.sketches import cms_sketch
    from healthcare_dbt_datamart_spark.streaming.sketches import (
        cms_merge_batch,
        streaming_cms_ingest,
    )

    rows = [(i, f"t{i % 11}") for i in range(300)]
    toks = spark.createDataFrame(rows, "doc_id long, term string")
    expected = sorted(
        (r.seed, r.bucket, r.cnt)
        for r in cms_sketch(toks, w=64, d=3).collect()
    )

    src = tmp_path / "cms_src"
    src.mkdir()
    # three files -> availableNow slices them into micro-batches
    for part in range(3):
        toks.filter(F.col("doc_id") % 3 == part).write.mode(
            "overwrite"
        ).parquet(str(src / f"b{part}"))
    spark.sql("DROP TABLE IF EXISTS cms_stream_t")
    stream = spark.readStream.schema(toks.schema).parquet(str(src / "*"))
    q = streaming_cms_ingest(
        stream, "cms_stream_t", w=64, d=3,
        checkpoint_dir=str(tmp_path / "cms_ckpt"),
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    final = spark.table("cms_stream_t")
    got = sorted(
        (r.seed, r.bucket, r.cnt)
        for r in final.filter(F.col("seed") >= 0).collect()
    )
    assert got == expected
    assert final.count() <= 3 * 64 + 1

    # replaying an applied batch id is a no-op (the crash-replay path)
    mark = final.filter(F.col("seed") == -1).collect()[0].cnt
    applied = cms_merge_batch(
        spark, "cms_stream_t", cms_sketch(toks, w=64, d=3), mark
    )
    assert applied is False
    again = sorted(
        (r.seed, r.bucket, r.cnt)
        for r in spark.table("cms_stream_t").filter(F.col("seed") >= 0).collect()
    )
    assert again == expected
    # a NEW batch id merges: every cell count doubles
    assert cms_merge_batch(
        spark, "cms_stream_t", cms_sketch(toks, w=64, d=3), mark + 1
    )
    doubled = sorted(
        (r.seed, r.bucket, r.cnt)
        for r in spark.table("cms_stream_t").filter(F.col("seed") >= 0).collect()
    )
    assert doubled == [(s, b, 2 * c) for s, b, c in expected]
    spark.sql("DROP TABLE cms_stream_t")


def test_streaming_hll_ingest_matches_batch_registers(spark, tmp_path):
    """Streamed HLL maintenance: micro-batch registers max-merge into
    the persistent table and equal the batch-built registers over the
    whole corpus; re-applying a batch is a no-op WITHOUT any ledger
    (max is idempotent — the property the docstring claims); the live
    table estimate equals the batch hll_cardinality estimate."""
    from healthcare_dbt_datamart_spark.llmops.sketches import (
        hll_cardinality,
        hll_registers,
    )
    from healthcare_dbt_datamart_spark.streaming.sketches import (
        hll_merge_batch,
        hll_table_estimate,
        streaming_hll_ingest,
    )

    rows = [(i, f"user_{i % 137}") for i in range(600)]
    vals = spark.createDataFrame(rows, "seq long, v string")
    expected = sorted(
        (r.bucket, r.mj) for r in hll_registers(vals, "v", b=8).collect()
    )

    src = tmp_path / "hll_src"
    src.mkdir()
    for part in range(3):
        vals.filter(F.col("seq") % 3 == part).write.mode(
            "overwrite"
        ).parquet(str(src / f"b{part}"))
    spark.sql("DROP TABLE IF EXISTS hll_stream_t")
    stream = spark.readStream.schema(vals.schema).parquet(str(src / "*"))
    q = streaming_hll_ingest(
        stream, "hll_stream_t", "v", b=8,
        checkpoint_dir=str(tmp_path / "hll_ckpt"),
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(
        (r.bucket, r.mj) for r in spark.table("hll_stream_t").collect()
    )
    assert got == expected
    assert spark.table("hll_stream_t").count() <= 256

    # replaying ANY batch (here: the whole corpus) leaves the table
    # bit-identical — idempotence, the no-ledger justification
    hll_merge_batch(spark, "hll_stream_t", hll_registers(vals, "v", b=8))
    again = sorted(
        (r.bucket, r.mj) for r in spark.table("hll_stream_t").collect()
    )
    assert again == expected

    est = hll_table_estimate(spark, "hll_stream_t", b=8).collect()[0]
    batch = hll_cardinality(vals, "v", b=8).collect()[0]
    assert est.m == 256
    assert est.hll_estimate == batch.hll_estimate
    spark.sql("DROP TABLE hll_stream_t")


def test_hll_by_group_matches_duckdb_replay_and_accuracy(spark):
    """Group-wise HLL: the integer register fold replays EXACTLY in
    DuckDB (same md5 hashing, same scaled-BIGINT harmonic sum — the
    oracle-parity evidence a driver window slot would give), estimates
    land within the b=10 error envelope, and the scaled sum is
    bit-stable under repartitioning."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.sketches import hll_by_group

    rows = [(f"g{i % 3}", f"u{(i * 7919) % (50 * (1 + i % 3))}") for i in range(4000)]
    df = spark.createDataFrame(rows, "grp string, v string")
    got = {
        r.grp: (r.m, r.n_exact, r.hll_estimate, r.rel_error)
        for r in hll_by_group(df, "grp", "v", b=10).collect()
    }
    assert set(got) == {"g0", "g1", "g2"}
    for m, n_exact, est, rel in got.values():
        assert m == 1024
        # b=10 standard error is ~3.25%; linear counting is tighter
        assert rel <= 0.1, (n_exact, est)

    # exact DuckDB replay of the integer fold (the oracle SQL shape)
    num = 0.7213 / (1.0 + 1.079 / 1024) * 1024 * 1024 * float(1 << 51)
    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(f"""
        WITH parts AS (
          SELECT grp, h60 >> 50 AS bucket, h60 & ((1::BIGINT << 50) - 1) AS rem
          FROM (SELECT grp, ('0x' || substr(md5(v), 1, 15))::BIGINT AS h60 FROM t)
        ),
        regs AS (
          SELECT grp, bucket,
                 max(CASE WHEN rem = 0 THEN 51
                     ELSE 50 - length(bin(rem)) + 1 END) AS mj
          FROM parts GROUP BY 1, 2
        ),
        folded AS (
          SELECT grp, COUNT(*) AS n_obs,
                 SUM(1::BIGINT << (51 - mj)) AS s_obs
          FROM regs GROUP BY 1
        ),
        scored AS (
          SELECT grp,
                 {num!r} / CAST(s_obs + (1024 - n_obs) * (1::BIGINT << 51)
                                AS DOUBLE) AS e_raw,
                 1024 - n_obs AS v_zero
          FROM folded
        ),
        exact AS (SELECT grp, COUNT(DISTINCT v) AS n_exact FROM t GROUP BY 1)
        SELECT s.grp, 1024 AS m, n_exact,
               round(CASE WHEN e_raw <= 2560.0 AND v_zero > 0
                          THEN 1024.0 * ln(1024.0 / v_zero)
                          ELSE e_raw END, 6) AS hll_estimate,
               round(abs(CASE WHEN e_raw <= 2560.0 AND v_zero > 0
                              THEN 1024.0 * ln(1024.0 / v_zero)
                              ELSE e_raw END - n_exact) / n_exact, 6)
                 AS rel_error
        FROM scored s JOIN exact e USING (grp)
        """).fetchall()
    }
    assert got == oracle

    reparted = {
        r.grp: (r.m, r.n_exact, r.hll_estimate, r.rel_error)
        for r in hll_by_group(
            df.repartition(13), "grp", "v", b=10
        ).collect()
    }
    assert reparted == got


def test_streaming_weighted_reservoir_matches_batch_sample(spark, tmp_path):
    """Streamed weighted reservoir: min-k merging per-batch race
    winners equals the batch weighted_sample over the whole corpus
    (min-k of union == min-k of history), replaying a batch is a no-op
    without any ledger, and state never exceeds k rows."""
    from healthcare_dbt_datamart_spark.llmops.splits import weighted_sample
    from healthcare_dbt_datamart_spark.streaming.sketches import (
        reservoir_merge_batch,
        streaming_weighted_reservoir,
    )

    rows = [(i, f"d{i}", float(1 + (i * 13) % 7)) for i in range(300)]
    df = spark.createDataFrame(rows, "seq long, id string, w double")
    expected = sorted(
        (r.id, r._wkey)
        for r in weighted_sample(df, "w", "id", k=10).collect()
    )

    src = tmp_path / "res_src"
    src.mkdir()
    for part in range(3):
        df.filter(F.col("seq") % 3 == part).write.mode(
            "overwrite"
        ).parquet(str(src / f"b{part}"))
    spark.sql("DROP TABLE IF EXISTS res_stream_t")
    stream = spark.readStream.schema(df.schema).parquet(str(src / "*"))
    q = streaming_weighted_reservoir(
        stream, "res_stream_t", "w", "id", k=10,
        checkpoint_dir=str(tmp_path / "res_ckpt"),
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(
        (r.id, r._wkey) for r in spark.table("res_stream_t").collect()
    )
    assert got == expected
    assert spark.table("res_stream_t").count() <= 10

    # replay: re-merging the full corpus's candidates changes nothing
    reservoir_merge_batch(
        spark, "res_stream_t", weighted_sample(df, "w", "id", k=10), 10,
        id_col="id",
    )
    again = sorted(
        (r.id, r._wkey) for r in spark.table("res_stream_t").collect()
    )
    assert again == expected
    spark.sql("DROP TABLE res_stream_t")


def test_logbucket_quantiles_accuracy_and_duckdb_replay(spark):
    """Log-bucket quantile sketch: estimates bracket the true rank
    value within the 2^-s relative envelope, the cells replay EXACTLY
    in DuckDB (pure bit arithmetic, no hashing, no floats until the
    final dyadic division), and sub-1 values are excluded."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.sketches import (
        logbucket_quantiles,
        logbucket_sketch,
    )

    vals = [int(1 + (i * i * 7919) % 100000) for i in range(5000)] + [0, -5]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = {r.q: (r.est, r.n) for r in logbucket_quantiles(df, "x").collect()}
    pos = sorted(v for v in vals if v >= 1)
    assert all(n == len(pos) for _, n in got.values())
    import math

    for q, (est, n) in got.items():
        true = pos[math.ceil(q * n) - 1]
        assert true <= est <= true * (1 + 2 ** -4) + 1, (q, est, true)

    cells = sorted(
        (r.b, r.m, r.cnt) for r in logbucket_sketch(df, "x").collect()
    )
    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = sorted(
        tuple(r)
        for r in con.execute("""
        SELECT length(bin(x)) AS b,
               (x << 4) >> (length(bin(x)) - 1) AS m,
               COUNT(*) AS cnt
        FROM t WHERE x >= 1 GROUP BY 1, 2
        """).fetchall()
    )
    assert cells == oracle


def test_streaming_logbucket_ingest_matches_batch_and_replay(spark, tmp_path):
    """Streamed quantile-sketch maintenance: micro-batch cells
    sum-merge into the persistent table equal to the batch-built
    sketch; the b=-1 ledger row makes replayed batch ids no-ops."""
    from healthcare_dbt_datamart_spark.llmops.sketches import logbucket_sketch
    from healthcare_dbt_datamart_spark.streaming.sketches import (
        logbucket_merge_batch,
        streaming_logbucket_ingest,
    )

    rows = [(i, int(1 + (i * 31) % 5000)) for i in range(900)]
    df = spark.createDataFrame(rows, "seq long, x long")
    expected = sorted(
        (r.b, r.m, r.cnt) for r in logbucket_sketch(df, "x").collect()
    )

    src = tmp_path / "lb_src"
    src.mkdir()
    for part in range(3):
        df.filter(F.col("seq") % 3 == part).write.mode("overwrite").parquet(
            str(src / f"b{part}")
        )
    spark.sql("DROP TABLE IF EXISTS lb_stream_t")
    stream = spark.readStream.schema(df.schema).parquet(str(src / "*"))
    q = streaming_logbucket_ingest(
        stream, "lb_stream_t", "x",
        checkpoint_dir=str(tmp_path / "lb_ckpt"),
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    data_rows = lambda: sorted(  # noqa: E731
        (r.b, r.m, r.cnt)
        for r in spark.table("lb_stream_t").filter(F.col("b") >= 0).collect()
    )
    assert data_rows() == expected

    mark = spark.table("lb_stream_t").filter(F.col("b") == -1).collect()[0].cnt
    assert logbucket_merge_batch(
        spark, "lb_stream_t", logbucket_sketch(df, "x"), mark
    ) is False
    assert data_rows() == expected
    assert logbucket_merge_batch(
        spark, "lb_stream_t", logbucket_sketch(df, "x"), mark + 1
    ) is True
    assert data_rows() == [(b, m, 2 * c) for b, m, c in expected]
    spark.sql("DROP TABLE lb_stream_t")


def test_ivfpq_index_upsert_merges_and_rewrites_only_touched_partitions(spark):
    """Index lifecycle's batch upsert: new ids append, a re-supplied id
    REPLACES its old row even when the new vector moves it to a
    different coarse cell; the merged table is row-identical to a
    from-scratch build over the merged vector set, the indexed search
    result matches that rebuild's exactly, the operation is idempotent,
    and — the scale claim — parquet files of UNTOUCHED cell partitions
    are byte-for-byte untouched (same paths, sizes, mtimes)."""
    import os

    import numpy as np

    from healthcare_dbt_datamart_spark.llmops.similarity import (
        build_ivfpq_index,
        ivfadc_topk_indexed,
        ivfpq_index_rows,
        ivfpq_index_upsert,
        kmeans_lloyd,
        pq_codebooks_trained,
    )

    rng = np.random.RandomState(7)
    rows = [
        (i, [float(x) for x in rng.normal(0, 1.0, 16)]) for i in range(90)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = kmeans_lloyd(emb, k=6, n_iter=2)
    books = pq_codebooks_trained(emb, m=2, k=4, n_iter=2)

    base_rows = [(i, v) for i, v in rows if i not in (7, 17)]
    base = spark.createDataFrame(
        base_rows, "vec_id long, embedding array<float>"
    )
    name, name2 = "ivfpq_upsert_test", "ivfpq_upsert_rebuild"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(f"DROP TABLE IF EXISTS {name2}")
    try:
        build_ivfpq_index(base, name, cents, books)
        tbl = spark.table(name)
        old_cell_of_3 = tbl.filter("vec_id = 3").collect()[0].cell

        # delta: the late-arriving ids (…7) plus id 3 RE-EMBEDDED with a
        # vector from a DIFFERENT cell, so the replacement moves cells
        donor_id = next(
            r.vec_id
            for r in tbl.filter(f"cell != {old_cell_of_3}")
            .orderBy("vec_id")
            .limit(1)
            .collect()
        )
        v_new = dict(rows)[donor_id]
        delta_rows = [(i, v) for i, v in rows if i in (7, 17)] + [(3, v_new)]
        delta = spark.createDataFrame(
            delta_rows, "vec_id long, embedding array<float>"
        )
        enc_delta = {
            r.vec_id: r.cell
            for r in ivfpq_index_rows(delta, cents, books).collect()
        }
        assert enc_delta[3] != old_cell_of_3, "fixture must exercise a cell move"
        touched = set(enc_delta.values()) | {old_cell_of_3}

        loc = next(
            r.data_type
            for r in spark.sql(f"DESCRIBE FORMATTED {name}").collect()
            if r.col_name.strip() == "Location"
        ).replace("file:", "")

        def snapshot(cells):
            out = {}
            for c in cells:
                d = os.path.join(loc, f"cell={c}")
                for f in sorted(os.listdir(d)):
                    p = os.path.join(d, f)
                    out[p] = (os.path.getsize(p), os.path.getmtime(p))
            return out

        all_cells = {r.cell for r in tbl.select("cell").distinct().collect()}
        untouched = all_cells - touched
        assert untouched, "fixture must leave at least one untouched cell"
        before = snapshot(untouched)

        ivfpq_index_upsert(delta, name, cents, books)

        # untouched partitions: files byte-identical
        assert snapshot(untouched) == before

        # merged table == from-scratch encode of the merged vector set
        final = {i: v for i, v in base_rows}
        final.update(dict(delta_rows))
        merged = spark.createDataFrame(
            sorted(final.items()), "vec_id long, embedding array<float>"
        )
        expect = {
            (r.vec_id, tuple(r.codes), r.cell)
            for r in ivfpq_index_rows(merged, cents, books).collect()
        }
        got = {
            (r.vec_id, tuple(r.codes), r.cell)
            for r in spark.table(name).collect()
        }
        assert got == expect

        # search parity vs a full rebuild over the merged set
        build_ivfpq_index(merged, name2, cents, books)
        kwargs = dict(
            query_id=3, k=5, shortlist=15, nprobe=2,
            centroids=cents, codebooks=books,
        )
        assert [
            tuple(r) for r in ivfadc_topk_indexed(merged, name, **kwargs).collect()
        ] == [
            tuple(r) for r in ivfadc_topk_indexed(merged, name2, **kwargs).collect()
        ]

        # idempotent: re-running the same upsert changes nothing
        ivfpq_index_upsert(delta, name, cents, books)
        again = {
            (r.vec_id, tuple(r.codes), r.cell)
            for r in spark.table(name).collect()
        }
        assert again == expect
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"DROP TABLE IF EXISTS {name2}")


def test_logbucket_quantiles_grouped_matches_per_group_and_replay(spark):
    """Group-keyed log-bucket quantiles: each group's (q, est, n) equals
    running the ungrouped sketch on that group alone (window partitioning
    is exact, no cross-group bleed), and the grouped CELLS replay exactly
    in DuckDB. All windows partition by the group — no single-partition
    stage at any group count."""
    import duckdb

    from healthcare_dbt_datamart_spark.llmops.sketches import (
        logbucket_quantiles,
        logbucket_sketch,
    )

    rows = [
        (f"g{i % 3}", int(1 + (i * i * 104729) % (1000 * (1 + i % 3))))
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "grp string, x long")
    got = {
        (r.grp, r.q): (r.est, r.n)
        for r in logbucket_quantiles(df, "x", group_col="grp").collect()
    }
    assert {g for g, _ in got} == {"g0", "g1", "g2"}
    for g in ("g0", "g1", "g2"):
        solo = {
            r.q: (r.est, r.n)
            for r in logbucket_quantiles(
                df.filter(F.col("grp") == g), "x"
            ).collect()
        }
        assert {q: got[(g, q)] for _, q in got if _ == g} == solo

    cells = sorted(
        (r.grp, r.b, r.m, r.cnt)
        for r in logbucket_sketch(df, "x", group_col="grp").collect()
    )
    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = sorted(
        tuple(r)
        for r in con.execute("""
        SELECT grp, length(bin(x)) AS b,
               (x << 4) >> (length(bin(x)) - 1) AS m, COUNT(*) AS cnt
        FROM t WHERE x >= 1 GROUP BY 1, 2, 3
        """).fetchall()
    )
    assert cells == oracle


def test_hard_negatives_properties_and_recall_vs_bruteforce(spark):
    """Hard-negative mining: every returned negative has a different
    label than its anchor, ranks order by descending cosine with the id
    tiebreak, nothing exceeds k, the output is deterministic, and the
    LSH-candidate miner recovers most of the brute-force top-k hard
    negatives on a clustered fixture (the linear-vs-n² trade's recall
    epsilon, measured)."""
    import numpy as np

    from healthcare_dbt_datamart_spark.llmops.similarity import (
        hard_negatives,
    )

    rng = np.random.RandomState(23)
    base = rng.normal(0, 1, 16)
    # overlapping classes — the regime where hard negatives exist
    centers = {0: base, 1: base + rng.normal(0, 0.35, 16)}
    rows = []
    for i in range(120):
        lab = i % 2
        v = centers[lab] + rng.normal(0, 0.45, 16)
        rows.append((i, [float(x) for x in v], lab))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = hard_negatives(
        emb, k=3, dims=tuple(range(16)), band_size=4
    ).collect()
    assert len(out) > 100  # candidates exist: classes genuinely overlap
    labs = {i: lab for i, _, lab in rows}
    by_anchor: dict = {}
    for r in out:
        assert labs[r.anchor_id] != labs[r.negative_id]
        by_anchor.setdefault(r.anchor_id, []).append(
            (r.neg_rank, r.cosine, r.negative_id)
        )
    for a, negs in by_anchor.items():
        negs.sort()
        assert [rk for rk, _, _ in negs] == list(range(1, len(negs) + 1))
        assert len(negs) <= 3
        cosines = [c for _, c, _ in negs]
        assert cosines == sorted(cosines, reverse=True)

    again = hard_negatives(
        emb, k=3, dims=tuple(range(16)), band_size=4
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    # brute-force reference: exact top-3 cross-label cosine per anchor
    import itertools

    vecs = {i: np.array(v) for i, v, _ in rows}

    def cos(a, b):
        return float(
            np.dot(vecs[a], vecs[b])
            / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
        )

    hits = total = 0
    for a in vecs:
        ranked = sorted(
            (b for b in vecs if labs[b] != labs[a]),
            key=lambda b: (-cos(a, b), b),
        )[:3]
        got = {n for _, _, n in by_anchor.get(a, [])}
        hits += len(got & set(ranked))
        total += 3
    recall = hits / total
    assert recall >= 0.5, recall  # banded-LSH candidate recall


def test_contrastive_triplets_structure_and_margins(spark):
    """Triplet assembly: positives share the anchor's label, negatives
    don't, margins equal pos−neg cosine, per-anchor fan-out is bounded
    by k_pos·k_neg, hard_negatives' rows reappear as the triplets'
    negative side (shared candidate base), and the output is
    deterministic."""
    import numpy as np

    from healthcare_dbt_datamart_spark.llmops.similarity import (
        contrastive_triplets,
        hard_negatives,
    )

    rng = np.random.RandomState(29)
    base = rng.normal(0, 1, 16)
    centers = {0: base, 1: base + rng.normal(0, 0.35, 16)}
    rows = [
        (i, [float(x) for x in centers[i % 2] + rng.normal(0, 0.45, 16)], i % 2)
        for i in range(100)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    kw = dict(dims=tuple(range(16)), band_size=4)
    out = contrastive_triplets(emb, k_pos=2, k_neg=2, **kw).collect()
    assert out
    labs = {i: lab for i, _, lab in rows}
    per_anchor: dict = {}
    for r in out:
        assert labs[r.anchor_id] == labs[r.positive_id]
        assert labs[r.anchor_id] != labs[r.negative_id]
        assert r.margin == round(r.pos_cosine - r.neg_cosine, 6)
        per_anchor[r.anchor_id] = per_anchor.get(r.anchor_id, 0) + 1
    assert max(per_anchor.values()) <= 4  # k_pos * k_neg

    negs = hard_negatives(emb, k=2, **kw).collect()
    neg_pairs = {(r.anchor_id, r.negative_id) for r in negs}
    tri_negs = {(r.anchor_id, r.negative_id) for r in out}
    assert tri_negs <= neg_pairs  # anchors w/o positives drop out only

    again = contrastive_triplets(emb, k_pos=2, k_neg=2, **kw).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_ivfpq_index_upsert_clears_vacated_partition(spark):
    """The vacated-to-empty cell case: re-embedding EVERY vector of a
    cell moves them all elsewhere; the emptied partition must be
    dropped, not left serving stale pre-re-embed rows (which would also
    duplicate the moved ids)."""
    import numpy as np

    from healthcare_dbt_datamart_spark.llmops.similarity import (
        build_ivfpq_index,
        ivfpq_index_rows,
        ivfpq_index_upsert,
        kmeans_lloyd,
        pq_codebooks_trained,
    )

    rng = np.random.RandomState(31)
    rows = [
        (i, [float(x) for x in rng.normal(0, 1.0, 16)]) for i in range(70)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = kmeans_lloyd(emb, k=5, n_iter=2)
    books = pq_codebooks_trained(emb, m=2, k=4, n_iter=2)
    name = "ivfpq_vacate_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        build_ivfpq_index(emb, name, cents, books)
        pops = {
            r.cell: r.n
            for r in spark.table(name)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        victim = min(pops, key=pops.get)
        moved = [
            r.vec_id
            for r in spark.table(name).filter(F.col("cell") == victim).collect()
        ]
        donor_vec = next(
            v for i, v in rows
            if i not in moved
        )
        delta_rows = [(i, donor_vec) for i in moved]
        delta = spark.createDataFrame(
            delta_rows, "vec_id long, embedding array<float>"
        )
        ivfpq_index_upsert(delta, name, cents, books)

        after = spark.table(name)
        assert after.filter(F.col("cell") == victim).count() == 0
        assert after.count() == 70  # no duplicated ids
        assert after.select("vec_id").distinct().count() == 70
        final = {i: v for i, v in rows}
        final.update(dict(delta_rows))
        expect = {
            (r.vec_id, tuple(r.codes), r.cell)
            for r in ivfpq_index_rows(
                spark.createDataFrame(
                    sorted(final.items()), "vec_id long, embedding array<float>"
                ),
                cents, books,
            ).collect()
        }
        got = {(r.vec_id, tuple(r.codes), r.cell) for r in after.collect()}
        assert got == expect
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_lsh_band_remainder_and_precount_parity(spark):
    """Review regressions: (1) a band_size that doesn't divide
    num_hashes emits a SHORTER final band instead of silently dropping
    the remainder minhashes — docs agreeing only there must still
    collide; (2) candidate_pairs' precount path (bounded aggregation
    buffers) emits the identical pair set as the single-pass default."""
    from healthcare_dbt_datamart_spark.llmops.dedup import (
        candidate_pairs,
        lsh_band_buckets,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "totally different words here nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs, "text", "doc_id", num_hashes=8)
    # 8 hashes, band_size 3 -> bands of 3,3,2: all 8 hashes covered
    b = lsh_band_buckets(sigs, "doc_id", num_hashes=8, band_size=3)
    assert b.select("band_idx").distinct().count() == 3
    # full-coverage invariant: union of banded hash positions == 8
    # (structural check: 3 bands exist; the shorter final band is real
    # because its keys differ from a 3-hash band's would-be keys)
    pairs_rem = {
        (r.id_a, r.id_b) for r in candidate_pairs(b, "doc_id").collect()
    }
    assert (1, 2) in pairs_rem  # near-dups still collide

    # precount parity on the standard banding
    b2 = lsh_band_buckets(sigs, "doc_id", num_hashes=8, band_size=2)
    default = {
        (r.id_a, r.id_b)
        for r in candidate_pairs(b2, "doc_id", max_bucket=10).collect()
    }
    pre = {
        (r.id_a, r.id_b)
        for r in candidate_pairs(
            b2, "doc_id", max_bucket=10, precount=True
        ).collect()
    }
    assert default == pre
    # and with a max_bucket that actually drops a bucket
    tiny = {
        (r.id_a, r.id_b)
        for r in candidate_pairs(
            b2, "doc_id", max_bucket=1, precount=True
        ).collect()
    }
    tiny_default = {
        (r.id_a, r.id_b)
        for r in candidate_pairs(b2, "doc_id", max_bucket=1).collect()
    }
    assert tiny == tiny_default == set()


def test_streaming_pipeline_guard_ingest_release_end_to_end(spark, tmp_path):
    """The full streaming corpus loop in ONE flow — guard → ingest →
    release: an arriving document batch passes the LSH near-dup GUARD
    against the live corpus; only admitted docs' embeddings stream
    through the frozen-quantizer IVFPQ INGEST, appending
    partitionBy(cell) into the batch-built serving index; the RELEASE
    manifest materializes through the registry runtime; and the grown
    index serves ivfadc_topk_indexed answers row-for-row identical to a
    full batch ivfadc_topk over corpus + admitted vectors — while the
    rejected near-dup's vector provably never enters the index."""
    import numpy as np

    from healthcare_dbt_datamart_spark.llmops.similarity import (
        build_ivfpq_index,
        ivfadc_topk,
        ivfadc_topk_indexed,
        kmeans_lloyd,
        pq_codebooks_trained,
    )
    from healthcare_dbt_datamart_spark.plans import ModelRegistry
    from healthcare_dbt_datamart_spark.streaming.dedup_join import (
        streaming_ivfpq_ingest,
    )
    from healthcare_dbt_datamart_spark.streaming.guard import (
        streaming_near_dup_guard,
    )

    # --- live corpus: docs + their embeddings + the batch-built index
    base = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"z{i}" for i in range(30))
    corpus_docs = spark.createDataFrame(
        [(100, base), (101, other)], ["doc_id", "text"]
    )
    rng = np.random.RandomState(41)
    # vec ids 0..k-1 satisfy the deterministic low-id Lloyd seed rule;
    # arrival vectors land at 200 + doc_id so the id spaces never collide
    corp_vecs = [
        (i, [float(x) for x in rng.normal(0, 1.0, 8)]) for i in (0, 1)
    ]
    corpus_emb = spark.createDataFrame(
        corp_vecs, "vec_id long, embedding array<double>"
    )
    cents = kmeans_lloyd(corpus_emb, k=2, n_iter=2)
    books = pq_codebooks_trained(corpus_emb, m=2, k=2, n_iter=2)
    spark.sql("DROP TABLE IF EXISTS e2e_index")
    build_ivfpq_index(corpus_emb, "e2e_index", cents, books)
    assert spark.table("e2e_index").count() == 2

    # --- arrivals: doc 1 is a near-twin of corpus doc 100 (must be
    #     rejected), doc 2 is fresh (must be admitted)
    schema = "doc_id long, ts timestamp, text string"
    arrivals = [
        (1, datetime(2024, 1, 1, 10, 0), base + " extra"),
        (2, datetime(2024, 1, 1, 10, 1), " ".join(f"q{i}" for i in range(30))),
    ]
    arr_vecs = [
        (200 + i, [float(x) for x in rng.normal(0, 1.0, 8)]) for i in (1, 2)
    ]
    src = tmp_path / "e2e_docs"
    src.mkdir()
    spark.createDataFrame(arrivals, schema).write.parquet(str(src / "b1"))

    # --- stage 1: GUARD — stream the arrivals against the corpus
    q = (
        streaming_near_dup_guard(
            spark.readStream.schema(schema).parquet(str(src / "*")),
            corpus_docs, "text", "doc_id", "ts", threshold=0.7,
        )
        .writeStream.format("memory")
        .queryName("e2e_guard")
        .option("checkpointLocation", str(tmp_path / "e2e_guard_ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # far-future nudge closes the 10:00 window under append mode
        spark.createDataFrame(
            [(9, datetime(2024, 1, 1, 12, 0), "nudge")], schema
        ).write.parquet(str(src / "b2"))
        q.processAllAvailable()
        rejected = {
            r.doc_id
            for r in spark.table("e2e_guard").collect()
            if r.is_near_dup == 1
        }
    finally:
        q.stop()
    assert rejected == {1}

    # --- stage 2: INGEST — only admitted embeddings feed the index
    emb_schema = "vec_id long, embedding array<double>"
    esrc = tmp_path / "e2e_emb"
    esrc.mkdir()
    spark.createDataFrame(arr_vecs, emb_schema).write.parquet(
        str(esrc / "b1")
    )
    admitted_stream = (
        spark.readStream.schema(emb_schema)
        .parquet(str(esrc / "*"))
        .filter(~F.col("vec_id").isin(*sorted(200 + d for d in rejected)))
    )
    q2 = (
        streaming_ivfpq_ingest(admitted_stream, cents, books)
        .writeStream.foreachBatch(
            lambda b, _eid: b.write.mode("append")
            .partitionBy("cell")
            .saveAsTable("e2e_index")
        )
        .option("checkpointLocation", str(tmp_path / "e2e_ingest_ckpt"))
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    spark.catalog.refreshTable("e2e_index")
    idx_ids = {r.vec_id for r in spark.table("e2e_index").collect()}
    assert idx_ids == {0, 1, 202}  # grown by the admitted doc only

    # --- stage 3: RELEASE — the manifest materializes via the registry
    r = ModelRegistry(spark)

    @r.model(materialized="table")
    def e2e_index_release(ctx):
        return (
            spark.table("e2e_index")
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_codes"))
        )

    r.run()
    manifest = {
        row.cell: row.n_codes
        for row in spark.table("e2e_index_release").collect()
    }
    assert sum(manifest.values()) == 3

    # --- serve: the grown index answers exactly like a batch rebuild
    served_emb = corpus_emb.unionByName(
        spark.createDataFrame([v for v in arr_vecs if v[0] == 202], emb_schema)
    )
    via_index = [
        tuple(r)
        for r in ivfadc_topk_indexed(
            served_emb, "e2e_index", query_id=0, k=3, shortlist=3,
            nprobe=2, centroids=cents, codebooks=books,
        ).collect()
    ]
    via_batch = [
        tuple(r)
        for r in ivfadc_topk(
            served_emb, query_id=0, k=3, shortlist=3, n_centroids=2,
            nprobe=2, m=2, n_codes=2, centroids=cents, codebooks=books,
        ).collect()
    ]
    assert via_index == via_batch and len(via_index) == 2
    for t in ("e2e_index", "e2e_index_release"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_exact_substr_spans_rejects_unknown_keeper_rule(spark):
    """The shared ExactSubstr pipeline has exactly two span predicates;
    a typo'd keeper_rule must fail loudly, not silently pick one."""
    from healthcare_dbt_datamart_spark.llmops.dedup import (
        _exact_substr_spans,
    )

    df = spark.createDataFrame([(1, "abcdef")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="keeper_rule"):
        _exact_substr_spans(df, "text", "doc_id", 3, keeper_rule="typo")


def test_streaming_calibration_ingest_matches_batch_and_replay(spark, tmp_path):
    """Streamed calibration maintenance: micro-batch cells sum-merge
    into the persistent table, the live scorecard from the merged
    cells equals calibration_summary over everything ingested
    (batch-parity, every field), and the bin=-2 ledger makes replayed
    batch ids no-ops."""
    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        _bin_cells,
        calibration_summary,
    )
    from healthcare_dbt_datamart_spark.streaming.evaluation import (
        calib_cells_merge_batch,
        calibration_from_cells,
        streaming_calibration_ingest,
    )

    rows = [
        (i, ((i * 37) % 97) / 96.0, 1 if ((i * 13) % 29) / 29.0 < ((i * 37) % 97) / 96.0 else 0)
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "seq long, score double, label int")
    expected = calibration_summary(df, "score", "label").collect()[0]

    src = tmp_path / "cal_src"
    src.mkdir()
    for part in range(3):
        df.filter(F.col("seq") % 3 == part).write.mode("overwrite").parquet(
            str(src / f"b{part}")
        )
    spark.sql("DROP TABLE IF EXISTS cal_stream_t")
    stream = spark.readStream.schema(df.schema).parquet(str(src / "*"))
    q = streaming_calibration_ingest(
        stream, "cal_stream_t", "score", "label",
        checkpoint_dir=str(tmp_path / "cal_ckpt"),
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    got = calibration_from_cells(spark, "cal_stream_t").collect()[0]
    assert got == expected  # every field: counts AND ece/mce/brier

    # replayed batch id is a no-op; a fresh id double-counts (sum-merge)
    mark = (
        spark.table("cal_stream_t").filter(F.col("bin") == -2).collect()[0].n
    )
    cells = _bin_cells(df, "score", "label", 10, 10**6)
    assert calib_cells_merge_batch(spark, "cal_stream_t", cells, mark) is False
    assert calibration_from_cells(spark, "cal_stream_t").collect()[0] == expected
    assert calib_cells_merge_batch(
        spark, "cal_stream_t", cells, mark + 1
    ) is True
    doubled = calibration_from_cells(spark, "cal_stream_t").collect()[0]
    assert doubled.n_rows == 2 * expected.n_rows
    # doubling every cell leaves the (scale-invariant) metrics fixed
    assert (doubled.ece, doubled.mce, doubled.brier) == (
        expected.ece, expected.mce, expected.brier,
    )
    spark.sql("DROP TABLE cal_stream_t")


def test_streaming_calibration_dirty_batch_raises_like_batch(spark):
    """The dirty-row counter cell from _bin_cells carries bin = NULL;
    the merge and the read-back filter must be NULL-safe so merged
    dirty counts survive (`bin != -2` on a NULL bin silently dropped
    the cell) and the live scorecard raises on dirty input exactly
    like the batch path — r7 ADVICE repro: a label=2 row made the
    batch path raise while the streamed path returned a scorecard
    over a silently reduced population."""
    import pytest

    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        _bin_cells,
        calibration_summary,
    )
    from healthcare_dbt_datamart_spark.streaming.evaluation import (
        calib_cells_merge_batch,
        calibration_from_cells,
    )

    clean = spark.createDataFrame(
        [(0, 0.2, 0), (1, 0.9, 1)], "seq long, score double, label int"
    )
    dirty = spark.createDataFrame(
        [(2, 0.5, 1), (3, 0.4, 2), (4, None, 0)],
        "seq long, score double, label int",
    )
    with pytest.raises(ValueError, match="NULL/NaN scores or"):
        calibration_summary(clean.unionByName(dirty), "score", "label")

    spark.sql("DROP TABLE IF EXISTS cal_dirty_t")
    for bid, batch in enumerate([clean, dirty]):
        assert calib_cells_merge_batch(
            spark,
            "cal_dirty_t",
            _bin_cells(batch, "score", "label", 10, 10**6),
            bid,
        ) is True
    # the NULL-bin dirty cell survived BOTH the merge filter and the
    # merge groupBy: 2 dirty rows are on the table...
    dirty_cells = (
        spark.table("cal_dirty_t").filter(F.col("bin").isNull()).collect()
    )
    assert len(dirty_cells) == 1 and dirty_cells[0].bad == 2
    # ...and the live scorecard raises, batch-parity preserved
    with pytest.raises(ValueError, match="NULL/NaN scores or"):
        calibration_from_cells(spark, "cal_dirty_t")
    spark.sql("DROP TABLE cal_dirty_t")


def test_batched_ann_serving_matches_single_query_operators(spark):
    """cosine_topk_batch / ivf_topk_batch are the multi-query faces of
    the single-query serving operators: per query, the batched result
    is row-for-row the single-query list (same scores, same
    deterministic tie order), missing query ids raise loudly, and the
    batch is layout-invariant."""
    import pytest

    from healthcare_dbt_datamart_spark.llmops.similarity import (
        cosine_topk,
        cosine_topk_batch,
        ivf_topk,
        ivf_topk_batch,
    )
    from healthcare_dbt_datamart_spark.models.testdata_queries import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    qids = [1, 7, 19, 42]

    bb = cosine_topk_batch(emb, qids, k=10).collect()
    assert {r.query_id for r in bb} == set(qids)
    for q in qids:
        single = [
            (r.vec_id, r.cosine)
            for r in cosine_topk(emb, query_id=q, k=10).collect()
        ]
        batch = [
            (r.vec_id, r.cosine)
            for r in sorted(
                (r for r in bb if r.query_id == q), key=lambda r: r.rank
            )
        ]
        assert batch == single, q

    ib = ivf_topk_batch(
        emb, qids, k=10, n_centroids=8, nprobe=2, n_iter=2
    ).collect()
    for q in qids:
        single = [
            (r.vec_id, r.cell, r.cosine)
            for r in ivf_topk(
                emb, query_id=q, k=10, n_centroids=8, nprobe=2, n_iter=2
            ).collect()
        ]
        batch = [
            (r.vec_id, r.cell, r.cosine)
            for r in sorted(
                (r for r in ib if r.query_id == q), key=lambda r: r.rank
            )
        ]
        assert batch == single, q

    # layout invariance
    ib13 = ivf_topk_batch(
        emb.repartition(13), qids, k=10, n_centroids=8, nprobe=2, n_iter=2
    ).collect()
    assert sorted(map(tuple, ib13)) == sorted(map(tuple, ib))

    with pytest.raises(ValueError, match="not found"):
        cosine_topk_batch(emb, [1, 10**9], k=5)
    with pytest.raises(ValueError, match="non-empty"):
        cosine_topk_batch(emb, [], k=5)


def test_index_release_gates_ann_serving_on_recall(spark):
    """The index-release DAG (models/index_release.py): the materialized
    cell-partitioned index serves the query panel, the brute pass is
    the judged oracle, padded misses (sentinel −2.0) never enter the
    system top-k, the scorecard's exact-integer release arithmetic
    matches a direct set-intersection recomputation, and the verdict is
    layout-invariant."""
    from healthcare_dbt_datamart_spark.models.index_release import (
        K_EVAL,
        RECALL_FLOOR,
        build_index_scorecard,
    )
    from healthcare_dbt_datamart_spark.models.testdata_queries import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    qids = [1, 7, 19, 42]
    r = build_index_scorecard(spark, emb, qids)

    ann = r.build("ann_results").collect()
    brute = r.build("brute_topk").collect()
    ann_by_q = {}
    for row in ann:
        ann_by_q.setdefault(row.query_id, set()).add(row.vec_id)
    brute_by_q = {}
    for row in brute:
        brute_by_q.setdefault(row.query_id, set()).add(row.vec_id)
    assert all(len(v) == K_EVAL for v in brute_by_q.values())
    assert all(len(v) == K_EVAL for v in ann_by_q.values())

    pool = r.build("judged_pool").collect()
    # padding accounting: one sentinel row per brute member the index
    # missed; rel marks exactly the brute members
    n_miss = sum(
        len(brute_by_q[q] - ann_by_q[q]) for q in brute_by_q
    )
    sentinels = [row for row in pool if row.score == -2.0]
    assert len(sentinels) == n_miss
    assert all(row.rel == 1 for row in sentinels)
    for row in pool:
        assert row.rel == (
            1 if row.vec_id in brute_by_q[row.query_id] else 0
        )

    sc = r.build("index_scorecard").collect()
    assert len(sc) == 1
    row = sc[0]
    assert (row.n_queries, row.k) == (len(qids), K_EVAL)
    # exact recomputation: per-query recall = |ann ∩ brute| / K, its
    # 6dp quantization is exact (m/10 -> m*100000), so the mean is an
    # exact integer ratio
    recall_fp = sum(
        len(ann_by_q[q] & brute_by_q[q]) * (10**6 // K_EVAL)
        for q in qids
    )
    assert row.mean_recall == round(recall_fp / (len(qids) * 10**6), 6)
    assert row.released == (
        recall_fp >= int(RECALL_FLOOR * 10**6) * len(qids)
    )
    assert 0.0 <= row.min_recall <= row.mean_recall
    assert row.mean_ndcg is not None and 0.0 <= row.mean_ndcg <= 1.0
    assert row.mean_mrr is not None and 0.0 < row.mean_mrr <= 1.0

    # layout invariance of the release verdict
    r13 = build_index_scorecard(spark, emb.repartition(13), qids)
    assert r13.build("index_scorecard").collect() == sc

    # the recall-vs-cost tuning curve: recall non-decreasing in nprobe,
    # cost strictly increasing, and probing EVERY cell IS the brute
    # scan — the last row pins recall = 1.0 and scanned = (N-1)·|Q|
    frontier = r.build("probe_frontier").collect()
    assert [f.nprobe for f in frontier] == [1, 2, 4, 8]
    recalls = [f.mean_recall for f in frontier]
    assert recalls == sorted(recalls)
    scanned = [f.candidates_scanned for f in frontier]
    assert scanned == sorted(scanned) and scanned[0] < scanned[-1]
    assert frontier[-1].mean_recall == 1.0
    n_vecs = emb.count()
    assert frontier[-1].candidates_scanned == (n_vecs - 1) * len(qids)
    # the default-nprobe row agrees with the scorecard's mean recall
    by_np = {f.nprobe: f for f in frontier}
    assert by_np[2].mean_recall == row.mean_recall


def test_streaming_auc_ingest_matches_batch_and_guards(spark, tmp_path):
    """Streamed AUC maintenance (the calibration twin for the ranking
    metric): merged quantized-score cells reproduce batch roc_auc at
    the same scale field-for-field, the kind='meta' ledger makes
    replayed batch ids no-ops, doubling every cell leaves AUC fixed
    (rank-sum invariance under uniform duplication), and a dirty batch
    makes the read-back raise exactly like the batch operator — the
    NULL-s_fp dirty cell is a real merge group, never filtered."""
    import pytest

    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        _quantized_cells,
        roc_auc,
    )
    from healthcare_dbt_datamart_spark.streaming.evaluation import (
        auc_cells_merge_batch,
        auc_from_cells,
        streaming_auc_ingest,
    )

    rows = [
        (i, ((i * 37) % 97) / 96.0,
         1 if ((i * 13) % 29) / 29.0 < ((i * 37) % 97) / 96.0 else 0)
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "seq long, score double, label int")
    expected = roc_auc(df, "score", "label", scale=10**4).collect()[0]

    src = tmp_path / "auc_src"
    src.mkdir()
    for part in range(3):
        df.filter(F.col("seq") % 3 == part).write.mode("overwrite").parquet(
            str(src / f"b{part}")
        )
    spark.sql("DROP TABLE IF EXISTS auc_stream_t")
    stream = spark.readStream.schema(df.schema).parquet(str(src / "*"))
    q = streaming_auc_ingest(
        stream, "auc_stream_t", "score", "label",
        checkpoint_dir=str(tmp_path / "auc_ckpt"),
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    got = auc_from_cells(spark, "auc_stream_t").collect()[0]
    assert got == expected  # every field incl. the exact AUC

    # ledger: replayed id is a no-op; a fresh id double-counts, and
    # uniform duplication leaves the rank-sum AUC fixed
    mark = (
        spark.table("auc_stream_t")
        .filter(F.col("kind") == "meta").collect()[0].cnt
    )
    cells = _quantized_cells(df, "score", "label", 10**4)
    assert auc_cells_merge_batch(spark, "auc_stream_t", cells, mark) is False
    assert auc_from_cells(spark, "auc_stream_t").collect()[0] == expected
    assert auc_cells_merge_batch(
        spark, "auc_stream_t", cells, mark + 1
    ) is True
    doubled = auc_from_cells(spark, "auc_stream_t").collect()[0]
    assert doubled.n_rows == 2 * expected.n_rows
    assert doubled.auc == expected.auc
    assert doubled.n_score_cells == expected.n_score_cells

    # dirty batch: the NULL-s_fp cell survives the merge and the
    # read-back raises like batch roc_auc
    dirty = spark.createDataFrame(
        [(9001, 0.5, 2), (9002, None, 0)],
        "seq long, score double, label int",
    )
    assert auc_cells_merge_batch(
        spark, "auc_stream_t",
        _quantized_cells(dirty, "score", "label", 10**4), mark + 2,
    ) is True
    null_cells = (
        spark.table("auc_stream_t")
        .filter(F.col("kind") == "cell")
        .filter(F.col("s_fp").isNull()).collect()
    )
    assert len(null_cells) == 1 and null_cells[0].bad == 2
    with pytest.raises(ValueError, match="NULL/NaN scores or"):
        auc_from_cells(spark, "auc_stream_t")
    spark.sql("DROP TABLE auc_stream_t")


def test_streaming_elo_ingest_period_parity_and_ledger(spark, tmp_path):
    """Streamed Elo (micro-batch = rating period): driving the merge
    core with explicit batch ids reproduces batch elo_ratings with
    period = batch index BIT-FOR-BIT (ratings, counts — the shared
    elo_update_period core), unseen items enter at the initial rating,
    the kind='meta' ledger makes replayed ids no-ops, a real
    availableNow stream lands the same totals, and a dirty batch
    raises like the batch operator."""
    import pytest

    from healthcare_dbt_datamart_spark.llmops.preferences import elo_ratings
    from healthcare_dbt_datamart_spark.streaming.sketches import (
        elo_merge_batch,
        elo_from_state,
        streaming_elo_ingest,
    )

    rows = []
    for per in range(3):
        for i in range(5):
            for j in range(i):
                if per == 0 and (i == 4 or j == 4):
                    continue  # p4 joins in period 1
                rows.append((f"p{i}", f"p{j}", per))
    m = spark.createDataFrame(rows, ["winner_id", "loser_id", "period"])
    expected = {
        r.item: tuple(r) for r in elo_ratings(m, k=32).collect()
    }

    spark.sql("DROP TABLE IF EXISTS elo_stream_t")
    for per in range(3):
        assert elo_merge_batch(
            spark, "elo_stream_t", m.filter(F.col("period") == per),
            batch_id=per, k=32,
        ) is True
    got = {
        r.item: tuple(r)
        for r in elo_from_state(spark, "elo_stream_t").collect()
    }
    assert got == expected

    # ledger: replaying the last period is a no-op
    assert elo_merge_batch(
        spark, "elo_stream_t", m.filter(F.col("period") == 2),
        batch_id=2, k=32,
    ) is False
    assert {
        r.item: tuple(r)
        for r in elo_from_state(spark, "elo_stream_t").collect()
    } == expected

    # dirty batch raises exactly like the batch operator
    dirty = spark.createDataFrame(
        [(None, "p0")], "winner_id string, loser_id string"
    )
    with pytest.raises(ValueError, match="NULL winner"):
        elo_merge_batch(spark, "elo_stream_t", dirty, batch_id=3)

    # real stream run (availableNow): totals land regardless of how
    # the source groups files into batches
    src = tmp_path / "elo_src"
    src.mkdir()
    flat = m.select("winner_id", "loser_id")
    for per in range(3):
        m.filter(F.col("period") == per).select(
            "winner_id", "loser_id"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"b{per}"))
    spark.sql("DROP TABLE IF EXISTS elo_stream_live")
    stream = spark.readStream.schema(flat.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src / "*"))
    q = streaming_elo_ingest(
        stream, "elo_stream_live",
        checkpoint_dir=str(tmp_path / "elo_ckpt"),
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    live = {
        r.item: (r.n_matches, r.wins)
        for r in elo_from_state(spark, "elo_stream_live").collect()
    }
    assert live == {
        k: (v[1], v[2]) for k, v in expected.items()
    }
    # conservation survives streaming: total rating mass is invariant
    mass = sum(
        r.rating_fp
        for r in elo_from_state(spark, "elo_stream_live").collect()
    )
    assert mass == 5 * 1000 * 10**6


def test_conformal_from_cells_matches_batch(spark):
    """The live conformal threshold from streamed score cells equals
    the batch conformal_report threshold at the same scale; dirty
    ingests raise; too-small calibration raises."""
    import pytest

    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        _quantized_cells,
        conformal_report,
    )
    from healthcare_dbt_datamart_spark.streaming.evaluation import (
        auc_cells_merge_batch,
        conformal_from_cells,
    )

    rows = [(i, ((i * 37) % 97) / 96.0, 0) for i in range(300)]
    df = spark.createDataFrame(rows, "seq long, score double, label int")
    expected = conformal_report(
        df, df.limit(1), "score", alpha=0.2, scale=10**4
    ).collect()[0]

    spark.sql("DROP TABLE IF EXISTS conf_cells_t")
    for part in range(3):
        cells = _quantized_cells(
            df.filter(F.col("seq") % 3 == part), "score", "label", 10**4
        )
        auc_cells_merge_batch(spark, "conf_cells_t", cells, part)
    got = conformal_from_cells(
        spark, "conf_cells_t", alpha=0.2, scale=10**4
    ).collect()[0]
    assert (got.n_cal, got.k, got.threshold) == (
        expected.n_cal, expected.k, expected.threshold,
    )

    with pytest.raises(ValueError, match="too small"):
        conformal_from_cells(spark, "conf_cells_t", alpha=0.001)

    dirty = _quantized_cells(
        spark.createDataFrame(
            [(1, None, 0)], "seq long, score double, label int"
        ),
        "score", "label", 10**4,
    )
    auc_cells_merge_batch(spark, "conf_cells_t", dirty, 3)
    with pytest.raises(ValueError, match="NULL"):
        conformal_from_cells(spark, "conf_cells_t", alpha=0.2)


def test_conformal_from_cells_null_label_is_dirty(spark):
    """A valid score with a NULL label lands in the dirty cell too, and
    the raise names the label as a cause, not only NULL scores: a
    label-free feed must ingest a constant 0/1 label."""
    import pytest

    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        _quantized_cells,
    )
    from healthcare_dbt_datamart_spark.streaming.evaluation import (
        auc_cells_merge_batch,
        conformal_from_cells,
    )

    df = spark.createDataFrame(
        [(i / 300.0, None) for i in range(300)], "score double, label int"
    )
    spark.sql("DROP TABLE IF EXISTS conf_nolabel_t")
    auc_cells_merge_batch(
        spark,
        "conf_nolabel_t",
        _quantized_cells(df, "score", "label", 10**4),
        0,
    )
    with pytest.raises(ValueError, match="label") as err:
        conformal_from_cells(spark, "conf_nolabel_t", alpha=0.2)
    assert "300 ingested rows" in str(err.value)


def test_wilson_from_streamed_pair_counts_matches_batch(spark):
    """The Wilson board re-derived from the streamed pair-count state
    equals wilson_winrate over the raw outcomes field-for-field — the
    bradley_terry_from_pairs incremental-parity property for the
    interval column."""
    from healthcare_dbt_datamart_spark.llmops.preferences import (
        wilson_from_pairs,
        wilson_winrate,
    )
    from healthcare_dbt_datamart_spark.streaming.sketches import (
        pref_counts_merge_batch,
    )

    rows = [
        (f"m{(i * 7) % 5}", f"m{(i * 3) % 5}")
        for i in range(200)
        if (i * 7) % 5 != (i * 3) % 5
    ]
    m = spark.createDataFrame(rows, ["winner_id", "loser_id"])
    expected = {r.item: tuple(r) for r in wilson_winrate(m).collect()}

    spark.sql("DROP TABLE IF EXISTS wfp_t")
    third = len(rows) // 3
    batches = [rows[:third], rows[third:2 * third], rows[2 * third:]]
    for bid, b in enumerate(batches):
        pref_counts_merge_batch(
            spark, "wfp_t",
            spark.createDataFrame(b, ["winner_id", "loser_id"]), bid,
        )
    got = {
        r.item: tuple(r)
        for r in wilson_from_pairs(spark.table("wfp_t")).collect()
    }
    assert got == expected


def test_streaming_mcnemar_ingest_matches_batch_and_guards(spark, tmp_path):
    """Streamed paired-classifier maintenance: the SUM-merged
    five-integer contingency cell reproduces batch mcnemar_test
    field-for-field over everything ingested, the kind='meta' ledger
    makes replayed batch ids no-ops, and a dirty ingest makes the
    read-back raise exactly like the batch operator."""
    import pytest

    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        _contingency_cells,
        mcnemar_test,
    )
    from healthcare_dbt_datamart_spark.streaming.evaluation import (
        mcnemar_cells_merge_batch,
        mcnemar_from_cells,
        streaming_mcnemar_ingest,
    )

    rows = [
        (i, 1 if (i * 7) % 10 < 6 else 0, 1 if (i * 3) % 10 < 5 else 0)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "seq long, ca int, cb int")
    expected = mcnemar_test(df, "ca", "cb").collect()[0]

    src = tmp_path / "mcn_src"
    src.mkdir()
    for part in range(3):
        df.filter(F.col("seq") % 3 == part).write.mode("overwrite").parquet(
            str(src / f"b{part}")
        )
    spark.sql("DROP TABLE IF EXISTS mcn_stream_t")
    stream = spark.readStream.schema(df.schema).parquet(str(src / "*"))
    q = streaming_mcnemar_ingest(
        stream, "mcn_stream_t", "ca", "cb",
        checkpoint_dir=str(tmp_path / "mcn_ckpt"),
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    got = mcnemar_from_cells(spark, "mcn_stream_t").collect()[0]
    assert tuple(got) == tuple(expected)  # field-for-field batch parity

    # replayed batch id is a no-op (exactly-once ledger)
    mark = [
        r.rr for r in spark.table("mcn_stream_t")
        .filter(F.col("kind") == "meta").collect()
    ][0]
    cells = _contingency_cells(df, "ca", "cb")
    assert mcnemar_cells_merge_batch(
        spark, "mcn_stream_t", cells, int(mark)
    ) is False
    assert tuple(
        mcnemar_from_cells(spark, "mcn_stream_t").collect()[0]
    ) == tuple(expected)

    # a NEW batch merges: doubling every count keeps chi2's scale-free
    # significance direction readable and the counts exact
    assert mcnemar_cells_merge_batch(
        spark, "mcn_stream_t", cells, int(mark) + 1
    ) is True
    doubled = mcnemar_from_cells(spark, "mcn_stream_t").collect()[0]
    assert doubled.n_items == 2 * expected.n_items
    assert doubled.only_a == 2 * expected.only_a

    # dirty ingest -> read-back raises like batch
    dirty = spark.createDataFrame([(999, 2, 1)], "seq long, ca int, cb int")
    assert mcnemar_cells_merge_batch(
        spark, "mcn_stream_t", _contingency_cells(dirty, "ca", "cb"),
        int(mark) + 2,
    ) is True
    with pytest.raises(ValueError, match="non-binary"):
        mcnemar_from_cells(spark, "mcn_stream_t")
    spark.sql("DROP TABLE IF EXISTS mcn_stream_t")


def test_streaming_chrf_ingest_matches_batch_and_ledger(spark, tmp_path):
    """Streamed corpus-chrF maintenance: the SUM-merged per-order count
    cells reproduce batch chrf_report field-for-field over everything
    ingested (clipping closes inside each pair row, so batch boundaries
    cannot matter), the kind='meta' ledger makes replayed batch ids
    no-ops, a new batch merges additively, and an empty state raises
    like the batch operator."""
    import pytest

    from healthcare_dbt_datamart_spark.llmops.evaluation import (
        _chrf_gram_counts,
        chrf_report,
    )
    from healthcare_dbt_datamart_spark.streaming.evaluation import (
        chrf_cells_merge_batch,
        chrf_from_cells,
        streaming_chrf_ingest,
    )

    rows = [
        (
            i,
            f"the quick brown fox {i} jumps over",
            f"the quick brown fox {i % 7} leaps over",
        )
        for i in range(90)
    ] + [(900, None, "ref only")]  # NULL pair: excluded + counted
    df = spark.createDataFrame(rows, "pid long, cand string, ref string")
    expected = chrf_report(df, "cand", "ref", "pid").collect()

    src = tmp_path / "chrf_src"
    src.mkdir()
    for part in range(3):
        df.filter(F.col("pid") % 3 == part).write.mode("overwrite").parquet(
            str(src / f"b{part}")
        )
    spark.sql("DROP TABLE IF EXISTS chrf_stream_t")
    stream = spark.readStream.schema(df.schema).parquet(str(src / "*"))
    q = streaming_chrf_ingest(
        stream, "chrf_stream_t", "cand", "ref", "pid",
        checkpoint_dir=str(tmp_path / "chrf_ckpt"),
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    got = chrf_from_cells(spark, "chrf_stream_t").collect()
    key = lambda r: r["order"]  # noqa: E731
    assert sorted(map(tuple, got), key=lambda t: t[0]) == sorted(
        map(tuple, expected), key=lambda t: t[0]
    )

    # replayed batch id is a no-op (exactly-once ledger)
    mark = int(
        spark.table("chrf_stream_t")
        .filter(F.col("kind") == "meta")
        .collect()[0]
        .a
    )
    n_p, n_n, per_n = _chrf_gram_counts(df, "cand", "ref", "pid", 6)
    cells = [
        (r["n"], r["cand_ngrams"], r["ref_ngrams"], r["match_ngrams"])
        for r in per_n.collect()
    ]
    assert chrf_cells_merge_batch(
        spark, "chrf_stream_t", n_p, n_n, cells, mark
    ) is False
    assert sorted(
        map(tuple, chrf_from_cells(spark, "chrf_stream_t").collect()),
        key=lambda t: t[0],
    ) == sorted(map(tuple, expected), key=lambda t: t[0])

    # a NEW batch merges additively: doubled counts keep every F-score
    # identical (scale-free) while pair counts double
    assert chrf_cells_merge_batch(
        spark, "chrf_stream_t", n_p, n_n, cells, mark + 1
    ) is True
    doubled = {r["order"]: r for r in chrf_from_cells(
        spark, "chrf_stream_t"
    ).collect()}
    base = {r["order"]: r for r in expected}
    for n in base:
        assert doubled[n].n_pairs == 2 * base[n].n_pairs
        assert doubled[n].cand_ngrams == 2 * base[n].cand_ngrams
        assert doubled[n].fscore == base[n].fscore
    spark.sql("DROP TABLE IF EXISTS chrf_stream_t")

    # empty state raises like batch
    spark.sql("DROP TABLE IF EXISTS chrf_empty_t")
    assert chrf_cells_merge_batch(spark, "chrf_empty_t", 0, 1, [], 0) is True
    with pytest.raises(ValueError, match="no non-NULL"):
        chrf_from_cells(spark, "chrf_empty_t")
    spark.sql("DROP TABLE IF EXISTS chrf_empty_t")
