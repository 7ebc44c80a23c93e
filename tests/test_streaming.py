"""Streaming dataflow: stateless pass-2 stream, stateful inspector,
batching invariance, and an end-to-end availableNow query."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkclean import synth
from sparkclean.pipeline import caption_scores
from sparkclean.quality.thresholds import get_confident_thresholds
from sparkclean.streaming import StreamingLabelInspector, score_stream


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    df = synth.synth_images(spark, 400, with_images=False, partitions=4)
    path = str(tmp_path_factory.mktemp("stream") / "in")
    df.drop("bytes").repartition(4).write.parquet(path)
    return path


def test_inspector_threshold_batch_invariance(spark, corpus):
    """Thresholds after consuming all batches equal the batch-size-
    invariant global mean (tests/test_filter_count.py:951 analog)."""
    full = spark.read.parquet(corpus)

    insp1 = StreamingLabelInspector()
    insp1.process_batch(full)

    insp4 = StreamingLabelInspector()
    for i in range(4):
        part = full.where(F.pmod(F.xxhash64("image_id"), F.lit(4)) == i)
        insp4.process_batch(part)

    np.testing.assert_allclose(insp1.thresholds(), insp4.thresholds(), rtol=1e-9)
    assert insp4.batches_seen == 4 and insp4.rows_seen == 400
    assert len(insp4.metrics) == 4


def test_score_stream_available_now(spark, corpus, tmp_path):
    """Real streaming query: parquet source → stateless scoring →
    memory sink, one availableNow trigger."""
    static = spark.read.parquet(corpus)
    from sparkclean.pipeline import _fast_label_frame

    feats = _fast_label_frame(static, "caption")
    thresholds = get_confident_thresholds(feats, 3)

    stream = spark.readStream.schema(static.schema).parquet(corpus)
    scored = score_stream(stream, thresholds)
    q = (
        scored.writeStream.format("memory")
        .queryName("scored_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM scored_stream")
    assert out.count() == 400
    row = out.select("quality_score", "keep", "scrubbed_text").first()
    assert row["quality_score"] is not None

    # streaming scores equal the batch pipeline's pre-selection scores
    batch = {
        r["image_id"]: r["quality_score"]
        for r in feats.withColumn(
            "quality_score",
            F.element_at(F.col("pred_probs"), F.col("label") + 1),
        ).select("image_id", "quality_score").collect()
    }
    stream_scores = {r["image_id"]: r["quality_score"] for r in out.collect()}
    for k, v in stream_scores.items():
        assert abs(batch[k] - v) < 1e-12


def test_foreachbatch_end_to_end(spark, corpus, tmp_path):
    static = spark.read.parquet(corpus)
    insp = StreamingLabelInspector()
    out_dir = str(tmp_path / "out")
    stream = spark.readStream.schema(static.schema).parquet(corpus)
    q = insp.attach(stream, out_dir).trigger(availableNow=True).start()
    q.awaitTermination(120)
    written = spark.read.parquet(out_dir)
    assert written.count() == 400
    assert insp.rows_seen == 400


def test_stateful_language_stats(spark, corpus, tmp_path):
    """applyInPandasWithState operator: running per-language stats
    survive across micro-batches and match the batch-oblivious truth."""
    from sparkclean.pipeline import _fast_label_frame
    from sparkclean.streaming import score_stream, stateful_language_stats

    static = spark.read.parquet(corpus)
    feats = _fast_label_frame(static, "caption")
    thresholds = get_confident_thresholds(feats, 3)

    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(corpus)
    scored = score_stream(stream, thresholds)
    stats = stateful_language_stats(scored)
    q = (
        stats.writeStream.format("memory")
        .queryName("lang_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.sql(
        "SELECT lang, max(rows) AS rows, max(kept) AS kept FROM lang_stats GROUP BY lang"
    ).collect()
    got = {r["lang"]: (r["rows"], r["kept"]) for r in out}

    truth_df = score_stream(static, thresholds)
    truth = {
        r["pred_lang"]: (r["rows"], r["kept"])
        for r in truth_df.groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept"),
        )
        .collect()
    }
    assert got == truth
    assert sum(v[0] for v in got.values()) == 400


def test_windowed_event_counts_drops_late_data(spark, tmp_path):
    """Event-time watermark contract: windows finalize once the
    watermark passes (append mode), and an event arriving LATER than
    the watermark is discarded instead of reopening the window."""
    import datetime as dt
    import os
    import time

    from sparkclean.streaming import windowed_event_counts

    src = str(tmp_path / "events_src")
    os.makedirs(src, exist_ok=True)
    schema = "event_id long, event_type string, ts timestamp, value double"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    # batch 1: two 10:xx events + one 12:xx event that pushes the
    # watermark (12:00 - 30min = 11:30) past the 10:00 window's end
    write_batch("b1", [(1, "a", ts(5), 1.0), (2, "a", ts(20), 2.0),
                       (3, "b", ts(125), 4.0)])

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = windowed_event_counts(stream, ts_col="ts", key_col="event_type")
    q = (
        out.writeStream.format("memory")
        .queryName("win_events")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE event in the already-finalized 10:00 window
        # (watermark is 11:30) plus a fresh 13:xx event that finalizes
        # the 12:00 window
        write_batch("b2", [(4, "a", ts(30), 8.0), (5, "b", ts(185), 16.0)])
        q.processAllAvailable()
        # one more empty-ish advance so 12:00 can emit
        write_batch("b3", [(6, "b", ts(250), 32.0)])
        q.processAllAvailable()
        time.sleep(1)
        rows = spark.sql("SELECT * FROM win_events").collect()
    finally:
        q.stop()
    by_key = {(r["window_start"].hour, r["event_type"]): r for r in rows}
    # the 10:00/a window finalized from batch 1 ONLY — the late event
    # (value 8.0) was dropped by the watermark
    assert (10, "a") in by_key
    assert by_key[(10, "a")]["n_events"] == 2
    assert by_key[(10, "a")]["value_sum"] == 3.0
    # the 12:00/b window finalized once the watermark passed it
    assert (12, "b") in by_key and by_key[(12, "b")]["n_events"] == 1


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState first-seen dedup: a caption duplicated
    across micro-batches survives only in the batch that saw it first,
    within-batch duplicates keep the min id, and the surviving id set
    equals the batch operator's (distinct_by_fingerprint)."""
    from sparkclean.dedup.exact import distinct_by_fingerprint
    from sparkclean.streaming import streaming_exact_dedup

    src = tmp_path / "src"
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "unique one"), (3, "the quick  brown fox ")],
        "doc_id: long, caption: string",
    )
    b2 = spark.createDataFrame(
        [(10, "THE quick brown fox".lower()), (11, "unique two"), (12, "unique one")],
        "doc_id: long, caption: string",
    )
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    deduped = streaming_exact_dedup(stream, text_col="caption", id_col="doc_id")
    q = (
        deduped.writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM stream_dedup").collect()
    got = {r["doc_id"] for r in rows}

    static = b1.unionByName(b2)
    truth = {
        r["doc_id"]
        for r in distinct_by_fingerprint(static, "caption", "doc_id").collect()
    }
    # ids here are monotone with arrival order, so first-seen == min-id
    assert got == truth
    # the cross-batch duplicate (10) and within-batch whitespace dup (3)
    # and the batch-2 repeat of "unique one" (12) are all dropped
    assert got == {1, 2, 11}
    # full surviving rows are emitted, not just ids
    caps = {r["doc_id"]: r["caption"] for r in rows}
    assert caps[2] == "unique one" and caps[11] == "unique two"
    assert all(r["fingerprint"] is not None for r in rows)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        streaming_exact_dedup(stream, text_col="caption", id_col="doc_id", ttl_minutes=0)
