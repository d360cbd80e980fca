"""Structured Streaming ingest: streaming windowed counts must equal the
batch windowed counts on the same files (exactness contract)."""

import time

from ontoemma_spark.streaming.events import (
    run_stream_to_memory,
    windowed_event_counts,
)


def test_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "events_stream")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # write as several files so maxFilesPerTrigger produces multiple batches
    events.repartition(4).write.mode("overwrite").parquet(src)

    expected = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in windowed_event_counts(
            spark.read.parquet(src)
        ).collect()
    }

    q = run_stream_to_memory(spark, src, query_name="t_event_counts")
    try:
        deadline = time.time() + 120
        got = {}
        while time.time() < deadline:
            q.processAllAvailable()
            got = {
                (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
                for r in spark.table("t_event_counts").collect()
            }
            if got == expected:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert got == expected
    assert len(expected) > 0


def test_stream_dedup_matches_batch(spark, tmp_path):
    """Replayed events (at-least-once source): the streaming
    watermarked dedup must deliver exactly the batch-distinct id set."""
    from pyspark.sql import functions as F

    from ontoemma_spark.streaming.events import dedup_event_stream, read_event_stream

    src = str(tmp_path / "dup_events")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(200)
    # file 1: originals; file 2: a replayed subset (duplicate event_ids)
    events.coalesce(1).write.mode("overwrite").parquet(src)
    events.filter(F.col("event_id") % 3 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    deduped = dedup_event_stream(read_event_stream(spark, src))
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_events")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["event_id"] for r in spark.table("dedup_events").collect()}
    expected = {r["event_id"] for r in events.collect()}
    assert got == expected
