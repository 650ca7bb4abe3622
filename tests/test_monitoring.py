"""Streaming progress recorder: captures batch telemetry, exposes it as a
DataFrame, and survives multi-query runs."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from kafkastreamingetl_spark import monitoring
from kafkastreamingetl_spark.operators.cleaning import clean_events_streaming
from kafkastreamingetl_spark.sources import EVENT_SCHEMA, synthetic_events_batch
from kafkastreamingetl_spark.streaming import run_available_now, write_memory_stream


def test_progress_recorder_captures_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    synthetic_events_batch(spark, 1_000, seed=13).write.parquet(src)

    rec = monitoring.attach(spark)
    try:
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
        q = write_memory_stream(clean_events_streaming(stream), "mon_stream")
        run_available_now([q])
        # listener callbacks are async wrt awaitTermination
        deadline = time.time() + 30
        while time.time() < deadline and not any(
            r[5] > 0 for r in rec.rows()
        ):
            time.sleep(0.2)
    finally:
        monitoring.detach(spark, rec)

    frame = monitoring.progress_frame(spark, rec)
    rows = frame.where(F.col("num_input_rows") > 0).collect()
    assert rows, "no progress captured"
    assert all(r.batch_duration_ms >= 0 for r in rows)
    # the dedup state operator reports its rows through the same event
    assert any(r.state_rows_total > 0 for r in rows)

    summary = monitoring.batch_duration_summary(frame).collect()
    assert sum(r.total_rows for r in summary) >= 1_000


def test_streaming_observe_metrics_reach_the_recorder(spark, tmp_path):
    """The batch observe_qc pattern works unchanged on a stream: an
    Observation attached to the streaming frame lands its per-batch
    aggregates in the progress events, and monitoring.observed_metrics
    surfaces them — QC per micro-batch with zero extra jobs."""
    import time

    from pyspark.sql import functions as F

    from kafkastreamingetl_spark.monitoring import attach, detach, observed_metrics
    from kafkastreamingetl_spark.sources import synthetic_events_batch
    from kafkastreamingetl_spark.streaming import (
        run_available_now,
        write_memory_stream,
    )

    src = str(tmp_path / "obs_src")
    batch = synthetic_events_batch(spark, 200, seed=11)
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    observed = stream.observe(
        "stream_qc",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("event_type").isNull(), 1).otherwise(0)).alias(
            "n_null_type"
        ),
    )
    rec = attach(spark)
    try:
        q = write_memory_stream(observed, "obs_probe")
        run_available_now([q])
        # listener delivery is async; progress arrives within a beat
        rows = []
        for _ in range(40):
            rows = [
                m for m in observed_metrics(rec) if m["observation"] == "stream_qc"
            ]
            if rows:
                break
            time.sleep(0.25)
    finally:
        detach(spark, rec)
    assert rows, "no observed metrics captured"
    assert sum(m["n_rows"] for m in rows) == 200
    assert all(m["n_null_type"] >= 0 for m in rows)
