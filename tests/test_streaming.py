"""Streaming semantics, deterministically (SURVEY.md §5.2): file source +
availableNow triggers + memory/parquet sinks — no Kafka, no wall clock.

These tests prove the streaming twins actually *start and run* (watermark +
dropDuplicatesWithinWatermark + append-mode window finalization are exactly
the constructs that look right and fail at ``.start()``).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

import pytest
from pyspark.sql import functions as F

from kafkastreamingetl_spark.operators.cleaning import clean_events_streaming
from kafkastreamingetl_spark.operators.windows import session_agg, windowed_agg
from kafkastreamingetl_spark.sources import (
    EVENT_SCHEMA,
    decode_json_events,
    synthetic_events_batch,
    synthetic_events_stream,
)
from kafkastreamingetl_spark.streaming import (
    foreach_batch_sink,
    run_available_now,
    write_memory_stream,
    write_parquet_stream,
)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """The sf0.001 events table rewritten as a parquet *directory* (streaming
    file sources list directories) with dirty synthetic rows appended."""
    path = str(tmp_path_factory.mktemp("events_stream_src"))
    synthetic_events_batch(spark, 2_000, seed=11).write.mode("overwrite").parquet(path)
    return path


def _stream(spark, path):
    """Streaming file source over a parquet directory: the broker-free
    stand-in for the Kafka source (file sources need an explicit schema)."""
    return spark.readStream.schema(EVENT_SCHEMA).parquet(path)


def test_file_source_is_streaming(spark, events_dir):
    assert _stream(spark, events_dir).isStreaming
    assert synthetic_events_stream(spark).isStreaming


def test_clean_events_streaming_matches_batch(spark, events_dir):
    """T1/T3: watermarked streaming dedup processes everything available and
    agrees with the batch twin on count + key uniqueness."""
    q = write_memory_stream(
        clean_events_streaming(_stream(spark, events_dir)), "cleaned_stream"
    )
    run_available_now([q])
    got = spark.table("cleaned_stream")
    batch_keys = (
        spark.read.parquet(events_dir).select("event_id").distinct().count()
    )
    assert got.count() == batch_keys
    assert got.select("event_id").distinct().count() == batch_keys
    assert got.filter(F.col("value").isNull()).count() == 0


def test_streaming_window_agg_append_mode(spark, events_dir):
    """T2/T4: append-mode windows emitted by availableNow are exactly the
    batch twin's rows for every finalized window (watermark semantics)."""
    agg = windowed_agg(
        _stream(spark, events_dir).withWatermark("ts", "30 seconds"),
        window="1 minute",
        slide="30 seconds",
        keys=["event_type"],
        approx_distinct=True,
    )
    q = write_memory_stream(agg, "windowed_stream", output_mode="append")
    run_available_now([q])
    got = spark.table("windowed_stream")

    batch = windowed_agg(
        spark.read.parquet(events_dir),
        window="1 minute",
        slide="30 seconds",
        keys=["event_type"],
        approx_distinct=True,
    )
    max_ts = spark.read.parquet(events_dir).agg(F.max("ts")).collect()[0][0]
    finalized = batch.filter(
        F.col("window_end") <= F.lit(max_ts) - F.expr("INTERVAL 30 SECONDS")
    )
    # every finalized window appears in the streamed append output with the
    # same aggregate values
    missing = finalized.exceptAll(
        got.select(*[c for c in finalized.columns])
    ).count()
    assert missing == 0
    # and the stream emitted at least those (it may emit a few more windows
    # that finalized exactly at the last watermark advance)
    assert got.count() >= finalized.count() > 0


def test_multi_sink_fan_out(spark, events_dir, tmp_path):
    """T8 + S4/H5/T6: one lineage, two sinks (parquet + memory) started
    off it, each its own query with its own checkpoint; partitioned lake
    layout verified on disk."""
    cleaned = clean_events_streaming(_stream(spark, events_dir))
    lake = str(tmp_path / "lake")
    chk = str(tmp_path / "chk")
    run_available_now([
        write_parquet_stream(
            cleaned, lake, chk, partition_by="event_type_norm", available_now=True
        ),
        write_memory_stream(cleaned, "fanout_mem"),
    ])
    dirs = {d for d in os.listdir(lake) if d.startswith("event_type_norm=")}
    assert len(dirs) >= 3  # hive layout, one dir per event type
    n_lake = spark.read.parquet(lake).count()
    assert n_lake == spark.table("fanout_mem").count() > 0


def test_sinks_default_to_the_reference_30s_trigger(spark, tmp_path):
    """T5: a sink started without ``available_now`` runs the reference's
    fixed 30 s processing-time trigger (spark/app.py:195)."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    queries = [
        write_parquet_stream(rate, str(tmp_path / "out"), str(tmp_path / "chk")),
        foreach_batch_sink(rate, lambda batch, batch_id: None, str(tmp_path / "fb")),
    ]
    try:
        for q in queries:
            trigger = q._jsq.streamingQuery().trigger().toString()
            assert trigger == "ProcessingTimeTrigger(30000)"
    finally:
        for q in queries:
            q.stop()


def test_console_sink_starts(spark, events_dir):
    """S5: the debug console sink (update mode) starts and drains — its
    output goes to driver stdout, so liveness (clean availableNow
    termination, no exception) is the assertable contract."""
    from kafkastreamingetl_spark.streaming import write_console_stream

    agg = windowed_agg(
        _stream(spark, events_dir).withWatermark("ts", "30 seconds"),
        window="1 minute",
        slide="30 seconds",
        keys=["event_type"],
        approx_distinct=True,
    )
    q = write_console_stream(agg, available_now=True)
    run_available_now([q])
    assert q.exception() is None


def test_foreach_batch_bridge(spark, events_dir, tmp_path):
    """The batch-reuse bridge: micro-batches land in a collecting sink."""
    seen: list[int] = []
    q = foreach_batch_sink(
        _stream(spark, events_dir).select("event_id"),
        lambda batch_df, epoch: seen.append(batch_df.count()),
        str(tmp_path / "chk_fb"),
        available_now=True,
    )
    run_available_now([q])
    assert sum(seen) == 2_000


def test_late_data_dropped_after_watermark(spark, tmp_path):
    """T1/T4 end-to-end: a finalized window is emitted exactly once, and an
    event arriving behind the checkpointed watermark is dropped — the
    reference's append-sink semantics (spark/app.py:160,189-197), made
    deterministic with two availableNow runs over one checkpoint."""
    import pandas as pd

    src, out, chk = (str(tmp_path / d) for d in ("src", "out", "chk"))

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        pdf["props"] = "{}"
        df = spark.createDataFrame(pdf, schema=EVENT_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        agg = windowed_agg(
            _stream(spark, src).withWatermark("ts", "30 seconds"),
            window="1 minute",
            approx_distinct=True,
        )
        q = write_parquet_stream(agg, out, chk, available_now=True)
        run_available_now([q])

    # run 1: window [10:00,10:01) gets 2 events; watermark ends at
    # 10:04:30 >> 10:01, so that window is finalized and emitted
    write_batch("b1", [
        (1, "2024-03-01 10:00:10", 1, "click", 1.0),
        (2, "2024-03-01 10:00:50", 1, "click", 2.0),
        (3, "2024-03-01 10:05:00", 2, "view", 4.0),
    ])
    run_once()
    first = spark.read.parquet(out).toPandas()
    w1 = first[first.window_start == pd.Timestamp("2024-03-01 10:00:00")]
    assert len(w1) == 1 and float(w1.total_value.iloc[0]) == 3.0

    # run 2: one LATE event for the closed window (behind the checkpointed
    # watermark) and one fresh event that finalizes more windows
    write_batch("b2", [
        (4, "2024-03-01 10:00:30", 3, "click", 100.0),  # late -> dropped
        (5, "2024-03-01 10:09:00", 2, "view", 8.0),     # advances watermark
    ])
    run_once()
    final = spark.read.parquet(out).toPandas()
    w1 = final[final.window_start == pd.Timestamp("2024-03-01 10:00:00")]
    # still exactly one emission, late value NOT folded in
    assert len(w1) == 1 and float(w1.total_value.iloc[0]) == 3.0
    # the fresh 10:05 window was finalized by run 2's watermark advance
    w5 = final[final.window_start == pd.Timestamp("2024-03-01 10:05:00")]
    assert len(w5) == 1 and float(w5.total_value.iloc[0]) == 4.0


def test_clean_events_streaming_drops_a_duplicate_across_micro_batches(
    spark, tmp_path
):
    """T3 across batches: file 2 repeats file 1's ``event_id`` 1 inside the
    30 s watermark, and the dedup state carried between micro-batches drops
    it. ``maxFilesPerTrigger=1`` makes each file its own micro-batch."""
    src = str(tmp_path / "src")
    cols = "event_id long, ts string, user_id long, event_type string, value double"

    def feed(rows):
        df = spark.createDataFrame(rows, cols).withColumn("props", F.lit("{}"))
        df = df.withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1)
        df.write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes: deterministic per-file batch order

    feed([
        (1, "2024-01-01 00:00:10", 7, "click", 1.0),
        (2, "2024-01-01 00:00:20", 8, "view", 2.0),
    ])
    feed([
        (1, "2024-01-01 00:00:25", 7, " Click", 9.0),  # repeat, within 30 s
        (3, "2024-01-01 00:00:30", 9, "view", 3.0),
    ])
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = write_memory_stream(clean_events_streaming(stream), "t3_two_batches")
    run_available_now([q])
    fed = [json.loads(p.json)["numInputRows"] for p in q.recentProgress]
    assert [n for n in fed if n] == [2, 2]
    got = spark.table("t3_two_batches").collect()
    assert sorted(r.event_id for r in got) == [1, 2, 3]
    assert {r.event_id: r.value for r in got}[1] == 1.0  # the first arrival


def test_streaming_session_agg_runs(spark, events_dir):
    sessions = session_agg(
        _stream(spark, events_dir).withWatermark("ts", "30 seconds"),
        gap="5 minutes",
    )
    q = write_memory_stream(sessions, "sessions_stream")
    run_available_now([q])
    got = spark.table("sessions_stream")
    assert got.count() > 0
    assert set(got.columns) == {
        "user_id", "session_start", "session_end", "total_value", "n_events",
    }


def test_reference_pipeline_end_to_end(spark, events_dir, tmp_path, sf_dir):
    """The reference's whole main program (spark/app.py:53-209) through the
    engine: decoded stream → clean → stream-static dim join → sliding
    window agg → hive-partitioned parquet lake, deterministically."""
    from kafkastreamingetl_spark.catalog import load_table
    from kafkastreamingetl_spark.streaming import reference_pipeline

    customer = load_table(spark, sf_dir, "customer")
    lake = str(tmp_path / "ref_lake")
    queries = reference_pipeline(
        _stream(spark, events_dir),
        customer,
        lake_path=lake,
        checkpoint_dir=str(tmp_path / "ref_chk"),
        available_now=True,
    )
    run_available_now(queries)
    out = spark.read.parquet(lake)
    assert out.count() > 0
    assert {"window_start", "window_end", "event_type_norm", "segment",
            "total_value", "unique_events", "n_events"} <= set(out.columns)
    # hive layout by the joined dim attribute (reference spark/app.py:194)
    assert any(d.startswith("segment=") for d in os.listdir(lake))
    # normalization happened upstream of the aggregate
    bad = out.filter(F.col("event_type_norm") != F.lower(F.trim("event_type_norm")))
    assert bad.count() == 0


def test_streaming_feeds_daily_rollup(spark, events_dir, tmp_path, sf_dir):
    """The reference's full DAG: the streaming stage lands cleaned events in
    the lake; the daily batch stage (X2) rolls the lake up — here bridged in
    one process via foreachBatch running the batch operator per micro-batch
    (SURVEY §3.3: entry point C becomes a normal Spark batch query)."""
    from kafkastreamingetl_spark.catalog import load_table
    from kafkastreamingetl_spark.operators.rollup import daily_aggregate

    customer = load_table(spark, sf_dir, "customer")
    out = str(tmp_path / "rollup_lake")

    def rollup_batch(batch_df, epoch):
        daily_aggregate(batch_df, customer).write.mode("append").parquet(out)

    cleaned = clean_events_streaming(_stream(spark, events_dir))
    q = foreach_batch_sink(
        cleaned, rollup_batch, str(tmp_path / "chk_rollup"), available_now=True
    )
    run_available_now([q])

    got = spark.read.parquet(out)
    assert got.count() > 0
    assert {"event_date", "event_type", "segment", "daily_revenue"} <= set(got.columns)
    # invariant: every deduped event lands in exactly one rollup group in
    # exactly one micro-batch, so summing the per-group distinct counts
    # recovers the source's distinct-key count (revenue totals are NOT
    # comparable: streaming dedup keeps the first arrival, batch dedup the
    # deterministic (ts, value) pick — a documented semantic difference)
    stream_events = got.agg(F.sum("daily_events")).collect()[0][0]
    distinct_keys = spark.read.parquet(events_dir).select("event_id").distinct().count()
    assert stream_events == distinct_keys


def test_json_decode_roundtrip(spark):
    """S2/F1/F2: encode rows to JSON strings (the producer's wire format),
    decode through the envelope path, get the rows back."""
    events = synthetic_events_batch(spark, 500, seed=3)
    wire = events.select(
        F.to_json(F.struct(*[F.col(c) for c in events.columns])).alias("value")
    )
    decoded = decode_json_events(wire, EVENT_SCHEMA)
    assert decoded.schema == EVENT_SCHEMA
    assert decoded.count() == 500
    assert decoded.exceptAll(events).count() == 0


def test_checkpoint_restart_resumes_exactly_once(spark, tmp_path):
    """T6 — the contract checkpoints exist for: stop a windowed-aggregate
    query mid-stream, add data, restart with the SAME checkpoint. The
    resumed query must neither re-emit windows the first run already
    finalized (no duplicates) nor lose the in-flight state (no gaps): the
    union of both runs' parquet output is exactly one row per finalized
    window."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def feed(n, offset, mode, base_ts):
        synthetic_events_batch(
            spark, n, seed=51 + offset, base_ts=base_ts
        ).repartition(1).write.mode(mode).parquet(src)
        time.sleep(1.1)

    def run():
        agg = windowed_agg(
            _stream(spark, src).withWatermark("ts", "10 seconds"),
            window="1 minute",
            keys=["event_type"],
            approx_distinct=True,
        )
        q = write_parquet_stream(agg, out, ckpt, available_now=True)
        run_available_now([q])

    feed(1_500, 0, "overwrite", "2024-01-01 00:00:00")
    run()  # run 1 processes the first file and stops
    first = spark.read.parquet(out).count()
    # run 2's data is LATER in event time: it finalizes run 1's in-flight
    # window (state carried across the restart) and adds new ones
    feed(1_500, 7, "append", "2024-01-01 01:00:00")
    run()  # run 2 must resume from the checkpoint, not reprocess

    got = spark.read.parquet(out)
    # exactly-once across the restart: no (window, key) emitted twice
    assert got.count() == got.select("window_start", "event_type").distinct().count()
    assert got.count() > first  # run 2 finalized new windows from run 1 state


# Spark's own checkpoint settings, which session.get_spark's profile replaces
_SPARK_DEFAULT_CHECKPOINTING = {
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "false",
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    ),
}


@pytest.fixture(scope="module")
def six_files(spark, tmp_path_factory):
    """Six one-file micro-batches for the composed pipeline: 400 events
    each, event ids unique across files, and each file starting after the
    previous one ends, so the within-watermark dedup and the late-row rule
    see the same input however the files are split across runs. Returns
    the files and their modification times (the file source replays in
    modification-time order)."""
    root = tmp_path_factory.mktemp("six_files")
    parts = []
    for i in range(6):
        stage = root / f"stage{i}"
        synthetic_events_batch(
            spark, 400, seed=80 + i, base_ts=f"2024-01-01 00:{4 * i:02d}:00"
        ).withColumn("event_id", F.col("event_id") + i * 1_000_000).coalesce(
            1
        ).write.parquet(str(stage))
        (part,) = stage.glob("part-*.parquet")
        parts.append(part)
    t0 = time.time() - len(parts)
    return [(part, t0 + i) for i, part in enumerate(parts)]


def _land(files, src, lo, hi):
    src.mkdir(exist_ok=True)
    for i in range(lo, hi):
        part, mtime = files[i]
        dst = src / f"part-{i:05d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))


def _run_reference(spark, sf_dir, src, ckpt, lake):
    """One availableNow run of reference_pipeline over ``src``, one file
    per micro-batch (``maxFilesPerTrigger=1``); returns the lake."""
    from kafkastreamingetl_spark.catalog import load_table
    from kafkastreamingetl_spark.streaming import reference_pipeline

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    run_available_now(
        reference_pipeline(
            stream,
            load_table(spark, sf_dir, "customer"),
            lake_path=str(lake),
            checkpoint_dir=str(ckpt),
            available_now=True,
        )
    )
    return spark.read.parquet(str(lake))


def _state_files(ckpt, suffix):
    """The lake query's state-store files ending in ``suffix``."""
    return sorted((ckpt / "lake" / "state").rglob(f"*{suffix}"))


@pytest.fixture(scope="module")
def uninterrupted_lake(spark, sf_dir, six_files, tmp_path_factory):
    """The lake of one run over all six files on a fresh checkpoint."""
    root = tmp_path_factory.mktemp("uninterrupted")
    _land(six_files, root / "src", 0, 6)
    _run_reference(spark, sf_dir, root / "src", root / "ckpt", root / "lake")
    return str(root / "lake")


def _assert_restart_matches(spark, first_count, restarted, uninterrupted_lake):
    fresh = spark.read.parquet(uninterrupted_lake)
    key = ["window_start", "window_end", "event_type_norm", "segment"]
    assert 0 < first_count < restarted.count()
    assert restarted.count() == restarted.select(*key).distinct().count()
    assert restarted.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(restarted).count() == 0


def test_reference_pipeline_restart_matches_uninterrupted_run(
    spark, tmp_path, sf_dir, six_files, uninterrupted_lake
):
    """The composed pipeline's restart contract (end-to-end exactly-once,
    as in Structured Streaming): file source → reference_pipeline → lake.
    A run over the first 3 of 6 files, restarted on the SAME checkpoint
    once the other 3 have landed, leaves exactly the lake of one
    uninterrupted run on a fresh checkpoint: the same multiset of rows,
    and no (window, key, segment) twice."""
    src, ckpt, lake = tmp_path / "src", tmp_path / "ckpt", tmp_path / "lake"
    _land(six_files, src, 0, 3)
    first = _run_reference(spark, sf_dir, src, ckpt, lake).count()
    _land(six_files, src, 3, 6)
    restarted = _run_reference(spark, sf_dir, src, ckpt, lake)
    _assert_restart_matches(spark, first, restarted, uninterrupted_lake)


def test_reference_pipeline_restart_across_checkpoint_settings_switch(
    spark, tmp_path, sf_dir, six_files, uninterrupted_lake
):
    """A checkpoint written under Spark's own checkpoint settings (RocksDB
    snapshot uploads, FileContext renames) resumes under the session
    profile's (changelog checkpointing, FileSystem renames) without
    losing or repeating a window: the restarted lake equals the
    uninterrupted run's. The state files show that each run really used
    its settings."""
    src, ckpt, lake = tmp_path / "src", tmp_path / "ckpt", tmp_path / "lake"
    _land(six_files, src, 0, 3)
    profile = {k: spark.conf.get(k) for k in _SPARK_DEFAULT_CHECKPOINTING}
    try:
        for k, v in _SPARK_DEFAULT_CHECKPOINTING.items():
            spark.conf.set(k, v)
        first = _run_reference(spark, sf_dir, src, ckpt, lake).count()
    finally:
        for k, v in profile.items():
            spark.conf.set(k, v)
    assert _state_files(ckpt, ".zip")
    assert not _state_files(ckpt, ".changelog")

    _land(six_files, src, 3, 6)
    restarted = _run_reference(spark, sf_dir, src, ckpt, lake)
    assert _state_files(ckpt, ".changelog")
    _assert_restart_matches(spark, first, restarted, uninterrupted_lake)


def test_session_profile_checkpoints_with_changelogs_and_filesystem_renames(
    spark, tmp_path, sf_dir, six_files
):
    """session.get_spark's checkpoint profile is in force: a 3-file run of
    the composed pipeline leaves ``<version>.changelog`` files in its state
    store, and checkpoint renames go through the FileSystem-based manager
    (a class Spark 4.1 moved to ``...streaming.checkpointing``; a missing
    class fails the run at its first checkpoint write)."""
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    _land(six_files, src, 0, 3)
    assert _run_reference(spark, sf_dir, src, ckpt, tmp_path / "lake").count() > 0
    changelogs = _state_files(ckpt, ".changelog")
    assert changelogs
    assert all(re.fullmatch(r"\d+\.changelog", p.name) for p in changelogs)
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


def test_stream_static_join_rereads_dim_each_batch(spark, tmp_path):
    """Stream-static joins re-resolve the static side per micro-batch: a
    dim update between runs is visible to later batches with NO restart of
    the pipeline definition — the engine's slowly-changing-dimension
    refresh path (reference's dim is frozen in-memory; spark/app.py:87)."""
    src = str(tmp_path / "src")
    dim_path = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def feed(eid, mode):
        spark.createDataFrame(
            [(eid, "2024-01-01 00:00:00", 1, "click", 1.0, "{}")],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).repartition(1).write.mode(
            mode
        ).parquet(src)
        time.sleep(1.1)

    def write_dim(segment):
        spark.createDataFrame(
            [(1, segment)], "user_id long, segment string"
        ).repartition(1).write.mode("overwrite").parquet(dim_path)
        time.sleep(1.1)

    def run():
        dim = spark.read.parquet(dim_path)
        joined = _stream(spark, src).join(dim, "user_id", "left")
        q = (
            joined.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        run_available_now([q])

    write_dim("BRONZE")
    feed(1, "overwrite")
    run()
    write_dim("GOLD")  # dim changes; the stream definition does not
    feed(2, "append")
    run()

    got = {r.event_id: r.segment for r in spark.read.parquet(out).collect()}
    assert got == {1: "BRONZE", 2: "GOLD"}
