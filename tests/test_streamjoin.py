"""Stream-stream interval join: streaming result == batch twin, plus
edge semantics (half-open bound, horizon cutoff, key isolation).

Deterministic harness (SURVEY.md §5.2): parquet file sources, availableNow,
memory sink — watermarks on both legs come from one base-lineage watermark.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafkastreamingetl_spark.operators.streamjoin import (
    attribution_rollup,
    interval_pairs,
    purchase_attribution,
    split_typed_legs,
)
from kafkastreamingetl_spark.sources import EVENT_SCHEMA, synthetic_events_batch
from kafkastreamingetl_spark.streaming import run_available_now, write_memory_stream


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sj_events_src"))
    synthetic_events_batch(spark, 4_000, seed=23).write.mode("overwrite").parquet(path)
    return path


def _stream_pairs(events_stream, *, watermark, how="inner"):
    """The streaming form of the pair producer: watermark the lineage once
    (both legs inherit it), split, interval-join."""
    clicks, purchases = split_typed_legs(events_stream.withWatermark("ts", watermark))
    return interval_pairs(
        clicks, purchases, left_ts="click_ts", right_ts="purchase_ts", how=how
    )


def _mk_events(spark, rows):
    """(event_id, ts_str, user_id, event_type, value) -> events frame."""
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    )
    return df.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
        "props", F.lit(None).cast("string")
    )


def test_interval_pair_semantics(spark):
    ev = _mk_events(
        spark,
        [
            (1, "2024-01-01 00:00:00", 1, "click", None),
            # same instant: excluded (strict lower bound)
            (2, "2024-01-01 00:00:00", 1, "purchase", 10.0),
            # inside horizon: attributed
            (3, "2024-01-01 00:05:00", 1, "purchase", 20.0),
            # exactly at horizon: included (closed upper bound)
            (4, "2024-01-01 00:10:00", 1, "purchase", 30.0),
            # past horizon: excluded
            (5, "2024-01-01 00:10:00.001", 1, "purchase", 40.0),
            # other user inside horizon: never attributed across keys
            (6, "2024-01-01 00:01:00", 2, "purchase", 50.0),
        ],
    )
    got = purchase_attribution(ev).collect()
    assert len(got) == 1
    row = got[0]
    assert row.user_id == 1
    assert row.attributed_pairs == 2
    assert abs(row.attributed_value - 50.0) < 1e-9


def test_purchase_can_attribute_to_many_clicks(spark):
    ev = _mk_events(
        spark,
        [
            (1, "2024-01-01 00:00:00", 7, "click", None),
            (2, "2024-01-01 00:02:00", 7, "click", None),
            (3, "2024-01-01 00:04:00", 7, "purchase", 5.0),
        ],
    )
    row = purchase_attribution(ev).collect()[0]
    assert row.attributed_pairs == 2  # one purchase x two preceding clicks
    assert abs(row.attributed_value - 10.0) < 1e-9


def test_streaming_pairs_match_batch_twin(spark, events_dir):
    """The watermarked stream-stream join over a fully-available source
    yields exactly the batch twin's pair set."""
    stream_pairs = _stream_pairs(
        spark.readStream.schema(EVENT_SCHEMA).parquet(events_dir),
        watermark="10 seconds",
    )
    q = write_memory_stream(stream_pairs, "sj_pairs", output_mode="append")
    run_available_now([q])
    got = attribution_rollup(spark.table("sj_pairs")).collect()

    want = purchase_attribution(spark.read.parquet(events_dir)).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    assert len(want) > 0  # the generator plants real click->purchase pairs


def test_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """Outer semantics under watermarks: a click with no purchase emits
    null-extended only once the watermark proves a match impossible.

    Watermark mechanics the harness must respect: the advance computed at
    the end of batch N is only applied when batch N+1 is CONSTRUCTED, and
    state eviction (which produces the outer rows) happens in that later
    batch. ``maxFilesPerTrigger=1`` makes one availableNow run execute one
    batch per feed file, so the advance → eviction → emission chain
    completes inside a single run, exactly as a continuously-triggered
    production query experiences it.
    """
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def feed(rows, mode):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, value double",
        )
        import time

        df.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
            "props", F.lit("{}")
        ).repartition(1).write.mode(mode).parquet(src)
        time.sleep(1.1)  # distinct mtimes: deterministic per-file batch order

    # file 1: a click that will never match, plus a matched pair
    feed(
        [
            (1, "2024-01-01 00:00:00", 1, "click", None),
            (2, "2024-01-01 00:00:30", 2, "click", None),
            (3, "2024-01-01 00:05:00", 2, "purchase", 20.0),
        ],
        "overwrite",
    )
    # Fillers must survive the click/purchase split: Catalyst pushes the
    # leg filters below the watermark node, so only rows that reach a join
    # leg advance the event-time clock. An unrelated user's purchases (no
    # preceding click -> never matched, never emitted) advance it safely.
    # file 2: advances event time far past click_ts + horizon + watermark
    feed([(9, "2024-01-01 01:00:00", 99, "purchase", 0.0)], "append")
    # file 3: a batch AFTER the advance, in which eviction actually runs
    feed([(10, "2024-01-01 02:00:00", 99, "purchase", 0.0)], "append")

    stream = _stream_pairs(
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        watermark="10 seconds",
        how="left_outer",
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("sj_outer")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    run_available_now([q])
    got = spark.table("sj_outer").collect()

    matched = [r for r in got if r.purchase_ts is not None]
    unmatched = [r for r in got if r.purchase_ts is None]
    assert {r.user_id for r in matched} == {2}
    assert [(r.user_id, r.purchase_value) for r in unmatched] == [(1, None)]


def test_join_key_reaches_physical_plan(spark):
    """The equality key must be the join key (hash-partitioned join), the
    time range a residual condition — a missing key would plan a
    nested-loop cartesian whose state is unbounded in streaming."""
    ev = _mk_events(spark, [(1, "2024-01-01 00:00:00", 1, "click", None)])
    clicks, purchases = split_typed_legs(ev)
    plan = interval_pairs(
        clicks, purchases, left_ts="click_ts", right_ts="purchase_ts"
    )._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
