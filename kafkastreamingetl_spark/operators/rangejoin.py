"""Interval (range) containment join — bucketed, never a theta-join.

``interval_join(left, intervals)`` pairs every left row with every
interval containing its timestamp, with NO equi-key between the sides —
the case Spark's planner turns into BroadcastNestedLoopJoin (or a
cartesian product) if expressed directly as ``ts >= start AND ts < end``.

Spark-first construction: quantize time into fixed-width buckets. The
left side computes its single containing bucket (pure projection); the
interval side explodes over the buckets its span covers (bounded by
span/bucket + 1 rows); an ordinary hash equi-join on the bucket id meets
each candidate, and the exact containment predicate filters bucket-mates
that don't truly overlap. Each qualifying (row, interval) pair meets
EXACTLY once — the row's one bucket is covered at most once by the
interval's distinct buckets — so no post-join dedup. Shuffle volume is
O(|left| + |intervals| · spans), and AQE's skew handling applies to hot
buckets like any other hash join.

Bucket width is a throughput dial: narrower buckets → fewer false
bucket-mates to filter but more explode rows per interval; set it near
the typical interval span so the explode factor stays ~2.

No reference analogue (equi-joins only); extension surface. The DuckDB
oracle twin runs the same logical join as a native inequality join
(IEJoin) — different algorithm, same answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import dsum, sql_dsum

# error_impact_windows parameters — module-level literals shared with the
# oracle SQL (threshold chosen so anchors exist at every testdata sf).
ANCHOR_VALUE_MIN = 180.0
WINDOW_BEFORE = "2 minutes"
WINDOW_AFTER = "5 minutes"
BUCKET_SECONDS = 300


def interval_join(
    left: DataFrame, intervals: DataFrame, *, bucket_seconds: int = BUCKET_SECONDS
) -> DataFrame:
    """Rows of ``left`` joined to every interval with
    ``start <= ts < end`` (half-open). Degenerate intervals (end <= start)
    match nothing and are dropped before the explode."""
    b_us = bucket_seconds * 1_000_000

    def bucket_of(c):
        return F.floor(F.unix_micros(c) / F.lit(b_us)).cast("long")

    l_tagged = left.withColumn("_b", bucket_of(F.col("ts")))
    iv = intervals.filter(F.col("w_end") > F.col("w_start")).withColumn(
        "_b",
        F.explode(
            F.sequence(
                bucket_of(F.col("w_start")),
                # end is exclusive: the last covered bucket holds end - 1µs
                F.floor((F.unix_micros(F.col("w_end")) - 1) / F.lit(b_us)).cast("long"),
            )
        ),
    )
    return (
        l_tagged.join(iv, "_b")
        .filter((F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")))
        .drop("_b")
    )


def error_impact_windows(events: DataFrame) -> DataFrame:
    """Per high-value-error anchor: activity inside [ts − 2 min,
    ts + 5 min) — the no-equi-key range aggregation (blast-radius
    analysis around an incident). Anchors are error events with
    value > ANCHOR_VALUE_MIN."""
    anchors = events.filter(
        (F.col("event_type") == "error") & (F.col("value") > ANCHOR_VALUE_MIN)
    ).select(
        F.col("event_id").alias("anchor_id"),
        (F.col("ts") - F.expr(f"INTERVAL {WINDOW_BEFORE}")).alias("w_start"),
        (F.col("ts") + F.expr(f"INTERVAL {WINDOW_AFTER}")).alias("w_end"),
    )
    joined = interval_join(events.select("ts", "value"), anchors)
    return joined.groupBy("anchor_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "window_value"),
    )


def sql_error_impact_windows() -> str:
    return f"""
    WITH anchors AS (
        SELECT event_id AS anchor_id,
               ts - INTERVAL {WINDOW_BEFORE} AS w_start,
               ts + INTERVAL {WINDOW_AFTER} AS w_end
        FROM events
        WHERE event_type = 'error' AND value > {ANCHOR_VALUE_MIN}
    )
    SELECT a.anchor_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('e.value')} AS window_value
    FROM anchors a
    JOIN events e ON e.ts >= a.w_start AND e.ts < a.w_end
    GROUP BY 1
    """
