"""Stream-stream time-interval join (engine extension).

The reference only ever joins its stream against a *static* dim
(reference spark/app.py:82-90); correlating two event streams — e.g.
attributing a purchase to the click that preceded it — has no reference
analogue. Structured Streaming expresses it natively: watermark BOTH legs,
join on an equality key plus a time-range predicate, and the range bound
lets the engine evict per-key state once the watermark passes
``left_ts + horizon`` (SURVEY.md §2.8 stream-stream note).

Scale shape: the equality key makes the physical plan a hash-partitioned
StreamingSymmetricHashJoin — each side shuffles ON THE KEY exactly once,
state lives per key in RocksDB (off-heap, set in session.get_spark), and
the time bound keeps state size ~(arrival rate × (watermark + horizon))
regardless of total history. Without the equality key Spark would fall
back to a broadcast-nested-loop over unbounded state — the batch twin
below asserts the keyed shape instead.

The pair producer is engine-agnostic (same expressions batch or
streaming): watermark the stream once, split it with
:func:`split_typed_legs` (both legs inherit the watermark), then
:func:`interval_pairs`. The batch form is the oracle-checked twin;
tests/test_streamjoin.py runs the streaming form against it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import dsum, normalize_string, sql_dsum


def split_typed_legs(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split one event lineage into two typed legs with disjoint column
    names (self-join hygiene: renaming beats ``df["col"]`` disambiguation,
    and works identically for batch and streaming inputs)."""
    norm = normalize_string("event_type")
    left = events.where(norm == "click").select(
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    right = events.where(norm == "purchase").select(
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("purchase_value"),
    )
    return left, right


def interval_pairs(
    left: DataFrame,
    right: DataFrame,
    *,
    left_ts: str,
    right_ts: str,
    how: str = "inner",
) -> DataFrame:
    """All (left, right) pairs with the same user and ``right_ts`` in
    ``(left_ts, left_ts + horizon]`` — half-open so an event never
    attributes to a simultaneous one.

    The condition is equality-on-key AND range-on-time; Catalyst plans the
    equality as the join key (hash/SMJ in batch, symmetric-hash in
    streaming) and the range as a residual filter — never a theta-join.

    ``how="left_outer"`` (streaming): an unmatched left row is held in
    state and emitted null-extended only once the watermark passes
    ``left_ts + horizon`` — i.e. when a match has become impossible. The
    emission is therefore a *later micro-batch* than the one that read the
    row (asserted in tests/test_streamjoin.py); batch mode gives the same
    rows immediately.
    """
    cond = (
        (left["user_id"] == right["r_user_id"])
        & (right[right_ts] > left[left_ts])
        & (right[right_ts] <= left[left_ts] + F.expr("INTERVAL 10 minutes"))
    )
    return left.join(right, cond, how).drop("r_user_id")


def attribution_rollup(pairs: DataFrame) -> DataFrame:
    """Per-user attribution totals over the pair stream/frame."""
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("attributed_pairs"),
            dsum("purchase_value", "attributed_value"),
        )
        .orderBy("user_id")
    )


def purchase_attribution(events: DataFrame) -> DataFrame:
    """Batch twin: clicks ⋈ purchases within 10 minutes, rolled up per
    user. This exact plan is the driver-checked oracle twin of the
    streaming join."""
    clicks, purchases = split_typed_legs(events)
    pairs = interval_pairs(
        clicks, purchases, left_ts="click_ts", right_ts="purchase_ts"
    )
    return attribution_rollup(pairs)


def sql_purchase_attribution() -> str:
    """DuckDB oracle for :func:`purchase_attribution`."""
    return f"""
    WITH clicks AS (
        SELECT user_id, ts AS click_ts
        FROM events
        WHERE coalesce(lower(trim(event_type)), 'unknown') = 'click'
    ),
    purchases AS (
        SELECT user_id, ts AS purchase_ts,
               coalesce(value, 0.0) AS purchase_value
        FROM events
        WHERE coalesce(lower(trim(event_type)), 'unknown') = 'purchase'
    )
    SELECT c.user_id,
           COUNT(*) AS attributed_pairs,
           {sql_dsum('p.purchase_value')} AS attributed_value
    FROM clicks c
    JOIN purchases p
      ON c.user_id = p.user_id
     AND p.purchase_ts > c.click_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL 10 MINUTE
    GROUP BY c.user_id
    ORDER BY c.user_id
    """
