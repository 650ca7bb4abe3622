"""Event-time window aggregation (batch + streaming).

Re-expresses the reference's windowed aggregate (reference
spark/app.py:163-181: A1 sliding-window groupBy with sum / approx-distinct /
max, then window-struct flatten) as a pure transform parameterized by window
size/slide and grouping keys. The same function runs on a batch events table
(DuckDB-oracle checkable) and on a watermarked stream: a streaming caller
passes ``stream.withWatermark(ts, delay)`` and, for append mode,
``approx_distinct=True`` (``streaming.reference_pipeline`` composes it so).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import dsum


def windowed_agg(
    df: DataFrame,
    *,
    window: str = "1 hour",
    slide: str | None = None,
    keys: list[str] | None = None,
    approx_distinct: bool = False,
) -> DataFrame:
    """Tumbling (slide=None) or sliding event-time window aggregation.

    Aggregates mirror reference spark/app.py:168-173: total of the metric
    column, distinct-count of the event id (``event_id`` — the reference's
    ``unique_events``, spark/app.py:171), distinct users, max event time,
    and a row count. ``approx_distinct=True`` uses HyperLogLog++
    (``approx_count_distinct``, the reference's streaming-safe choice,
    spark/app.py:171); the exact variant is the DuckDB-oracle-checkable twin
    (SURVEY.md §7.2b). Catalyst plans a partial aggregate before the exchange
    on (window, keys), so the shuffle carries one row per group per input
    partition — this holds at any scale.

    The output flattens the window struct to ``window_start``/``window_end``
    (reference spark/app.py:177-181) so downstream consumers and file sinks
    see flat columns.
    """
    keys = keys or []
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    d = F.approx_count_distinct if approx_distinct else F.countDistinct
    agg = df.groupBy(win.alias("window"), *keys).agg(
        dsum("value", "total_value"),
        d("event_id").alias("unique_events"),
        d("user_id").alias("unique_users"),
        F.max("ts").alias("max_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        agg.withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
        .select(
            "window_start", "window_end", *keys,
            "total_value", "unique_events", "unique_users", "max_ts", "n_events",
        )
    )


def session_agg(df: DataFrame, *, gap: str = "2 hours") -> DataFrame:
    """Session windows: per-key activity bursts separated by ≥ ``gap``.

    ``F.session_window`` (not in the reference — SURVEY.md §2.8 T2 notes it
    as the natural extension): a session starts at its first event and ends
    ``gap`` after its last; an event joins the session iff it arrives within
    ``gap`` of the previous one. One shuffle on (key), then per-key merge —
    the same cost shape as any keyed aggregation. DuckDB oracle twin: the
    classic gaps-and-islands (lag → new-session flag → running sum id).
    """
    w = F.session_window("ts", gap)
    agg = df.groupBy(w.alias("w"), "user_id").agg(
        dsum("value", "total_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "total_value",
        "n_events",
    )


def sql_session_agg() -> str:
    """DuckDB gaps-and-islands twin of :func:`session_agg`.

    New-session predicate is ``diff >= gap`` to match Spark exactly: a
    session's window ends ``gap`` after its last event, and an event at
    precisely the boundary starts a NEW session.
    """
    from ..functions import sql_dsum

    return f"""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts - LAG(ts) OVER w >= INTERVAL 2 HOUR
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC NULLS FIRST)
    ),
    sess AS (
        SELECT *, SUM(is_new) OVER (
            PARTITION BY user_id ORDER BY ts ASC NULLS FIRST
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS sid
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 2 HOUR AS session_end,
           {sql_dsum('value')} AS total_value,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """
