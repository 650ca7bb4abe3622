"""Event cleaning: normalization, null-fill, key dedup.

Re-expresses the reference's cleaning stage (reference spark/app.py:66-80)
as pure transforms. The Python UDF there (normalize_device) becomes a
built-in expression; the dedup becomes watermark-bounded in streaming mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import normalize_string


def dedup_deterministic(df: DataFrame, keys: list[str], order_by: list) -> DataFrame:
    """Keep exactly one row per key, chosen by an explicit total order.

    ``dropDuplicates`` (reference spark/app.py:79) keeps an *arbitrary* row
    per key — nondeterministic when duplicate keys carry different payloads.
    This variant is reproducible (and oracle-checkable as
    ``QUALIFY row_number() = 1``): row_number over (partition by keys, order
    by ``order_by``), keep rank 1. Physically: one hash exchange on the keys
    plus a per-group sort over groups of ~duplicate-count rows — same shuffle
    volume as dropDuplicates at any scale.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def clean_events(df: DataFrame) -> DataFrame:
    """Normalize the categorical column, fill null metrics, dedup by key.

    Mirrors reference spark/app.py:72-79 (P2 withColumn, P5 na.fill, P6
    dedup, U1 normalize) on the testdata events schema:

    - ``event_type_norm``: trim+lower, null -> 'unknown'
    - ``value``: null -> 0.0
    - one row per ``event_id`` — survivor chosen by a TOTAL order: (ts,
      value) first, then every remaining column as tiebreaker. Without the
      full-column tail, duplicates tying on (ts, value) but differing
      elsewhere would surface an arbitrary row (partition-order dependent,
      and divergent from the oracle); with it, the pick is hash-stable for
      any input (the reference's dropDuplicates pick is arbitrary).
    """
    cleaned = df.withColumn("event_type_norm", normalize_string("event_type")).na.fill(
        {"value": 0.0}
    )
    lead = ["ts", "value"]
    tail = [c for c in cleaned.columns if c not in (*lead, "event_id")]
    return dedup_deterministic(
        cleaned,
        ["event_id"],
        [F.asc_nulls_first(c) for c in (*lead, *tail)],
    )


def clean_events_streaming(
    df: DataFrame, *, watermark: str = "30 seconds"
) -> DataFrame:
    """Streaming twin of :func:`clean_events` with bounded dedup state.

    The reference keeps *all-time* dedup state (dropDuplicates before the
    watermark declaration, reference spark/app.py:79 vs :160 — SURVEY.md
    §2.8 T3). At 100 TB that state grows without bound, so the engine's
    streaming path declares the watermark first and uses
    ``dropDuplicatesWithinWatermark`` (Spark 3.5+): duplicate keys arriving
    within the watermark horizon are dropped, and state older than the
    horizon is evicted. For the reference's all-time *semantics* without
    its unbounded state, use ``streaming.alltime_dedup_sink`` — the
    seen-set lives in a persisted on-disk hash index probed per
    micro-batch, not in executor memory.
    """
    return (
        df.withWatermark("ts", watermark)
        .withColumn("event_type_norm", normalize_string("event_type"))
        .na.fill({"value": 0.0})
        .dropDuplicatesWithinWatermark(["event_id"])
    )
