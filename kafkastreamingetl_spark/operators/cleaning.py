"""Event cleaning: normalization, null-fill, key dedup.

Re-expresses the reference's cleaning stage (reference spark/app.py:66-80)
as pure transforms. The Python UDF there (normalize_device) becomes a
built-in expression; the dedup becomes watermark-bounded in streaming mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import normalize_string


def dedup_deterministic(
    df: DataFrame, keys: list[str], order_by: list, *, rn_col: str = "_rn"
) -> DataFrame:
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
        df.withColumn(rn_col, F.row_number().over(w))
        .filter(F.col(rn_col) == 1)
        .drop(rn_col)
    )


def clean_events(
    df: DataFrame,
    *,
    type_col: str = "event_type",
    value_col: str = "value",
    key_col: str = "event_id",
    ts_col: str = "ts",
) -> DataFrame:
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
    cleaned = df.withColumn(f"{type_col}_norm", normalize_string(type_col)).na.fill(
        {value_col: 0.0}
    )
    lead = [ts_col, value_col]
    tail = [c for c in cleaned.columns if c not in (*lead, key_col)]
    return dedup_deterministic(
        cleaned,
        [key_col],
        [F.asc_nulls_first(c) for c in (*lead, *tail)],
    )


def clean_events_streaming(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    watermark: str = "30 seconds",
    key_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
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
        df.withWatermark(ts_col, watermark)
        .withColumn(f"{type_col}_norm", normalize_string(type_col))
        .na.fill({value_col: 0.0})
        .dropDuplicatesWithinWatermark([key_col])
    )
