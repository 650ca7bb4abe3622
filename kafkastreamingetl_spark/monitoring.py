"""Streaming observability: capture per-batch progress as queryable data.

The reference's only visibility into its stream is the console sink
(reference spark/app.py:200-205). Production pipelines watch the
*progress stream* instead: rows/sec, batch duration, watermark lag, and
state-store size per micro-batch — the signals that say "state is growing
without bound" or "this stage can't keep up" long before a failure.

``ProgressRecorder`` is a ``StreamingQueryListener`` that keeps each
query's ``QueryProgressEvent`` payload; ``progress_frame`` lifts the
captured history into a DataFrame so the same engine that runs the
pipeline can aggregate its own telemetry (e.g. p95 batch duration per
query). Listener callbacks run on the driver and the recorder holds only
progress JSON — bounded by (queries × retained batches), never data-sized.
"""

from __future__ import annotations

import json
from threading import Lock

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

PROGRESS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("query_name", T.StringType()),
        T.StructField("batch_id", T.LongType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField("num_input_rows", T.LongType()),
        T.StructField("input_rows_per_second", T.DoubleType()),
        T.StructField("batch_duration_ms", T.LongType()),
        T.StructField("watermark", T.StringType()),
        T.StructField("state_rows_total", T.LongType()),
    ]
)


class ProgressRecorder(StreamingQueryListener):
    """Collects every query's per-batch progress until detached."""

    def __init__(self, max_events: int = 10_000):
        # ring buffer: the bound must drop the OLDEST events — a
        # keep-first cap would freeze telemetry at the cap while the
        # stream keeps running, hiding every later regression
        from collections import deque

        self._events: deque[dict] = deque(maxlen=max_events)
        self._lock = Lock()

    # StreamingQueryListener interface -------------------------------------
    def onQueryStarted(self, event):  # noqa: N802 (Spark API casing)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self._events.append(p)  # deque evicts the oldest at maxlen

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    # consumption ----------------------------------------------------------
    def rows(self) -> list[tuple]:
        with self._lock:
            events = list(self._events)
        out = []
        for p in events:
            state = p.get("stateOperators") or []
            out.append(
                (
                    p.get("id"),
                    p.get("runId"),
                    p.get("name"),
                    int(p.get("batchId", -1)),
                    p.get("timestamp"),
                    int(p.get("numInputRows", 0)),
                    float(p.get("inputRowsPerSecond") or 0.0),
                    int((p.get("batchDuration") or 0)),
                    (p.get("eventTime") or {}).get("watermark"),
                    sum(int(s.get("numRowsTotal", 0)) for s in state),
                )
            )
        return out


def attach(spark: SparkSession) -> ProgressRecorder:
    rec = ProgressRecorder(10_000)
    spark.streams.addListener(rec)
    return rec


def detach(spark: SparkSession, rec: ProgressRecorder) -> None:
    spark.streams.removeListener(rec)


def progress_frame(spark: SparkSession, rec: ProgressRecorder) -> DataFrame:
    """The recorder's history as a DataFrame (telemetry is data too)."""
    return spark.createDataFrame(rec.rows(), PROGRESS_SCHEMA)


def batch_duration_summary(frame: DataFrame) -> DataFrame:
    """Per-query batch-duration profile — the first dashboard anyone builds."""
    return frame.groupBy("query_name").agg(
        F.count(F.lit(1)).alias("n_batches"),
        F.sum("num_input_rows").alias("total_rows"),
        F.max("batch_duration_ms").alias("max_batch_ms"),
        F.percentile_approx("batch_duration_ms", 0.95).alias("p95_batch_ms"),
        F.max("state_rows_total").alias("max_state_rows"),
    )


def observed_metrics(rec: ProgressRecorder) -> list[dict]:
    """Per-batch ``observe()`` metrics from the captured progress stream:
    one dict per (batch, observation) with query/batch identity plus the
    observation's named aggregates — the streaming leg of the free-rider
    QC pattern (quality.observe_qc): metrics computed DURING each
    micro-batch, surfaced through the progress listener, zero extra jobs
    or scans anywhere.
    """
    with rec._lock:
        events = list(rec._events)
    out = []
    for p in events:
        for obs_name, metrics in (p.get("observedMetrics") or {}).items():
            out.append(
                {
                    "query_name": p.get("name"),
                    "batch_id": int(p.get("batchId", -1)),
                    "observation": obs_name,
                    **(metrics or {}),
                }
            )
    return out
