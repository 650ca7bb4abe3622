"""The paper's streaming pipeline as a benchmark workload.

source (parquet files, one per micro-batch) → clean → dim join →
watermarked sliding window → parquet lake, driven by
``streaming.reference_pipeline`` + ``streaming.run_available_now``, then the
daily rollup (``operators.rollup.run_daily_batch``) over every replayed
date. Closed loop with one client: the next micro-batch starts only when
the previous one has committed.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime, timedelta

import datagen
import duckdb
import pyarrow.parquet as pq
import stats
from tracing import ProgressLog, Tracer
from pyspark.sql import functions as F

from kafkastreamingetl_spark import streaming
from kafkastreamingetl_spark.catalog import load_table
from kafkastreamingetl_spark.operators.cleaning import normalize_string
from kafkastreamingetl_spark.operators.rollup import run_daily_batch
from kafkastreamingetl_spark.operators.windows import windowed_agg
from kafkastreamingetl_spark.oracle import compare_frames
from kafkastreamingetl_spark.queries import ORACLE_SQL
from kafkastreamingetl_spark.sources import EVENT_SCHEMA

WATERMARK_S = 30
N_USERS = 1500  # customer keys at sf0.1 are 0..14999; a tenth of them are active


@dataclass(frozen=True)
class StreamShape:
    n_files: int
    events_per_file: int
    file_span_s: float
    start: datetime


#: The paper's design point: small batches, each covering less event time
#: than the 30 s watermark, so per-batch fixed cost dominates. The replay
#: crosses midnight, so the rollup runs over two dates.
TRICKLE = StreamShape(n_files=24, events_per_file=500, file_span_s=20.0,
                      start=datetime(2024, 1, 1, 23, 56))
WARMUP = StreamShape(n_files=3, events_per_file=500, file_span_s=20.0,
                     start=datetime(2024, 1, 3, 23, 59, 30))


def _start_us(shape: StreamShape) -> int:
    return int((shape.start - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _dates(shape: StreamShape) -> list[str]:
    end = shape.start + timedelta(seconds=shape.n_files * shape.file_span_s)
    d, out = shape.start.date(), []
    while d <= end.date():
        out.append(d.isoformat())
        d += timedelta(days=1)
    return out


def _source(spark, in_dir: str):
    # sources.file_events_source plus the rate limit that makes each file
    # its own micro-batch
    return (spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(in_dir))


def write_inputs(work: str, seed: int, shape: StreamShape, name: str) -> str:
    in_dir = os.path.join(work, f"{name}_in")
    datagen.write_stream_files(
        in_dir, seed, n_files=shape.n_files, events_per_file=shape.events_per_file,
        file_span_s=shape.file_span_s, n_users=N_USERS, start_us=_start_us(shape),
    )
    return in_dir


def _stream(spark, customer, in_dir: str, work: str, name: str):
    queries = streaming.reference_pipeline(
        _source(spark, in_dir), customer, lake_path=os.path.join(work, f"{name}_lake"),
        checkpoint_dir=os.path.join(work, f"{name}_ckpt"), available_now=True,
    )
    streaming.run_available_now(queries)
    (q,) = queries
    return q


def _rollup(spark, customer, in_dir: str, work: str, name: str, shape: StreamShape,
            tracer) -> tuple[list[float], int]:
    events = spark.read.schema(EVENT_SCHEMA).parquet(in_dir)
    out = os.path.join(work, f"{name}_daily")
    date_ms, rows = [], 0
    for d in _dates(shape):
        t = time.perf_counter()
        with tracer.span("rollup_date", date=d):
            rows += run_daily_batch(events, customer, d, out)
        date_ms.append(1000.0 * (time.perf_counter() - t))
    return date_ms, rows


def warm_up(spark, customer, in_dir: str, work: str) -> None:
    """Untimed: one short replay on its own checkpoint, with the rollup of
    its input running beside it, so one-off compilation and the state
    store's first load stay out of the timed replay."""
    with ThreadPoolExecutor(2) as ex:
        jobs = [ex.submit(_stream, spark, customer, in_dir, work, "warmup"),
                ex.submit(_rollup, spark, customer, in_dir, work, "warmup", WARMUP,
                          Tracer(False))]
        for j in jobs:
            j.result()


def replay(spark, customer, in_dir: str, work: str, name: str, shape: StreamShape,
           progress, tracer) -> dict:
    """One replay of ``in_dir`` on a fresh checkpoint, then the rollup.
    Returns timings and the per-batch progress reports."""
    t0 = time.perf_counter()
    with tracer.span("stream", workload=name):
        q = _stream(spark, customer, in_dir, work, name)
    t_stream = time.perf_counter()
    date_ms, rollup_rows = _rollup(spark, customer, in_dir, work, name, shape, tracer)
    t_end = time.perf_counter()
    reports = progress.for_run(str(q.runId), shape.n_files - 1)
    return {
        "stream_s": t_stream - t0, "wall_s": t_end - t0, "date_ms": date_ms,
        "rollup_rows": rollup_rows, "reports": reports,
        "lake": os.path.join(work, f"{name}_lake"),
        "rollup_out": os.path.join(work, f"{name}_daily"),
    }


def batch_layers(reports: list[dict]) -> dict[str, float]:
    """Per-layer stream numbers from the progress reports of one replay."""
    data = [p for p in reports if p["numInputRows"] > 0]

    def med(f) -> float:
        return statistics.median([f(p) for p in data]) if data else 0.0

    def dur(p, *keys) -> float:
        return float(sum(p["durationMs"].get(k, 0) for k in keys))

    def st(p, key) -> float:
        return float(sum(s.get(key, 0) for s in p["stateOperators"]))

    return {
        "streaming.plan_ms": med(lambda p: dur(p, "queryPlanning")),
        "streaming.commit_ms": med(lambda p: dur(p, "walCommit", "commitOffsets")),
        "streaming.add_batch_ms": med(lambda p: dur(p, "addBatch")),
        "streaming.batches": float(len(data)),
        "sources.offset_ms": med(lambda p: dur(p, "latestOffset", "getBatch")),
        "sources.input_rows": float(sum(p["numInputRows"] for p in reports)),
        "state.commit_ms": med(lambda p: st(p, "commitTimeMs")),
        "state.update_ms": med(lambda p: st(p, "allUpdatesTimeMs")),
        "state.removal_ms": med(lambda p: st(p, "allRemovalsTimeMs")),
        "state.rows_total_max": max((st(p, "numRowsTotal") for p in reports), default=0.0),
        "state.memory_mb_max": max((st(p, "memoryUsedBytes") for p in reports), default=0.0) / 2**20,
        "state.rows_dropped_late": sum(st(p, "numRowsDroppedByWatermark") for p in reports),
    }


def sink_layers(lake: str) -> dict[str, float]:
    files = glob.glob(os.path.join(lake, "**", "*.parquet"), recursive=True)
    return {
        "sink.files": float(len(files)),
        "sink.bytes": float(sum(os.path.getsize(f) for f in files)),
        "sink.rows": float(sum(pq.ParquetFile(f).metadata.num_rows for f in files)),
    }


def expected_lake(spark, customer, in_dir: str):
    """The lake as one batch query with the stream's semantics: the same
    cleaning, exact dedup (duplicates share a file, so the watermarked dedup
    sees every one), the dim join and the sliding window, keeping only the
    windows the final watermark (max event time − 30 s) has closed."""
    raw = spark.read.schema(EVENT_SCHEMA).parquet(in_dir)
    cleaned = (raw.withColumn("event_type_norm", normalize_string("event_type"))
               .na.fill({"value": 0.0}).dropDuplicates(["event_id"]))
    dim = customer.select(F.col("c_custkey").alias("user_id"),
                          F.col("c_mktsegment").alias("segment"))
    agg = windowed_agg(cleaned.join(dim, "user_id", "left"), window="1 minute",
                       slide="30 seconds", keys=["event_type_norm", "segment"],
                       approx_distinct=True)
    wm = raw.agg(F.max("ts")).first()[0] - timedelta(seconds=WATERMARK_S)
    return agg.filter(F.col("window_end") <= F.lit(wm))


def check(spark, customer, customer_path: str, in_dir: str, run: dict,
          shape: StreamShape, layers: dict[str, float]) -> list[str]:
    """Correctness of one replay; returns the failures found."""
    failures = []
    if layers["streaming.batches"] != shape.n_files:
        failures.append(f"batches {layers['streaming.batches']:.0f} != {shape.n_files}")
    if layers["sources.input_rows"] != shape.n_files * shape.events_per_file:
        failures.append(f"input rows {layers['sources.input_rows']:.0f}")
    if layers["state.rows_dropped_late"] != 0:
        failures.append(f"{layers['state.rows_dropped_late']:.0f} rows dropped as late")
    got = spark.read.parquet(run["lake"]).toPandas()
    want = expected_lake(spark, customer, in_dir).toPandas()
    res = compare_frames("lake", got, want)
    if not res.ok or len(got) == 0:
        failures.append(f"lake: {res}")
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * REPLACE (make_timestamp(epoch_us(ts)) AS ts)"
            f" FROM read_parquet('{in_dir}/*.parquet')")
        con.execute(f"CREATE VIEW customer AS SELECT * FROM '{customer_path}'")
        want_daily = con.execute(ORACLE_SQL["daily_segment_metrics"]).df()
    finally:
        con.close()
    got_daily = spark.read.parquet(run["rollup_out"]).toPandas()
    res = compare_frames("daily_rollup", got_daily, want_daily)
    if not res.ok or run["rollup_rows"] != len(want_daily):
        failures.append(f"rollup: {res} (reported {run['rollup_rows']} rows)")
    return failures


def run_workload(spark, ctx) -> dict:
    """stream_trickle: warm-up replay on its own checkpoint, then the timed
    replay and rollup, then the checks."""
    progress = ProgressLog()
    spark.streams.addListener(progress)
    customer = load_table(spark, ctx.tables_dir, "customer")
    customer_path = os.path.join(ctx.tables_dir, "customer.parquet")
    shape = TRICKLE
    warm_in = write_inputs(ctx.work, ctx.seed + 1_000_003, WARMUP, "warmup")
    main_in = write_inputs(ctx.work, ctx.seed, shape, "trickle")
    tw = time.perf_counter()
    warm_up(spark, customer, warm_in, ctx.work)
    warm_s = time.perf_counter() - tw

    before = ctx.counters.settle() if ctx.counters else None
    run = replay(spark, customer, main_in, ctx.work, "trickle", shape, progress, ctx.tracer)
    after = ctx.counters.settle() if ctx.counters else None

    data = [p for p in run["reports"] if p["numInputRows"] > 0]
    batch_ms = [float(p["durationMs"]["triggerExecution"]) for p in data]
    tail_p, tail_ms = stats.tail(batch_ms)
    layers = {**batch_layers(run["reports"]), **sink_layers(run["lake"]),
              "rollup.date_ms": statistics.median(run["date_ms"]),
              "rollup.rows": float(run["rollup_rows"])}
    failures = check(spark, customer, customer_path, main_in, run, shape, layers)
    if before is not None:
        layers.update(ctx.counters.delta(before, after, run["wall_s"], ctx.cores))
    return {
        "wall_s": run["wall_s"],
        "op_p50_ms": statistics.median(batch_ms),
        "op_tail_ms": tail_ms,
        "rows_per_s": layers["sources.input_rows"] / run["stream_s"],
        "attempted": shape.n_files + len(run["date_ms"]),
        "failures": failures,
        "layers": layers,
        "detail": {"tail_percentile": round(tail_p, 1), "n_batches": len(batch_ms),
                   "batch_ms": batch_ms,
                   "rollup_dates": _dates(shape), "stream_s": run["stream_s"],
                   "rollup_s": sum(run["date_ms"]) / 1000.0, "warmup_s": warm_s},
    }
