"""Table catalog: load the testdata star schema and register temp views.

Mirrors the reference's two table-acquisition paths — parquet directory scan
(reference airflow/dags/kafka_spark_etl.py:47) and in-memory literal dims
(reference spark/app.py:87-125) — as Spark-native sources. Views registered
here are the entry point for the SQL door (reference spark/app.py:140-156).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import SessionMemo
from .session import ensure_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.getenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Parquet columns stored as TIMESTAMP(NANOS): Spark has no ns timestamp type,
# so these are read as long (nanosAsLong) and converted to microsecond
# TimestampType here. The testdata generator emits µs-exact values, so the
# DIV 1000 is lossless.
NS_TIMESTAMP_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _normalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """Normalize every timestamp column to microsecond TimestampType (LTZ).

    The testdata has shipped in two on-disk flavors across driver rounds:
    TIMESTAMP(NANOS) (read as bigint under nanosAsLong) and naive
    TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ under Spark 4's NTZ inference).
    Engine semantics must not depend on which one a given run sees:
    timestamps are naive UTC instants, and every operator downstream
    (unix_micros range frames, watermarks, window()) expects TimestampType.
    With the session timezone pinned to UTC (session.RUNTIME_CONFS) the
    NTZ→LTZ cast is value-identical, and the bigint path is lossless µs.
    """
    dtypes = dict(df.dtypes)
    for c in NS_TIMESTAMP_COLS.get(name, ()):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
            dtypes[c] = "timestamp"
    for c, t in dtypes.items():
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# Per-session memo of table HANDLES (lazy logical plans — never results or
# cached blocks): building a parquet relation costs a py4j round-trip plus
# file listing, footer schema read and the timestamp-normalization casts
# (~0.14 s measured), and every registered query pays it 1-3 times per
# invocation — ~30 s of the 179-lane bench headline was catalog chatter,
# not computation. DataFrames are immutable, so handing every caller the
# same plan object is semantically identical; each action still scans
# parquet from disk. Keyed by applicationId so a new session never sees a
# stale handle. The file LISTING is pinned at first construction — callers
# reading a path whose contents mutate within one session (no registered
# query or test does) must pass ``refresh=True``.
_SCAN_MEMO = SessionMemo(64)


def _cached_scan(
    spark: SparkSession, path: str, name: str | None, *, refresh: bool = False
) -> DataFrame:
    """Memoized parquet relation; ``name`` keys the per-table timestamp
    normalization (None = raw, no normalization)."""
    key = (os.path.abspath(path), name)
    if refresh:
        _SCAN_MEMO.drop(spark, key)

    def build() -> DataFrame:
        df = spark.read.parquet(path)
        return df if name is None else _normalize_timestamps(df, name)

    return _SCAN_MEMO.get(spark, key, build)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, refresh: bool = False
) -> DataFrame:
    """Parquet scan with partition discovery (reference analogue: S6).

    NOTE: applies the engine's runtime session confs (UTC timezone,
    nanosAsLong — see session.RUNTIME_CONFS) to the caller's session, because
    correctness of timestamps/window boundaries depends on them even when the
    session was built elsewhere (e.g. the driver's). This is a deliberate,
    documented session-wide side effect. The returned handle is memoized per
    (session, path) — see :data:`_SCAN_MEMO`.
    """
    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return _cached_scan(spark, path, name, refresh=refresh)


def load_events(
    spark: SparkSession,
    sf_dir: str,
    *,
    ts_start: str | None = None,
    ts_end: str | None = None,
) -> DataFrame:
    """Events scan with an optional half-open ``[ts_start, ts_end)`` slice
    that actually reaches the parquet reader.

    The underlying relation handle is memoized per (session, path) — the
    file LISTING is pinned at first construction (see :data:`_SCAN_MEMO`).
    A caller that rewrites ``{sf_dir}/events.parquet`` mid-session reads
    the stale listing (ADVICE r15; no registered query or test writes a path it re-reads
    through this function).

    The nanos→timestamp conversion in :func:`load_table` is an expression,
    so a predicate on the *converted* column cannot push down (the scan
    shows only ``IsNotNull``). ``timestamp_micros(ts DIV 1000)`` is
    monotonic in the raw value, so the equivalent bounds are applied to the
    raw int96-nanos column *before* conversion — the plan then carries
    ``PushedFilters: [GreaterThanOrEqual(ts,...), LessThan(ts,...)]`` and
    row-group min/max stats prune untouched days. At 100 TB this is the
    difference between scanning one day and scanning the lake (asserted in
    tests/test_rollup_batch.py).
    """
    from datetime import datetime, timezone

    ensure_runtime_confs(spark)
    df = _cached_scan(spark, os.path.join(sf_dir, "events.parquet"), None)
    raw_type = dict(df.dtypes).get("ts")
    raw_ns = raw_type == "bigint"

    def _utc(iso: str) -> datetime:
        # Naive inputs are UTC by convention (testdata timestamps are naive
        # UTC instants — see session.RUNTIME_CONFS); explicit offsets are
        # honored, not overwritten.
        dt = datetime.fromisoformat(iso)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.astimezone(timezone.utc)

    def _ns(iso: str) -> int:
        # exact to the microsecond: whole seconds via integer epoch plus the
        # parsed microseconds (float timestamp() would round above 2^53 ns).
        dt = _utc(iso)
        whole = int(dt.replace(microsecond=0).timestamp())
        return whole * 1_000_000_000 + dt.microsecond * 1_000

    def _utc_naive(iso: str) -> str:
        # the cast-string twin of _ns for the TIMESTAMP flavors: a
        # TIMESTAMP_NTZ cast IGNORES a trailing offset, so the offset must
        # be applied here — otherwise the selected slice depends on which
        # on-disk flavor a run sees, the exact divergence this function
        # exists to prevent.
        return _utc(iso).replace(tzinfo=None).isoformat(sep=" ")

    # Bounds are applied in the column's *stored* domain (raw nanos long, or
    # naive-UTC NTZ) so they stay attribute-vs-literal comparisons and reach
    # the parquet reader as PushedFilters; the normalization to TimestampType
    # happens after, exactly as in load_table.
    for bound, cmp in ((ts_start, "__ge__"), (ts_end, "__lt__")):
        if bound is None:
            continue
        if raw_ns:
            df = df.filter(getattr(F.col("ts"), cmp)(F.lit(_ns(bound))))
        elif raw_type == "timestamp_ntz":
            df = df.filter(
                getattr(F.col("ts"), cmp)(
                    F.lit(_utc_naive(bound)).cast("timestamp_ntz")
                )
            )
        else:
            # session tz is UTC (ensure_runtime_confs), so the UTC-naive
            # string casts to the same instant the _ns path selects
            df = df.filter(
                getattr(F.col("ts"), cmp)(
                    F.lit(_utc_naive(bound)).cast("timestamp")
                )
            )
    return _normalize_timestamps(df, "events")


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR
) -> dict[str, DataFrame]:
    """Register each table as a temp view (reference spark/app.py:140) so
    ``spark.sql`` queries resolve against the same lineage as the DataFrame
    API."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def dim_from_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """In-memory dimension table (reference spark/app.py:104,125 — S3).

    Small dims should stay broadcast-sized; callers join them with
    ``F.broadcast`` (see operators.enrichment) instead of repartition+cache —
    at 1000 executors a 5-row dim repartitioned to 4 (reference
    spark/app.py:128) would still shuffle the fact side.
    """
    return spark.createDataFrame(rows, schema=schema)
