"""Sources: Kafka adapters and synthetic event generation.

Covers the reference's source surface (SURVEY.md §2.1):

- S1 Kafka streaming source (reference spark/app.py:53-59) — adapter that
  builds the reader; needs the spark-sql-kafka connector + a broker at
  runtime, neither of which exists in the test container, so tests read a
  parquet file stream with ``EVENT_SCHEMA`` instead (same downstream
  lineage).
- S2 JSON decode + envelope flatten (reference spark/app.py:61-63).
- S9 synthetic event generator (reference producer/producer.py:19-44) —
  re-expressed as Spark-native column expressions over ``range`` (batch,
  seed-deterministic) or the ``rate`` source (streaming). The reference's
  dirty-data features are preserved: messy casing/padding on the categorical
  column, ~1/6 null categorical, 10% null metric, 5% duplicate event ids,
  occasional unmatched user ids.

All generators stay JVM-side (``F.rand(seed)`` + array lookups) — the
reference's Python loop at 5 msg/s becomes millions of rows/s per core, and
the same expressions run unchanged on a 1000-executor cluster because
``rand`` is seeded per-partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The canonical event schema (testdata `events`, TESTDATA.md) — the engine's
# analogue of the reference's 7-field wire schema (spark/app.py:40-50).
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

EVENT_TYPES = ("click", "view", "purchase", "refund", "search")
# Messy variants the cleaning stage must normalize (reference
# producer/producer.py:35-36 injects 'mobile ', 'MOBILE', ' Mobile').
MESSY_EVENT_TYPES = tuple(
    v for t in EVENT_TYPES for v in (t, t.upper(), f" {t.capitalize()} ", f"{t} ")
)


# ---------------------------------------------------------------------------
# S1/S2: Kafka in, JSON decode
# ---------------------------------------------------------------------------


def kafka_source(spark: SparkSession, bootstrap_servers: str, topic: str) -> DataFrame:
    """S1/T7: Kafka streaming reader (reference spark/app.py:53-59).

    ``startingOffsets=earliest`` replays the full topic on a fresh
    checkpoint, exactly as the reference configures. Requires the
    spark-sql-kafka connector on the classpath (not bundled here).
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )


def decode_json_events(df: DataFrame, schema: T.StructType = EVENT_SCHEMA) -> DataFrame:
    """S2/F1/F2: bytes→string→``from_json``→flatten (reference
    spark/app.py:61-63). Malformed JSON yields null fields (PERMISSIVE),
    matching the reference's behavior."""
    return df.select(
        F.from_json(F.col("value").cast("string"), schema).alias("data")
    ).select("data.*")


# ---------------------------------------------------------------------------
# S9: synthetic dirty-event generation
# ---------------------------------------------------------------------------


def _pick(arr: tuple[str, ...], rand: F.Column) -> F.Column:
    """Uniform pick from a literal array via a [0,1) random column."""
    lit = F.array(*[F.lit(v) for v in arr])
    return F.element_at(lit, (rand * len(arr)).cast("int") + 1)


def _event_columns(df: DataFrame, *, seed: int, n_users: int, base_ts: str) -> DataFrame:
    """The dirty-event column pack over a ``seq`` long column.

    Mirrors the reference producer's distributions
    (producer/producer.py:19-44): 5% duplicate event ids (consecutive seq
    collapsed), messy-cased/padded categorical values, ~1/6 null
    categorical (the producer's null-country rate, producer.py:30-36 —
    exercising the normalize null→'unknown' branch), 10% null metric,
    ~5% of user ids outside the dim range (unmatched in enrichment joins).
    Fully deterministic for a given (seed, row count, partitioning of
    ``df``): every random column derives from seeded ``rand``.
    """
    r = lambda off: F.rand(seed + off)  # noqa: E731
    dup = (r(1) < 0.05) & (F.col("seq") > 0)
    return df.select(
        # 5% of rows reuse the previous sequence id -> duplicate event_id
        F.when(dup, F.col("seq") - 1).otherwise(F.col("seq")).alias("event_id"),
        (
            F.lit(base_ts).cast("timestamp")
            + F.make_interval(secs=F.round(F.col("seq") * 0.5 + r(2) * 30, 3))
        ).alias("ts"),
        F.when(r(3) < 0.05, F.lit(10_000_000))
        .otherwise((r(4) * n_users).cast("long"))
        .alias("user_id"),
        F.when(r(9) < 1.0 / 6, F.lit(None).cast("string"))
        .otherwise(_pick(MESSY_EVENT_TYPES, r(5)))
        .alias("event_type"),
        F.when(r(6) < 0.10, F.lit(None).cast("double"))
        .otherwise(F.round(r(7) * 195 + 5, 2))
        .alias("value"),
        F.to_json(F.struct((r(8) * 100).cast("int").alias("k"))).alias("props"),
    )


def synthetic_events_batch(
    spark: SparkSession,
    n: int,
    *,
    seed: int = 42,
    base_ts: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """Seed-deterministic dirty events for tests (S9 batch twin).

    ``spark.range`` is already distributed; the column pack adds no shuffle,
    so generation parallelizes linearly (contrast: the reference's
    single-threaded 5 msg/s Python loop).
    """
    rng = spark.range(0, n, numPartitions=spark.sparkContext.defaultParallelism)
    return _event_columns(
        rng.select(F.col("id").alias("seq")),
        seed=seed,
        n_users=1500,
        base_ts=base_ts,
    )


def synthetic_events_stream(spark: SparkSession) -> DataFrame:
    """S9 streaming: ``rate`` source + the same column pack (reference
    producer loop, producer/producer.py:54-63, minus the sleep)."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", 1000).load()
    return _event_columns(
        rate.select(F.col("value").alias("seq")),
        seed=42,
        n_users=1500,
        base_ts="2024-01-01 00:00:00",
    )
