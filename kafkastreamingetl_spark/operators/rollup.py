"""The daily batch rollup — the reference's Airflow/pandas stage as Spark.

Re-expresses the eager single-node pandas pipeline (reference
airflow/dags/kafka_spark_etl.py:31-109 — X2: S6 scan, P4 day filter, A2
daily agg, W1 rank, P7 dim dedup, J3 segment join, A3 premium rollup, S7
write) as one lazy Spark query, which is what makes it survive 100 TB: the
pandas stage materialized the whole lake in one process's memory
(kafka_spark_etl.py:47), whereas this plan scans parquet with pushed-down
date predicates and column pruning, aggregates with map-side partials, and
only shuffles group keys.

Semantics notes carried over from SURVEY.md §7.2d:
- the pandas rank (sort + cumcount + 1, kafka_spark_etl.py:73-78) is
  ``row_number`` — ties get distinct consecutive ranks — so we use
  ``row_number`` with a deterministic tiebreaker, not ``rank``.
- the pandas dim-dedup-then-join (kafka_spark_etl.py:93-94) keeps an
  arbitrary row per segment; we make it deterministic by aggregating the
  premium flag per segment (``max``), which matches the reference's data
  (its dim was functionally 1:1) without its nondeterminism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import dsum

PREMIUM_BALANCE_THRESHOLD = 5000.0


def with_event_date(df: DataFrame) -> DataFrame:
    """F5/F7: timestamp -> date (reference spark/app.py:179,
    kafka_spark_etl.py:54)."""
    return df.withColumn("event_date", F.to_date(F.col("ts")))


def daily_aggregate(
    events: DataFrame, customer: DataFrame, *, approx_distinct: bool = False
) -> DataFrame:
    """A2: per-(date, event_type, segment) revenue + distinct-event count.

    The shared core of :func:`daily_segment_metrics` and
    :func:`premium_rollup` (reference kafka_spark_etl.py:64-70). Factored out
    so the premium rollup never pays for the rank's window sort it would
    immediately discard. The user dim join is left unhinted — customer is a
    scale-proportional table, not a fixed dim; AQE broadcasts it when (and
    only when) its runtime size is under threshold.

    ``approx_distinct=True`` swaps exact ``countDistinct`` (the oracle twin)
    for ``approx_count_distinct`` (HyperLogLog++, the reference's own choice
    at spark/app.py:171) — at 100 TB the exact distinct's expand+shuffle on
    (group keys × event_id) is the dominant cost; production callers should
    prefer the approximate path.
    """
    dim = customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    d = F.approx_count_distinct if approx_distinct else F.countDistinct
    enriched = with_event_date(events).join(dim, "user_id", "left")
    return enriched.groupBy("event_date", "event_type", "segment").agg(
        dsum("value", "daily_revenue"),
        d("event_id").alias("daily_events"),
    )


def daily_segment_metrics(events: DataFrame, customer: DataFrame) -> DataFrame:
    """A2 + W1: daily aggregate plus in-group revenue rank.

    row_number by revenue within (event_date, event_type), with a segment
    tiebreaker so results are deterministic under ties (SURVEY.md §7.2d).
    """
    daily = daily_aggregate(events, customer)
    w = Window.partitionBy("event_date", "event_type").orderBy(
        F.desc("daily_revenue"), F.asc("segment")
    )
    return daily.withColumn("revenue_rank_in_type", F.row_number().over(w))


def premium_rollup(events: DataFrame, customer: DataFrame) -> DataFrame:
    """P7 + J3 + A3: segment-dim dedup-join then premium-level rollup
    (reference kafka_spark_etl.py:81-100).

    The per-segment premium flag is derived with a deterministic aggregate
    (max over the segment) replacing the reference's order-dependent
    ``drop_duplicates`` pick.
    """
    daily = daily_aggregate(events, customer)
    seg_dim = (
        customer.select(
            F.col("c_mktsegment").alias("segment"),
            (F.col("c_acctbal") > F.lit(PREMIUM_BALANCE_THRESHOLD)).alias("is_premium"),
        )
        .groupBy("segment")
        .agg(F.max("is_premium").alias("segment_is_premium"))
    )
    joined = daily.join(F.broadcast(seg_dim), "segment", "left")
    return (
        joined.groupBy("event_date", "event_type", "segment_is_premium")
        .agg(
            dsum("daily_revenue", "total_revenue"),
            F.sum("daily_events").alias("total_events"),
        )
    )


# ---------------------------------------------------------------------------
# X2 end-to-end: run-date slice, partitioned write, guards, quality check
# ---------------------------------------------------------------------------


def filter_run_date(df: DataFrame, run_date: str) -> DataFrame:
    """P4/F8: keep one day of events (reference kafka_spark_etl.py:54-57).

    The predicate is a half-open *timestamp range*, not
    ``to_date(ts) == run_date``: a raw-column range comparison pushes down to
    the parquet scan (row-group min/max pruning; PushedFilters in the plan),
    and prunes partitions when the lake is date-partitioned — a cast wrapped
    around the column would defeat both. Semantically identical for
    whole-day slices.
    """
    start = F.lit(run_date).cast("date").cast("timestamp")
    return df.filter(
        (F.col("ts") >= start)
        & (F.col("ts") < start + F.expr("INTERVAL 1 DAY"))
    )


def daily_segment_metrics_for_date(
    events: DataFrame, customer: DataFrame, run_date: str
) -> DataFrame:
    """The reference's parameterized daily batch (X1+P4+A2+W1): one day's
    segment metrics. The day filter sits *under* the join and aggregate, so
    at scale the job reads one day's row groups, not the lake."""
    return daily_segment_metrics(
        filter_run_date(events, run_date),
        customer,
    )


def write_daily_metrics(df: DataFrame, path: str) -> None:
    """S7 + H2 + H5: hive-partitioned parquet write of the metrics table
    (reference kafka_spark_etl.py:102-107 single-file write; spark/app.py:184,
    194 repartition + partitionBy).

    ``repartition(event_date)`` before ``partitionBy(event_date)`` means each
    output date directory is written by one task — without it every task
    writes a file into every date dir (task_count × date_count small files,
    the classic partitioned-write mistake at scale).

    Overwrite is per-partition, not per-table:
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` makes
    mode('overwrite') replace only the date partitions present in ``df`` —
    re-running day N is idempotent and days 1..N-1 survive (asserted in
    tests/test_rollup_batch.py::test_incremental_daily_writes). The conf is
    applied HERE, defensively: on a caller-built session Spark defaults to
    static overwrite, which would truncate the table root.
    """
    from ..session import ensure_runtime_confs

    ensure_runtime_confs(df.sparkSession)
    (
        df.repartition("event_date")
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )


def is_empty(df: DataFrame) -> bool:
    """P8: empty-input guard (reference kafka_spark_etl.py:49-61) — the
    built-in ``isEmpty`` already stops at the first row found."""
    return df.isEmpty()


def _check_count(n: int, *, fail: bool = False) -> int:
    """The one zero-row QC policy: warn (or raise) — shared by the
    df-counting wrapper and callers that already hold a count."""
    import warnings

    if n == 0:
        msg = "quality_check: output has 0 rows"
        if fail:
            raise ValueError(msg)
        warnings.warn(msg, stacklevel=3)
    return n


def quality_check(df: DataFrame, *, fail: bool = False) -> int:
    """X4/A4: soft row-count check (reference kafka_spark_etl.py:127-142).

    Returns the row count; warns (or raises with ``fail=True``) on 0 rows —
    the reference's check is warn-only, so that is the default.
    """
    return _check_count(df.count(), fail=fail)


def run_daily_batch(
    events: DataFrame,
    customer: DataFrame,
    run_date: str,
    output_path: str | None = None,
) -> int:
    """X2 end-to-end: slice → aggregate → rank → (optionally) write →
    quality-check. Returns the output row count, as the reference's batch
    job does (kafka_spark_etl.py:106-109).

    The expensive join+aggregate plan executes ONCE, and on the write path
    the QC metrics ride the write itself: an ``observe()`` node
    (quality.observe_qc) computes row count, null-key count, and the
    decimal value total DURING the write action — zero extra jobs, where
    the naive guard→write→count sequence would re-run the day's
    scan+join+aggregate (or even a read-back of the written partition)
    just to count rows. A null event_date fails BEFORE any file lands: a
    per-row ``assert_true`` guard aborts the write job itself — a
    post-hoc check would notice only after a __HIVE_DEFAULT_PARTITION__
    directory had committed, and under dynamic partition overwrite a
    corrected rerun never cleans a partition it does not carry, so the
    poison directory would be permanent.
    """
    if is_empty(filter_run_date(events, run_date)):
        # cheap guard: limit(1) over the pushed-down day slice only
        return 0
    metrics = daily_segment_metrics_for_date(events, customer, run_date)
    if output_path is not None:
        from .quality import observe_qc

        guarded = metrics.filter(
            F.assert_true(
                F.col("event_date").isNotNull(),
                F.lit("daily batch: NULL event_date partition key"),
            ).isNull()
        )
        observed, obs = observe_qc(guarded, "daily_qc", value_col="daily_revenue")
        write_daily_metrics(observed, output_path)
        n = obs.get["n_rows"]
    else:
        n = metrics.count()
    return _check_count(n)
