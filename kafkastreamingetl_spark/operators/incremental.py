"""Incremental-maintenance operators: delta-merge of aggregates and
snapshot diffing.

Extension surface beyond the reference (its Airflow job recomputes the
daily rollup from scratch each run — reference airflow/dags/
kafka_spark_etl.py:47): at 100 TB the history scan is the bottleneck, so
the lake-engine answer is

- :func:`incremental_rollup_merge` — keep yesterday's aggregate, aggregate
  only the new slice, merge partials by key. Correct because every
  aggregate here is decomposable (COUNT and an exact DECIMAL SUM — partial
  merge is associative and loss-free; floating-point partials would NOT
  commute, which is why the sums stay decimal until the final cast).
- :func:`snapshot_diff` — classify keys as added / removed / changed /
  unchanged between two point-in-time states (the CDC-diff primitive
  behind incremental syncs and audit reports).

Both cut the scan to the delta; both shuffle only key-grained rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import DEC, sql_dsum

# ---------------------------------------------------------------------------
# incremental aggregate maintenance
# ---------------------------------------------------------------------------


def _partial_rollup(events: DataFrame) -> DataFrame:
    """Partial (mergeable) daily rollup: COUNT + exact decimal SUM per
    (event_date, event_type). The sum is kept as DECIMAL — NOT cast to
    double — so merging partials is exact and order-independent."""
    return events.groupBy(
        F.col("ts").cast("date").alias("event_date"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(DEC)).alias("_tv_dec"),
    )


def merge_partial_rollups(*partials: DataFrame) -> DataFrame:
    """Merge any number of partial rollups by key: counts add, decimal sums
    add. The public schema casts the sum to double exactly once, at the
    end — merged output is bit-identical to a from-scratch recompute
    (asserted in tests/test_temporal_incremental.py)."""
    merged = partials[0]
    for p in partials[1:]:
        merged = merged.unionByName(p)
    return merged.groupBy("event_date", "event_type").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("_tv_dec").cast("double").alias("total_value"),
    )


def incremental_rollup_merge(
    base_events: DataFrame, delta_events: DataFrame
) -> DataFrame:
    """The maintained view after a delta lands: aggregate ONLY the delta,
    merge with the (persisted, here recomputed-for-test) base partials.

    At scale `base` is read back from the stored partial table — the
    expensive side of this plan is sized by the delta, not the history.
    """
    return merge_partial_rollups(
        _partial_rollup(base_events), _partial_rollup(delta_events)
    )


def sql_incremental_rollup_merge() -> str:
    # The oracle is the from-scratch recompute: if partial-merge were not
    # exactly decomposable the differential would catch it. The explicit
    # `ts IS NOT NULL` keeps the contract honest: the Spark side is the
    # union of two half-open ts slices whose pushed-down bounds both drop
    # NULL ts rows, while an unfiltered oracle would group them under a
    # NULL event_date — the slices partition the NON-NULL ts domain, and
    # the filter states that instead of depending on testdata having no
    # NULL ts (ADVICE r6).
    return f"""
    SELECT CAST(ts AS DATE) AS event_date,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# point-in-time snapshot diff (CDC classify)
# ---------------------------------------------------------------------------


def user_state(events: DataFrame) -> DataFrame:
    """Per-user state summary at a point in time: event count, exact value
    total, and the latest event_type (deterministic: newest (ts, event_id)
    wins). Callers pre-filter ``events`` to rows before the snapshot
    cutoff — with :func:`~..catalog.load_events` the cutoff reaches the
    parquet scan as a pushed filter.

    ONE aggregation over one scan: the newest row's type rides as
    ``max(struct(ts, event_id, event_type))`` — (ts, event_id) is unique,
    so the struct max picks exactly the newest row and carries its type
    even when that type is NULL (where ``max_by`` semantics around NULL
    args differ between engines). The obvious window+filter+join
    alternative plans a SECOND full fact scan (Catalyst does not CSE
    across DataFrame branches), doubling snapshot-diff's I/O at scale.
    """
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(DEC)).alias("_tv_dec"),
        F.max(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
            "last_type"
        ),
    )


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Classify each key across two state snapshots and roll the classes
    up: added / removed / changed / unchanged, with user counts and the
    net event/value movement per class.

    One full-outer join on the key; comparisons are null-safe so a NULL
    ``last_type`` never misclassifies. Snapshot states are key-grained
    (one row per user), so the join is dimension-sized even when the
    underlying fact is 100 TB.
    """
    o = old.select(
        F.col("user_id"),
        F.col("n_events").alias("o_n"),
        F.col("_tv_dec").alias("o_tv"),
        F.col("last_type").alias("o_type"),
    )
    n = new.select(
        F.col("user_id"),
        F.col("n_events").alias("n_n"),
        F.col("_tv_dec").alias("n_tv"),
        F.col("last_type").alias("n_type"),
    )
    j = o.join(n, "user_id", "full_outer")
    same = (
        F.col("o_n").eqNullSafe(F.col("n_n"))
        & F.col("o_tv").eqNullSafe(F.col("n_tv"))
        & F.col("o_type").eqNullSafe(F.col("n_type"))
    )
    classified = j.withColumn(
        "change_type",
        F.when(F.col("o_n").isNull(), F.lit("added"))
        .when(F.col("n_n").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed")),
    )
    return classified.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            F.coalesce(F.col("n_n"), F.lit(0))
            - F.coalesce(F.col("o_n"), F.lit(0))
        ).alias("net_new_events"),
        F.sum(
            F.coalesce(F.col("n_tv"), F.lit(0).cast(DEC))
            - F.coalesce(F.col("o_tv"), F.lit(0).cast(DEC))
        )
        .cast("double")
        .alias("net_value_delta"),
    )


def sql_snapshot_diff(cut_old: str, cut_new: str) -> str:
    def state(cut: str, alias: str) -> str:
        return f"""
    {alias} AS (
        SELECT a.user_id, a.n_events, a.tv, l.last_type
        FROM (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                   SUM(CAST(value AS DECIMAL(18,4))) AS tv
            FROM events WHERE ts < TIMESTAMP '{cut}'
            GROUP BY 1
        ) a
        JOIN (
            SELECT user_id, event_type AS last_type
            FROM events WHERE ts < TIMESTAMP '{cut}'
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY user_id
                ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST
            ) = 1
        ) l USING (user_id)
    )"""

    return f"""
    WITH {state(cut_old, 'o')},
    {state(cut_new, 'n')},
    j AS (
        SELECT COALESCE(o.user_id, n.user_id) AS user_id,
               o.n_events AS o_n, o.tv AS o_tv, o.last_type AS o_type,
               n.n_events AS n_n, n.tv AS n_tv, n.last_type AS n_type
        FROM o FULL OUTER JOIN n ON o.user_id = n.user_id
    ),
    c AS (
        SELECT *,
               CASE WHEN o_n IS NULL THEN 'added'
                    WHEN n_n IS NULL THEN 'removed'
                    WHEN o_n IS NOT DISTINCT FROM n_n
                         AND o_tv IS NOT DISTINCT FROM n_tv
                         AND o_type IS NOT DISTINCT FROM n_type
                         THEN 'unchanged'
                    ELSE 'changed' END AS change_type
        FROM j
    )
    SELECT change_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(COALESCE(n_n, 0) - COALESCE(o_n, 0)) AS BIGINT)
               AS net_new_events,
           CAST(SUM(COALESCE(n_tv, CAST(0 AS DECIMAL(18,4)))
                    - COALESCE(o_tv, CAST(0 AS DECIMAL(18,4)))) AS DOUBLE)
               AS net_value_delta
    FROM c
    GROUP BY 1
    """
