"""Point-in-time (as-of) join — a time-series operator Spark lacks natively.

``asof_join(left, right, keys)`` attaches, to every left row, the newest
right row with the same keys and ``right.ts <= left.ts`` (inclusive).

Spark-first construction — the union + running-last trick, NOT a range
join: tag both inputs, union them, and take ``last(_r, ignorenulls=True)``
over a (keys)-partitioned window ordered by (ts, side). Right rows sort
before left rows at equal timestamps, so the inclusive semantics fall out
of the sort order. Cost: ONE hash shuffle on the keys plus a per-partition
sort — the same plan as any windowed aggregate, linear in |left| + |right|.
The naive alternatives explode at scale: an inequality (theta) join is a
per-key cross product, and Spark's range-join support would still shuffle
both sides per bucket. The union form also inherits AQE skew handling for
hot keys.

No analogue in the reference (its joins are all equi-joins); this is
extension surface for event-stream enrichment (last login before purchase,
price as of trade time, config as of event time). The DuckDB oracle twin
uses the native ``ASOF LEFT JOIN`` — a different algorithm reaching the
same answer, which is exactly what makes the differential meaningful.

Right-side contract: at most one row per (keys, ts) — pre-dedupe with
``cleaning.dedup_deterministic`` (the query wrapper does); with duplicate
right timestamps the "newest row" is ill-defined and both engines would be
free to disagree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    *,
    prefix: str = "asof_",
    direction: str = "backward",
    tolerance_sec: int | None = None,
) -> DataFrame:
    """Left as-of join with the full merge_asof knob set; right payload
    columns come back ``{prefix}``-renamed, null when no right row
    qualifies.

    ``direction``:

    - ``backward`` (default): newest right row at-or-before the left
      timestamp — price-as-of-trade, state-as-of-event;
    - ``forward``: earliest right row at-or-after — next-restock,
      next-departure lookups;
    - ``nearest``: the closer of the two (ties resolve backward, matching
      pandas.merge_asof).

    ``tolerance_sec``: a match farther than this from the left timestamp
    comes back NULL — the "a quote from last week is not a quote" guard.
    Under ``nearest`` the tolerance applies to each direction BEFORE the
    nearer-side pick (pandas.merge_asof semantics): an out-of-tolerance
    backward match never shadows a within-tolerance forward one.

    One shuffle on the key columns serves every direction: both sides
    union into one frame, the running ``last(_r, ignorenulls)`` over the
    (ts, side) order fills each left row with its backward match, the same
    window reversed fills the forward match, and nearest is a row-local
    comparison of the two — the windows share the single hash exchange
    (Spark sorts per window spec but never re-shuffles). No per-key cross
    product at any point, unlike the join-then-rank formulation.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown as-of direction: {direction!r}")
    rpayload = [c for c in right.columns if c not in keys and c != "ts"]
    rstruct = F.struct(
        F.col("ts").alias(f"{prefix}ts"),
        *[F.col(c).alias(f"{prefix}{c}") for c in rpayload],
    )
    rstruct_type = right.select(rstruct.alias("_r")).schema["_r"].dataType

    lpayload = [c for c in left.columns if c not in keys and c != "ts"]
    l_tagged = left.select(
        *keys,
        "ts",
        F.lit(1).alias("_is_left"),
        F.lit(None).cast(rstruct_type).alias("_r"),
        *lpayload,
    )
    # A NULL timestamp has no as-of relation in ANY direction (pandas
    # merge_asof rejects null keys outright): null-ts RIGHT rows are
    # dropped — under the windows' null-first orderings they would
    # otherwise pollute every row's running fill — and null-ts LEFT rows
    # sort before every right row in BOTH window directions (nulls first),
    # so their fill is empty and they come back unmatched, preserving the
    # forward(t) == backward(-t) symmetry (negation maps NULL to NULL).
    r_tagged = right.filter(F.col("ts").isNotNull()).select(
        *keys,
        "ts",
        F.lit(0).alias("_is_left"),
        rstruct.alias("_r"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lpayload
        ],
    )
    unioned = l_tagged.unionByName(r_tagged)
    # right before left at equal ts => inclusive (<=/>=) as-of semantics
    w_back = (
        Window.partitionBy(*keys)
        .orderBy(F.asc_nulls_first("ts"), F.asc("_is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*keys)
        .orderBy(F.desc_nulls_first("ts"), F.asc("_is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if direction == "backward":
        filled = unioned.withColumn(
            "_m", F.last("_r", ignorenulls=True).over(w_back)
        )
    elif direction == "forward":
        filled = unioned.withColumn(
            "_m", F.last("_r", ignorenulls=True).over(w_fwd)
        )
    else:  # nearest: both fills, row-local pick; ties resolve backward
        both = unioned.withColumn(
            "_mb", F.last("_r", ignorenulls=True).over(w_back)
        ).withColumn("_mf", F.last("_r", ignorenulls=True).over(w_fwd))
        gap_b = F.abs(
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.col(f"_mb.{prefix}ts"))
        )
        gap_f = F.abs(
            F.unix_micros(F.col(f"_mf.{prefix}ts"))
            - F.unix_micros(F.col("ts"))
        )
        if tolerance_sec is not None:
            # merge_asof parity: tolerance filters each DIRECTION before
            # the nearer-side pick — a within-tolerance match on the
            # farther side must win when the nearer side is out of
            # tolerance (nulling after the pick wrongly dropped it).
            tol = F.lit(int(tolerance_sec) * 1_000_000).cast("bigint")
            both = both.withColumn(
                "_mb", F.when(gap_b <= tol, F.col("_mb"))
            ).withColumn("_mf", F.when(gap_f <= tol, F.col("_mf")))
        filled = both.withColumn(
            "_m",
            F.when(F.col("_mb").isNull(), F.col("_mf"))
            .when(F.col("_mf").isNull(), F.col("_mb"))
            .when(gap_f < gap_b, F.col("_mf"))
            .otherwise(F.col("_mb")),
        ).drop("_mb", "_mf")
    if tolerance_sec is not None and direction != "nearest":
        gap = F.abs(
            F.unix_micros(F.col(f"_m.{prefix}ts"))
            - F.unix_micros(F.col("ts"))
        )
        filled = filled.withColumn(
            "_m",
            F.when(
                gap <= F.lit(int(tolerance_sec) * 1_000_000).cast("bigint"),
                F.col("_m"),
            ),
        )
    return filled.filter(F.col("_is_left") == 1).select(
        *keys,
        "ts",
        *lpayload,
        F.col(f"_m.{prefix}ts").alias(f"{prefix}ts"),
        *[F.col(f"_m.{prefix}{c}").alias(f"{prefix}{c}") for c in rpayload],
    )


def events_last_purchase(events: DataFrame) -> DataFrame:
    """Every event enriched with the user's most recent purchase at or
    before its timestamp — the canonical as-of enrichment over the events
    table. Purchases are deduped to one per (user_id, ts) (max event_id)
    to satisfy the right-side contract.
    """
    from .cleaning import dedup_deterministic

    purchases = dedup_deterministic(
        events.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id", "value"
        ),
        ["user_id", "ts"],
        [F.desc("event_id")],
    ).select("user_id", "ts", F.col("value").alias("purchase_value"))
    left = events.select("user_id", "ts", "event_id", "event_type", "value")
    return asof_join(left, purchases, ["user_id"], prefix="last_")


def sql_events_last_purchase() -> str:
    return """
    WITH purch AS (
        SELECT user_id, ts, value AS purchase_value
        FROM events
        WHERE event_type = 'purchase'
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY user_id, ts ORDER BY event_id DESC NULLS LAST
        ) = 1
    )
    SELECT e.user_id, e.ts, e.event_id, e.event_type, e.value,
           p.ts AS last_ts, p.purchase_value AS last_purchase_value
    FROM events e
    ASOF LEFT JOIN purch p ON e.user_id = p.user_id AND e.ts >= p.ts
    """
