"""Physical-layout operators: Z-order (Morton) clustering for multi-
dimensional data skipping.

Extension surface (the reference writes unclustered parquet — reference
airflow/dags/kafka_spark_etl.py:60): a lake queried by BOTH user and time
can only range-partition on one of them; interleaving the two keys' bits
into a Morton code and range-partitioning on THAT gives every file a tight
bounding box in both dimensions, so min/max row-group stats prune on
either predicate. This is the standard OPTIMIZE ZORDER BY technique,
expressed as pure Catalyst bit arithmetic (32 shift/mask terms — codegen-
eligible, no UDF).

:func:`zvalue` builds the code; :func:`zorder_layout_report` assigns
range buckets (stand-ins for output files) and reports each bucket's
per-dimension bounding box — the measurable artifact of clustering
quality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Z_BITS = 16  # bits kept per dimension; 2*Z_BITS-bit Morton code


def zvalue(x: Column, y: Column) -> Column:
    """Morton code: interleave the low ``Z_BITS`` bits of two non-negative
    integer columns (x in even positions, y in odd). Pure shift/mask
    expression tree — whole-stage-codegen eligible."""
    xb = x.cast("bigint").bitwiseAND(F.lit((1 << Z_BITS) - 1))
    yb = y.cast("bigint").bitwiseAND(F.lit((1 << Z_BITS) - 1))
    z = F.lit(0).cast("bigint")
    for k in range(Z_BITS):
        z = z + F.shiftleft(F.shiftright(xb, k).bitwiseAND(F.lit(1)), 2 * k)
        z = z + F.shiftleft(
            F.shiftright(yb, k).bitwiseAND(F.lit(1)), 2 * k + 1
        )
    return z


def sql_zvalue(x: str, y: str) -> str:
    """DuckDB twin of :func:`zvalue` (same shift/mask terms)."""
    mask = (1 << Z_BITS) - 1
    # Every term fully parenthesized: DuckDB (like PostgreSQL) binds `+`
    # TIGHTER than `<<`, so unwrapped `a << 0 + b << 1` cascades the shifts.
    terms = []
    for k in range(Z_BITS):
        terms.append(f"(((({x} & {mask}) >> {k}) & 1) << {2 * k})")
        terms.append(f"(((({y} & {mask}) >> {k}) & 1) << {2 * k + 1})")
    return "(" + " + ".join(terms) + ")"


def events_zcoded(events: DataFrame) -> DataFrame:
    """Events with their Morton code over (user_id, minute-of-epoch):
    the two dimensions ad-hoc queries actually filter on.

    Both dimensions are min-max normalized to the full ``Z_BITS`` range
    BEFORE interleaving (exact integer scaling — bigint multiply, integer
    DIV). Raw values would break the clustering: user ids use ~8 bits
    where epoch minutes use 16+, so every high interleaved bit would come
    from time alone and range-bucketing the code would degenerate into a
    pure time sort with no user-axis pruning (this is why production
    ZORDER implementations interleave per-column *ranks*, not raw values).
    The one extra min/max aggregate is a cheap column-stats scan; at a
    real lake it comes free from table metadata.
    """
    top = (1 << Z_BITS) - 1
    minute = F.expr("unix_micros(ts) DIV 60000000")
    base = events.select("event_id", "user_id", "ts", minute.alias("_minute"))
    stats = base.agg(
        F.min("user_id").alias("_umin"),
        F.max("user_id").alias("_umax"),
        F.min("_minute").alias("_mmin"),
        F.max("_minute").alias("_mmax"),
    )
    s = base.join(F.broadcast(stats))
    ux = F.expr(
        f"((user_id - _umin) * {top}) DIV greatest(1, _umax - _umin)"
    )
    tx = F.expr(
        f"((_minute - _mmin) * {top}) DIV greatest(1, _mmax - _mmin)"
    )
    return s.select(
        "event_id", "user_id", "ts", zvalue(ux, tx).alias("zval")
    )


def zorder_layout_report(events: DataFrame) -> DataFrame:
    """Range-bucket rows by Morton code (each bucket standing in for one
    output file) and report each bucket's bounding box in BOTH source
    dimensions — small boxes on both axes are what make z-order layouts
    skippable for either predicate.

    Buckets carry exact ``ntile`` semantics (deterministic via the
    (zval, event_id) tie-break, oracle-twinnable) but are computed with
    :func:`..rankstats.exact_ntile_cuts` — rows range-partitioned by
    deterministic bounds on ``zval``, ranked within each partition and
    offset by literal partition counts, never a single-partition global
    sort of the full event frame (the VERDICT r6 scale-killer in the old
    ntile report lane).
    """
    from .rankstats import exact_ntile_cuts

    z = events_zcoded(events)
    b = exact_ntile_cuts(z, [(32, ["zval", "event_id"], "bucket")])
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("zval").alias("z_min"),
        F.max("zval").alias("z_max"),
        F.min("user_id").alias("user_min"),
        F.max("user_id").alias("user_max"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
    )


def sql_zorder_layout_report() -> str:
    top = (1 << Z_BITS) - 1
    zexpr = sql_zvalue("ux", "tx")
    return f"""
    WITH base AS (
        SELECT event_id, user_id, ts,
               epoch_us(ts) // 60000000 AS minute
        FROM events
    ),
    stats AS (
        SELECT MIN(user_id) AS umin, MAX(user_id) AS umax,
               MIN(minute) AS mmin, MAX(minute) AS mmax
        FROM base
    ),
    scaled AS (
        SELECT event_id, user_id, ts,
               ((user_id - umin) * {top})
                   // GREATEST(1, umax - umin) AS ux,
               ((minute - mmin) * {top})
                   // GREATEST(1, mmax - mmin) AS tx
        FROM base CROSS JOIN stats
    ),
    z AS (
        SELECT event_id, user_id, ts, {zexpr} AS zval
        FROM scaled
    ),
    b AS (
        SELECT *, CAST(ntile(32) OVER (
            ORDER BY zval ASC NULLS FIRST, event_id ASC NULLS FIRST
        ) AS INT) AS bucket
        FROM z
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(zval) AS z_min, MAX(zval) AS z_max,
           MIN(user_id) AS user_min, MAX(user_id) AS user_max,
           MIN(ts) AS ts_min, MAX(ts) AS ts_max
    FROM b
    GROUP BY 1
    """

