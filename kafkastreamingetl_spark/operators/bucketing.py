"""Bucketed (pre-shuffled) table layout — the repeat-join amortization lane.

SURVEY §2 H1 records the reference's per-run hash-repartition of its
dimension frames (reference spark/app.py:118-121); this engine deliberately
skips that for broadcast-sized dims (catalog.py dim docstring). Bucketing is
what that idea becomes when it IS right at 100 TB: a fact table hashed into
a fixed number of buckets on its join key ONCE, at write time
(``bucketBy(n, key).sortBy(key).saveAsTable``), so every later join or
aggregate on that key reads the shuffle off disk instead of re-running it
per query.

Scale shape: with ``spark.sql.sources.bucketing.enabled`` (Spark default)
the scan of a bucketed table reports ``HashPartitioning(key, n_buckets)``
to the planner, so

- a join between two tables bucketed on the SAME key with the SAME bucket
  count plans as a sort-merge join with **zero Exchange**
  (``tests/test_bucketing.py`` pins this against the unbucketed twin's
  two shuffles), and
- a groupBy on the bucket key — including the partial phase of a
  ``COUNT(DISTINCT key)`` under a coarser grouping — aggregates without a
  shuffle, because hash-partitioning on a SUBSET of the grouping columns
  already co-locates every group.

The write itself pays one shuffle per table; the amortization argument is
N repeat joins for one write-time shuffle — the layout a nightly
orders⋈lineitem pipeline (or a dedup index keyed by doc hash) should buy
once per refresh. ``n_buckets`` is the parallelism/memory dial: each
bucket must fit an executor's sort buffer, so 100 TB of lineitem wants
thousands of buckets (the default here is sized for the local test corpus;
production callers pass their own). Mismatched bucket counts fall back to
a planned Exchange — same answer, amortization lost — which the tests pin
as the documented contract, not a surprise.

Buckets also bound skew differently than salting (operators/skew.py): the
bucket function is a fixed hash, so a single hot KEY still lands in one
bucket — bucketing amortizes shuffles, it does not split hot keys. The two
techniques compose: salt the hot keys, bucket the corpus.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import SessionMemo

# Repo-local default warehouse root: explicit per-table paths keep the
# physical files under the repository even when the caller's session was
# built elsewhere (a bare driver session's spark.sql.warehouse.dir follows
# ITS working directory, which is not ours to write into).
_WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
)

# Buckets sized for the local test corpus (sf0.001–sf0.1). Production
# callers size this so one bucket of the biggest table fits an executor's
# sort buffer.
DEFAULT_BUCKETS = 8

# (sf_dir, n_buckets) -> (orders_table, lineitem_table). The build is
# per-session because the in-memory catalog forgets table metadata when
# the session ends (files persist; bucket METADATA does not without a
# metastore) — so each session rebuilds once, then every query reuses the
# catalog entry. One entry per (sf, width) pair used; callers use at most
# two, and an evicted pair is simply rebuilt.
_BUCKETED_MEMO = SessionMemo(16)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    *,
    path_root: str | None = None,
) -> None:
    """Materialize ``df`` as a parquet table bucketed (and bucket-sorted)
    on ``bucket_col`` — the one write-time shuffle later joins skip.

    Drops any prior table/files first: bucket metadata lives in the
    session catalog, so files left by a DEAD session are unreadable as
    buckets and must not leak into the fresh layout.
    """
    spark = df.sparkSession
    path = os.path.join(path_root or _WAREHOUSE, table)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(path, ignore_errors=True)
    # repartition with the SAME hash the bucket assignment uses → each
    # write task holds exactly one bucket → one file per bucket, so the
    # read-back scan can trust the per-bucket sort instead of re-sorting
    # (M input partitions × n buckets small files otherwise).
    (
        df.repartition(n_buckets, F.col(bucket_col))
        .write.format("parquet")
        .mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def ensure_bucketed_order_tables(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_buckets: int = DEFAULT_BUCKETS,
    path_root: str | None = None,
) -> tuple[str, str]:
    """Idempotently build the bucketed twins of orders and lineitem for
    ``sf_dir`` (co-bucketed on the order key) and return their table
    names. One write per session per (sf, width) — the refresh-time cost
    the serving queries amortize.
    """
    from ..catalog import load_table

    abs_dir = os.path.abspath(sf_dir)

    def build() -> tuple[str, str]:
        tag = hashlib.md5(f"{abs_dir}|{n_buckets}".encode()).hexdigest()[:8]
        names = (f"bkt_orders_{tag}", f"bkt_lineitem_{tag}")
        write_bucketed(
            load_table(spark, sf_dir, "orders"),
            names[0],
            "o_orderkey",
            n_buckets,
            path_root=path_root,
        )
        write_bucketed(
            load_table(spark, sf_dir, "lineitem"),
            names[1],
            "l_orderkey",
            n_buckets,
            path_root=path_root,
        )
        return names

    return _BUCKETED_MEMO.get(spark, (abs_dir, n_buckets), build)


def order_priority_revenue(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Per-priority order/line counts and net revenue over the
    orders⋈lineitem join — the repeat-join consumer the bucketed layout
    exists for.

    The join is MERGE-hinted so the plan is the co-partitioned sort-merge
    join at every scale factor (a broadcast of the small-sf orders side
    would be a fine plan too, but it would hide the zero-Exchange property
    this lane demonstrates — and at 100 TB neither side broadcasts).
    Money math follows the pricing_summary discipline: cents-scaled
    integers accumulated in DECIMAL(38,0), one double divide per group.
    """
    p100 = F.round(F.col("l_extendedprice") * 100).cast("long")
    d100 = F.round(F.col("l_discount") * 100).cast("long")
    o = orders.select("o_orderkey", "o_orderpriority")
    li = lineitem.select(
        F.col("l_orderkey"),
        (p100 * (F.lit(100) - d100)).alias("net_scaled"),
    )
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_orderpriority").alias("order_priority"))
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_lines"),
            (
                F.sum(F.col("net_scaled").cast("decimal(38,0)")).cast("double")
                / F.lit(10000.0)
            ).alias("net_revenue"),
        )
    )


def sql_order_priority_revenue() -> str:
    """DuckDB twin of :func:`order_priority_revenue` over the RAW tables —
    the differential proves the bucketed copies are a faithful layout of
    the source, not just a fast one."""
    return """
    WITH s AS (
        SELECT o.o_orderpriority, o.o_orderkey,
               CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                   AS net_scaled
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority AS order_priority,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(net_scaled) AS DOUBLE) / 10000.0 AS net_revenue
    FROM s
    GROUP BY 1
    """
