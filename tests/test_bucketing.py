"""Bucketed-layout lane: the write-once/join-free contract.

Pins the three plan facts the layout exists for (join without Exchange,
groupBy-on-bucket-key without Exchange, mismatched widths fall back to a
shuffle) and the correctness fact that the bucketed copies answer
identically to the raw tables.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafkastreamingetl_spark.operators import bucketing
from kafkastreamingetl_spark.plans import plan_shape_and_text


def _exchanges(df) -> int:
    return plan_shape_and_text(df)[0].get("Exchange", 0)


@pytest.fixture(scope="module")
def pair(spark, tmp_path_factory):
    """Two small frames sharing key k, bucketed into matching widths."""
    root = str(tmp_path_factory.mktemp("bkt"))
    a = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a_val")
    )
    b = spark.range(0, 6000).select(
        (F.col("id") % 2000).alias("k"), (F.col("id") % 11).alias("b_val")
    )
    bucketing.write_bucketed(a, "t_bkt_a", "k", 4, path_root=root)
    bucketing.write_bucketed(b, "t_bkt_b", "k", 4, path_root=root)
    bucketing.write_bucketed(b, "t_bkt_b8", "k", 8, path_root=root)
    yield a, b
    for t in ("t_bkt_a", "t_bkt_b", "t_bkt_b8"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cobucketed_join_plans_zero_exchange(spark, pair):
    a, b = pair
    joined = (
        spark.table("t_bkt_a")
        .hint("merge")
        .join(spark.table("t_bkt_b"), "k")
    )
    assert _exchanges(joined) == 0
    # the unbucketed twin of the same plan pays a shuffle per side
    assert _exchanges(a.hint("merge").join(b, "k")) == 2
    # and the layout is faithful: identical rows either way
    got = sorted(map(tuple, joined.collect()))
    want = sorted(map(tuple, a.join(b, "k").collect()))
    assert got == want


def test_groupby_on_bucket_key_is_exchange_free(spark, pair):
    agg = spark.table("t_bkt_b").groupBy("k").agg(F.sum("b_val"))
    assert _exchanges(agg) == 0


def test_mismatched_bucket_counts_fall_back_to_exchange(spark, pair):
    joined = (
        spark.table("t_bkt_a")
        .hint("merge")
        .join(spark.table("t_bkt_b8"), "k")
    )
    # same answer, amortization lost — the documented same-width contract
    assert _exchanges(joined) >= 1
    a, b = pair
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, a.join(b, "k").collect())
    )


def test_one_file_per_bucket(spark, pair, tmp_path_factory):
    """The pre-repartition in write_bucketed leaves exactly one file per
    bucket (not n_input_partitions × n_buckets splinters), so the scan
    can trust the per-bucket sort order."""
    location = (
        spark.sql("DESCRIBE TABLE EXTENDED t_bkt_a")
        .filter(F.col("col_name") == "Location")
        .collect()[0][1]
    )
    path = location.removeprefix("file:")
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    assert len(parts) == 4


def test_ensure_order_tables_memoized_per_session(spark, sf_dir, tmp_path):
    root = str(tmp_path)
    names = bucketing.ensure_bucketed_order_tables(
        spark, sf_dir, n_buckets=4, path_root=root
    )
    mtimes = {
        f: os.path.getmtime(os.path.join(root, names[0], f))
        for f in os.listdir(os.path.join(root, names[0]))
    }
    again = bucketing.ensure_bucketed_order_tables(
        spark, sf_dir, n_buckets=4, path_root=root
    )
    assert again == names
    assert mtimes == {
        f: os.path.getmtime(os.path.join(root, names[0], f))
        for f in os.listdir(os.path.join(root, names[0]))
    }
    for t in names:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    bucketing._BUCKETED_MEMO.clear()


def test_rollup_matches_unbucketed_twin(spark, sf_dir, tmp_path):
    from kafkastreamingetl_spark.catalog import load_table

    names = bucketing.ensure_bucketed_order_tables(
        spark, sf_dir, n_buckets=4, path_root=str(tmp_path)
    )
    got = bucketing.order_priority_revenue(
        spark.table(names[0]), spark.table(names[1])
    )
    want = bucketing.order_priority_revenue(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # the serving join itself: no Exchange below the aggregate's — the
    # only shuffle in the whole plan is the final tiny per-priority agg
    join_only = (
        spark.table(names[0])
        .select("o_orderkey", "o_orderpriority")
        .hint("merge")
        .join(
            spark.table(names[1]).select("l_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
    )
    assert _exchanges(join_only) == 0
    for t in names:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    bucketing._BUCKETED_MEMO.clear()
