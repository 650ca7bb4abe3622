"""Exact distributed ntile (operators/rankstats) — semantics equal to
``F.ntile`` bit-for-bit, execution without a single-partition global sort.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from kafkastreamingetl_spark.operators.rankstats import exact_ntile_cuts


def _reference_ntile(df, n, cols):
    w = Window.orderBy(*[F.col(c).asc_nulls_first() for c in cols])
    return df.withColumn("bucket", F.ntile(n).over(w).cast("int"))


def _ntile(df, n, cols, **kw):
    """One cut into a ``bucket`` column."""
    return exact_ntile_cuts(df, [(n, cols, "bucket")], **kw)


@pytest.mark.parametrize(
    ("rows", "n"),
    [
        (97, 10),   # N % n != 0: first N%n buckets one row larger
        (100, 10),  # even split
        (7, 10),    # N < n: every row its own bucket 1..N
        (1, 10),
        (33, 4),
        (1000, 32),
    ],
)
def test_exact_ntile_matches_window_ntile(spark, rows, n):
    df = spark.range(rows).select(
        (F.col("id") * 37 % 53).alias("v"), F.col("id").alias("uid")
    )
    expected = _reference_ntile(df, n, ["v", "uid"])
    got = _ntile(df, n, ["v", "uid"])
    assert expected.exceptAll(got).count() == 0
    assert got.exceptAll(expected).count() == 0


def test_exact_ntile_null_leading_values_bucket_first(spark):
    df = spark.range(40).select(
        F.when(F.col("id") < 5, None).otherwise(F.col("id")).alias("v"),
        F.col("id").alias("uid"),
    )
    expected = _reference_ntile(df, 4, ["v", "uid"])
    got = _ntile(df, 4, ["v", "uid"])
    assert expected.exceptAll(got).count() == 0
    assert got.exceptAll(expected).count() == 0


def test_exact_ntile_heavy_tie_on_leading_key(spark):
    # one value carries half the frame: range buckets degrade to skew,
    # the ANSWER must not (ties broken by uid exactly like the window)
    df = spark.range(200).select(
        F.when(F.col("id") % 2 == 0, 7).otherwise(F.col("id")).alias("v"),
        F.col("id").alias("uid"),
    )
    expected = _reference_ntile(df, 10, ["v", "uid"])
    got = _ntile(df, 10, ["v", "uid"])
    assert expected.exceptAll(got).count() == 0
    assert got.exceptAll(expected).count() == 0


def test_exact_ntile_bit_equal_across_widths(spark):
    """Bucket assignment is exchange-width-independent: explicit widths 1,
    32, 200 and the session-derived default (the shuffle width at call
    time) all produce the identical frame — width sets balance, never the
    answer."""
    df = spark.range(997).select(
        (F.col("id") * 37 % 53).alias("v"), F.col("id").alias("uid")
    )
    base = sorted(_ntile(df, 10, ["v", "uid"], num_partitions=1).collect())
    for width in (32, 200, None):
        got = sorted(_ntile(df, 10, ["v", "uid"], num_partitions=width).collect())
        assert got == base, f"width={width}"


def test_exact_ntile_default_width_tracks_session(spark):
    """The default cut width is read from the session's
    spark.sql.shuffle.partitions at call time, not hardcoded. (The
    PHYSICAL partition count of the output is AQE's business — the width
    shows up as the number of quantile bounds the cut derives.)"""
    from kafkastreamingetl_spark.operators import rankstats

    df = spark.range(50).select(
        F.col("id").alias("v"), F.col("id").alias("uid")
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        ranked = _ntile(df, 5, ["v", "uid"])
        assert rankstats.last_width == 7
        # and the answer is still exact at that width
        expected = _reference_ntile(df, 5, ["v", "uid"])
        assert expected.exceptAll(ranked).count() == 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_exact_ntile_rejects_helper_column_collisions(spark):
    df = spark.range(3).select(F.col("id").alias("_rn"), "id")
    with pytest.raises(ValueError):
        _ntile(df, 2, ["id"])


def test_exact_ntile_single_cut_plan_is_linear(spark):
    """One cut plans like many: every window spec is PARTITIONED (by the
    deterministic range-bound _pid), with no checkpoint barrier (no
    ExistingRDD scan) and no ntile. An empty-partition windowspec anywhere
    would be the single-task funnel (and would emit Spark's 'No Partition
    Defined' warning in the driver's bench tail)."""
    from test_plan_shapes import _unpartitioned_window_specs

    df = spark.range(500).select(
        (F.col("id") % 97).alias("v"), F.col("id").alias("uid")
    )
    got = _ntile(df, 10, ["v", "uid"])
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition" in plan
    assert not _unpartitioned_window_specs(plan)
    assert "ntile" not in plan.lower()
    assert "ExistingRDD" not in plan


def test_exact_ntile_cuts_matches_window_ntile_and_plan_is_linear(spark):
    """Two cuts over one frame: bit-equal to two chained window ntiles;
    every window spec in the plan is PARTITIONED (by the deterministic
    range-bound _pid) and there is no checkpoint barrier (no ExistingRDD
    scan) and no broadcast offsets join — the offsets are literals."""
    from test_plan_shapes import _unpartitioned_window_specs

    df = spark.range(997).select(
        (F.col("id") * 37 % 53).alias("v"),
        (F.col("id") * 11 % 17).alias("w"),
        F.col("id").alias("uid"),
    )
    got = exact_ntile_cuts(
        df, [(10, ["v", "uid"], "bv"), (4, ["w", "uid"], "bw")]
    )
    expected = df
    for n, cols, name in ((10, ["v", "uid"], "bv"), (4, ["w", "uid"], "bw")):
        w = Window.orderBy(*[F.col(c).asc_nulls_first() for c in cols])
        expected = expected.withColumn(name, F.ntile(n).over(w).cast("int"))
    assert expected.exceptAll(got).count() == 0
    assert got.exceptAll(expected).count() == 0
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert not _unpartitioned_window_specs(plan)
    assert "ntile" not in plan.lower()
    assert "ExistingRDD" not in plan


def _assert_same_rows(expected, got):
    assert expected.exceptAll(got).count() == 0
    assert got.exceptAll(expected).count() == 0


def test_exact_ntile_string_keys_of_mixed_length(spark):
    """String leading keys cut in string order: NULL and '' first, a key
    below every longer key it prefixes, 'az' below 'b' (an unpadded byte
    prefix read 'az' as 0x617A, above 'b' at 0x62), multibyte UTF-8 after
    ASCII — bit-equal to F.ntile through both forms of the leading key
    (column name and Column)."""
    keys = ["", "az", "b", None, "a", "azzzzzzzz", "b\x00", "zz", "é", "日本語"]
    df = spark.createDataFrame(
        [(k, i * len(keys) + j) for i in range(6) for j, k in enumerate(keys)],
        "k string, uid int",
    )
    expected = _reference_ntile(df, 4, ["k", "uid"])
    for lead in ("k", F.col("k")):
        _assert_same_rows(expected, _ntile(df, 4, [lead, "uid"], num_partitions=8))


def test_exact_ntile_sort_order_lead_matches_column_lead(spark):
    """A leading sort-order Column in the cut's own order
    (``asc_nulls_first()``) gives the same buckets as the column itself:
    the bounds come from the value under the sort order, never from the
    sort order. Any other order is rejected, naming the column."""
    keys = ["", "az", "b", None, "a", "azzzzzzzz", "b\x00", "zz", "é", "日本語"]
    df = spark.createDataFrame(
        [(k, i * len(keys) + j) for i in range(6) for j, k in enumerate(keys)],
        "k string, uid int",
    )
    expected = _reference_ntile(df, 4, ["k", "uid"])
    lead = F.col("k").asc_nulls_first()
    _assert_same_rows(expected, _ntile(df, 4, [lead, "uid"], num_partitions=8))
    with pytest.raises(ValueError, match="k DESC"):
        _ntile(df, 4, [F.col("k").desc(), "uid"])


def test_exact_ntile_cuts_wide_shuffle_is_capped_and_stays_codegen(
    spark, monkeypatch
):
    """At a cluster-scale shuffle width (2000) the cut derives at most 64
    range bounds: its partition id is one unrolled CASE per
    bound, and 1999 of them overflowed the SQL parser. The answer stays
    bit-equal, and the counts aggregate keeps whole-stage codegen with
    every generated method under Spark's huge-method limit (above it
    codegen silently falls back to the interpreted path) and under
    HotSpot's 8000-byte JIT limit (above it the method stays in the
    bytecode interpreter)."""
    import re

    from kafkastreamingetl_spark.operators import rankstats

    counts = []
    orig = rankstats._partition_counts

    def _capture(base, pids):
        counts.append(orig(base, pids))
        return counts[-1]

    monkeypatch.setattr(rankstats, "_partition_counts", _capture)
    df = spark.range(5000).select(
        (F.col("id") * 37 % 4999).alias("v"), F.col("id").alias("uid")
    )
    got = _ntile(df, 10, ["v", "uid"], num_partitions=2000)
    assert rankstats.last_width == 64
    _assert_same_rows(_reference_ntile(df, 10, ["v", "uid"]), got)

    qe = counts[-1]._jdf.queryExecution()
    final = qe.executedPlan().toString().split("== Initial Plan ==")[0]
    aggs = [line for line in final.splitlines() if "HashAggregate(" in line]
    assert aggs and all(re.search(r"\*\(\d+\) HashAggregate", a) for a in aggs)
    codegen = spark._jvm.PythonSQLUtils.explainString(qe, "codegen")
    sizes = [int(m) for m in re.findall(r"maxMethodCodeSize:(\d+)", codegen)]
    limit = int(spark.conf.get("spark.sql.codegen.hugeMethodLimit", "65535"))
    assert sizes and max(sizes) <= limit, (sizes, limit)
    assert max(sizes) < 8000, sizes


def test_registered_decile_and_zorder_lanes_use_rankstats(spark, sf_dir):
    """The three ntile lanes (the two single-cut queries VERDICT r6
    flagged as scale-weak, and the three-cut RFM census) all route
    through exact_ntile_cuts and share its linear plan: partitioned
    windows only, no ntile, no checkpoint barrier (ExistingRDD scan)."""
    from test_plan_shapes import _unpartitioned_window_specs

    from kafkastreamingetl_spark.queries import QUERIES

    for name in ("user_ltv_deciles", "events_zorder_layout", "user_rfm_segments"):
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "windowspecdefinition" in plan, name
        assert not _unpartitioned_window_specs(plan), name
        assert "ntile" not in plan.lower(), name
        assert "ExistingRDD" not in plan, name


def test_rfm_segments_match_window_ntile_differential(spark, sf_dir):
    """The registered RFM query (three exact-ntile cuts) must equal the
    same census computed with Spark's own global-window ntile."""
    from pyspark.sql import functions as F

    from kafkastreamingetl_spark.catalog import load_events
    from kafkastreamingetl_spark.functions import dsum
    from kafkastreamingetl_spark.queries import QUERIES

    got = QUERIES["user_rfm_segments"](spark, sf_dir)
    ev = load_events(spark, sf_dir).filter(
        F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    )
    u = ev.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "ltv"),
    )

    def cut(metric, name):
        w = Window.orderBy(
            F.col(metric).asc_nulls_first(), F.col("user_id").asc_nulls_first()
        )
        return F.ntile(4).over(w).cast("int").alias(name)

    expected = (
        u.select(
            "user_id",
            "ltv",
            cut("last_us", "r_bucket"),
            cut("n_events", "f_bucket"),
            cut("ltv", "m_bucket"),
        )
        .groupBy("r_bucket", "f_bucket", "m_bucket")
        .agg(F.count(F.lit(1)).alias("n_users"), dsum("ltv", "total_ltv"))
    )
    assert expected.exceptAll(got).count() == 0
    assert got.exceptAll(expected).count() == 0
