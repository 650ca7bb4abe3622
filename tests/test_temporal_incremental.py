"""Operator-level properties for the round-6 temporal / incremental /
linkage / layout classes (their value-level correctness is covered by the
parametrized oracle differential; these tests pin the *semantic contracts*
the differential can't express)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from kafkastreamingetl_spark.catalog import load_events, load_table
from kafkastreamingetl_spark.operators import incremental as inc_ops
from kafkastreamingetl_spark.operators import layout as layout_ops
from kafkastreamingetl_spark.operators import temporal as temporal_ops

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF, "events")


# ---------------------------------------------------------------------------
# SCD2 history
# ---------------------------------------------------------------------------


def test_scd2_runs_partition_the_log(spark, events):
    """Interval rows exactly tile the per-user event sequence: run event
    counts sum to the user's event count, and runs never overlap in
    (ts, seq) order — valid_from of run N+1 is >= valid_to of run N."""
    ev = events.filter(F.col("user_id") < 100)
    hist = temporal_ops.scd2_history(ev).cache()
    per_user = hist.groupBy("user_id").agg(
        F.sum("n_events").alias("n_hist"), F.max("run_seq").alias("n_runs")
    )
    truth = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    joined = per_user.join(truth, "user_id")
    assert joined.filter(F.col("n_hist") != F.col("n_events")).count() == 0

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("run_seq")
    overlap = (
        hist.withColumn("_prev_to", F.lag("valid_to").over(w))
        .filter(F.col("_prev_to").isNotNull())
        .filter(F.col("valid_from") < F.col("_prev_to"))
    )
    assert overlap.count() == 0
    hist.unpersist()


def test_scd2_adjacent_runs_change_state(spark, events):
    """Consecutive runs for a user always differ in state (null-safely) —
    if two adjacent runs shared a state the collapse missed a merge."""
    from pyspark.sql import Window

    hist = temporal_ops.scd2_history(events.filter(F.col("user_id") < 100))
    w = Window.partitionBy("user_id").orderBy("run_seq")
    bad = (
        hist.withColumn("_prev", F.lag("event_type").over(w))
        .filter(F.col("run_seq") > 1)
        .filter(F.col("_prev").eqNullSafe(F.col("event_type")))
    )
    assert bad.count() == 0


# ---------------------------------------------------------------------------
# temporal join
# ---------------------------------------------------------------------------


def test_campaign_attribution_points_backward(spark, events):
    """Every attributed purchase's campaign_since is <= its own ts, and
    purchases before a user's first signup stay unattributed (left join)."""
    att = temporal_ops.campaign_attribution(events).cache()
    assert att.filter(F.col("campaign_since") > F.col("ts")).count() == 0
    n_purchases = events.filter(F.col("event_type") == "purchase").count()
    assert att.count() == n_purchases  # left join: nothing dropped
    att.unpersist()


# ---------------------------------------------------------------------------
# EWMA
# ---------------------------------------------------------------------------


def test_ewma_bounded_by_window_extremes(spark, events):
    """An average of windowed values stays within the window's min/max —
    here checked against the user's global value range (a superset)."""
    ew = temporal_ops.user_value_ewma(events)
    rng = (
        events.filter((F.col("user_id") < 50) & F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    )
    # half a cent of slack: values are rounded to integer cents in the op.
    bad = ew.join(rng, "user_id").filter(
        (F.col("ewma_value") < F.col("vmin") - 0.005)
        | (F.col("ewma_value") > F.col("vmax") + 0.005)
    )
    assert bad.count() == 0


# ---------------------------------------------------------------------------
# incremental maintenance
# ---------------------------------------------------------------------------


def test_incremental_merge_equals_recompute(spark):
    """Partial-merge is loss-free: base+delta merged partials are value-
    identical to a from-scratch rollup (exact decimal sums — EXCEPT on
    both directions is empty)."""
    base = load_events(spark, SF, ts_end="2024-01-16")
    delta = load_events(spark, SF, ts_start="2024-01-16")
    merged = inc_ops.incremental_rollup_merge(base, delta)
    full = inc_ops.incremental_rollup_merge(
        load_events(spark, SF), load_events(spark, SF).limit(0)
    )
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_snapshot_diff_classes_cover_all_users(spark):
    """added+removed+changed+unchanged user counts == |union of keys|."""
    old = inc_ops.user_state(load_events(spark, SF, ts_end="2024-01-20"))
    new = inc_ops.user_state(load_events(spark, SF, ts_end="2024-01-25"))
    diff = inc_ops.snapshot_diff(old, new)
    total = diff.agg(F.sum("n_users")).collect()[0][0]
    expected = (
        old.select("user_id").union(new.select("user_id")).distinct().count()
    )
    assert total == expected


def test_snapshot_diff_same_snapshot_all_unchanged(spark):
    state = inc_ops.user_state(load_events(spark, SF, ts_end="2024-01-20"))
    diff = inc_ops.snapshot_diff(state, state)
    rows = {r["change_type"]: r["n_users"] for r in diff.collect()}
    assert set(rows) == {"unchanged"}


# ---------------------------------------------------------------------------
# z-order layout
# ---------------------------------------------------------------------------


def test_zvalue_matches_python_reference(spark):
    """Morton code spot-check against a pure-Python interleave."""

    def py_z(x: int, y: int, bits: int = 16) -> int:
        z = 0
        for k in range(bits):
            z |= ((x >> k) & 1) << (2 * k)
            z |= ((y >> k) & 1) << (2 * k + 1)
        return z

    df = spark.createDataFrame(
        [(3, 5), (0, 0), (65535, 65535), (12345, 54321)], ["x", "y"]
    )
    got = df.select(
        "x", "y", layout_ops.zvalue(F.col("x"), F.col("y")).alias("z")
    ).collect()
    for r in got:
        assert r["z"] == py_z(r["x"], r["y"])


def test_ewma_overflow_guard_fails_loudly(spark):
    """Values outside the 2^43-cent exact-shift domain raise on the Spark
    side too (DuckDB's << already raises) — a wrong-answer-vs-error
    divergence becomes error-vs-error (ADVICE r6)."""
    import pytest
    from kafkastreamingetl_spark.operators.temporal import user_value_ewma

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1, float(1 << 45))],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    with pytest.raises(Exception, match="2\\^43-cent"):
        user_value_ewma(ev).collect()


# ---------------------------------------------------------------------------
# next_event_training_pairs
# ---------------------------------------------------------------------------


def test_next_event_pairs_hand_computed(spark):
    """Known two-user timeline: contexts grow to the 3-cap and slide;
    sequence-initial rows (empty context) and NULL types are absent."""
    from pyspark.sql import functions as F

    from kafkastreamingetl_spark.operators.temporal import (
        next_event_training_pairs,
    )

    rows = [
        (1, 10, "2024-01-01 00:00:01", "a"),
        (2, 10, "2024-01-01 00:00:02", "b"),
        (3, 10, "2024-01-01 00:00:03", None),  # dropped, not a token
        (4, 10, "2024-01-01 00:00:04", "c"),
        (5, 10, "2024-01-01 00:00:05", "d"),
        (6, 10, "2024-01-01 00:00:06", "e"),
        (7, 20, "2024-01-01 00:00:01", "x"),
        (8, 20, "2024-01-01 00:00:02", "y"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r.event_id: (r.context, r.target)
        for r in next_event_training_pairs(ev).collect()
    }
    assert got == {
        2: ("a", "b"),
        4: ("a>b", "c"),
        5: ("a>b>c", "d"),
        6: ("b>c>d", "e"),
        8: ("x", "y"),
    }


def test_next_event_pairs_tie_order_total(spark):
    """Same-ts rows order by event_id — the context is reproducible on
    any partitioning."""
    from pyspark.sql import functions as F

    from kafkastreamingetl_spark.operators.temporal import (
        next_event_training_pairs,
    )

    rows = [
        (2, 1, "2024-01-01 00:00:01", "b"),
        (1, 1, "2024-01-01 00:00:01", "a"),
        (3, 1, "2024-01-01 00:00:02", "c"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    for parts in (1, 5):
        got = {
            r.event_id: (r.context, r.target)
            for r in next_event_training_pairs(ev.repartition(parts)).collect()
        }
        assert got == {2: ("a", "b"), 3: ("a>b", "c")}
