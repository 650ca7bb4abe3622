"""Physical-plan assertions: the plans we designed are the plans we get.

Correctness tests prove the answers match; these prove the *shape* survives
— pushdown reaches the scan, dims broadcast, large joins sort-merge when
broadcast is off, bucketing deletes the join shuffle, and no query smuggles
a row-at-a-time Python UDF into a hot path.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from kafkastreamingetl_spark.catalog import load_table
from kafkastreamingetl_spark.operators.bucketing import write_bucketed
from kafkastreamingetl_spark.queries import QUERIES


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@contextlib.contextmanager
def conf(spark, key: str, value: str):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_dim_joins_broadcast(spark, sf_dir):
    plan = plan_of(QUERIES["enrich_events"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # nation: fixed 25-row dim


def test_large_join_sort_merges_without_broadcast(spark, sf_dir):
    """J2: with auto-broadcast disabled (the reference's own demo conf,
    spark/app.py:25-26), the unhinted orders⋈lineitem join becomes a
    sort-merge join — proof the query does not depend on a hint."""
    with conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        with conf(spark, "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"):
            plan = plan_of(QUERIES["order_line_rollup"](spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_windowed_agg_has_partial_aggregate(spark, sf_dir):
    """Map-side partial aggregation before the exchange: the shuffle carries
    one row per (window, key) per input partition, not raw events."""
    plan = plan_of(QUERIES["windowed_agg_tumbling"](spark, sf_dir))
    ix_agg = plan.find("HashAggregate")
    ix_exchange = plan.find("Exchange")
    assert 0 < ix_agg, plan
    # formatted plans list operators leaves-first: the partial aggregate
    # must appear as an operator id smaller than the final one; cheap proxy:
    # at least two HashAggregates and one Exchange exist
    assert plan.count("HashAggregate") >= 2 and ix_exchange > 0


def test_no_python_udf_in_any_hot_path(spark, sf_dir):
    """Every registered query is JVM-side except the explicitly-Python
    multimodal stage (Arrow-batched mapInPandas, never row-at-a-time)."""
    for name, fn in QUERIES.items():
        plan = plan_of(fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, f"{name} uses a row-wise Python UDF"
        if name != "multimodal_features":
            assert "PythonUDF" not in plan, f"{name} uses a Python UDF"


def test_column_pruning_reaches_scan(spark, sf_dir):
    """A 2-column consumer reads a 2-column schema off a 5-column table."""
    docs = load_table(spark, sf_dir, "documents")
    two = docs.select("doc_id", F.length("text").alias("n"))
    read_schema = [
        line for line in plan_of(two).splitlines() if "ReadSchema" in line
    ][0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_partitioned_lake_prunes_on_read(spark, sf_dir, tmp_path):
    """H5 payoff: a date predicate over hive-partitioned output becomes a
    PartitionFilter (directory pruning), not a data filter — the layout the
    daily rollup writes is the layout its consumers prune on."""
    from kafkastreamingetl_spark.catalog import load_table
    from kafkastreamingetl_spark.operators.rollup import (
        daily_segment_metrics, write_daily_metrics,
    )

    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    out = str(tmp_path / "lake")
    write_daily_metrics(daily_segment_metrics(events, customer), out)
    back = spark.read.parquet(out).filter(F.col("event_date") == "2024-01-05")
    plan = plan_of(back)
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and "event_date" in part_lines[0], plan
    assert back.count() > 0


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """H-surface at scale: orders/lineitem bucketed on the join key join
    with zero Exchange operators — the co-located-join design for 100 TB
    fact⋈fact joins."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    write_bucketed(orders, "orders_b", "o_orderkey", 8, path_root=str(tmp_path))
    write_bucketed(lineitem, "lineitem_b", "l_orderkey", 8, path_root=str(tmp_path))
    try:
        ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
        with conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
            with conf(spark, "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"):
                joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
                plan = plan_of(joined)
                n = joined.count()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert n == lineitem.count()  # every line item matches one order
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_training_set_sample_scans_documents_once(spark, sf_dir):
    """The composed pipeline (quality → dedup → label join → sample) must
    not rescan `documents` per stage: quality metrics are inline on the
    main projection and the cluster branch consumes the persisted shingle
    features, so the final plan holds exactly one documents scan (and one
    embeddings scan), with zero Python UDFs."""
    from kafkastreamingetl_spark.operators.pipeline import training_set_sample

    df = training_set_sample(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )
    plan = plan_of(df)
    assert plan.count("documents.parquet") == 1, plan
    assert plan.count("embeddings.parquet") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_correlated_subqueries_decorrelate(spark, sf_dir):
    """orders_above_customer_avg phrases two correlated scalar subqueries;
    Catalyst must rewrite them into per-customer aggregates joined back —
    never a per-outer-row re-execution (no nested-loop/cartesian shape).
    This is the plan guarantee that makes analyst-phrased SQL safe at
    100 TB."""
    plan = plan_of(QUERIES["orders_above_customer_avg"](spark, sf_dir))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "HashAggregate" in plan  # the decorrelated per-customer aggs


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    """TPC-H Q1 shape: the ship-date filter must reach the parquet reader
    and the scan must read only the consumed columns (7 of 12)."""
    plan = plan_of(QUERIES["pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


def test_top_revenue_orders_take_ordered(spark, sf_dir):
    """Global ordered LIMIT compiles to TakeOrderedAndProject: each
    partition surrenders its local top 10, the driver merges k-per-
    partition rows — never a full sort of the aggregate."""
    plan = plan_of(QUERIES["top_revenue_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_exists_compiles_to_semi_join(spark, sf_dir):
    """late_order_priority's correlated EXISTS must become a left-semi
    join (membership tested once per order, date predicate as a join
    condition) — never a per-row subquery or nested loop."""
    plan = plan_of(QUERIES["late_order_priority"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_bloom_prefilter_both_stages_shaped_right(spark, sf_dir):
    """The runtime-filter join: the position prefilter is a broadcast
    (hash-position side is bounded at 2^16 rows), and the exact semi join
    exists downstream — prefilter alone would admit false positives."""
    plan = plan_of(QUERIES["bloom_prefilter_join"](spark, sf_dir))
    assert plan.count("LeftSemi") >= 2
    assert "BroadcastHashJoin" in plan


def test_backlog_prefix_sum_has_no_window(spark, sf_dir):
    """orders_pending_backlog: the prefix sum is a triangle broadcast
    self-join over the calendar-bounded day grid — no window operator, no
    single-partition sort anywhere in the plan."""
    plan = plan_of(QUERIES["orders_pending_backlog"](spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_latest_user_state_single_exchange(spark, sf_dir):
    """Compaction: one hash exchange on user_id serves both windows
    (row_number survivor + per-user count) — the second window must not
    add a shuffle."""
    plan = plan_of(QUERIES["latest_user_state"](spark, sf_dir))
    assert plan.count("hashpartitioning(") == 1
    assert plan.count("hashpartitioning(user_id") == 1


def test_lateral_limit_gets_window_group_limit(spark, sf_dir):
    """lateral_top_orders phrases a per-customer ORDER BY ... LIMIT 3 as a
    LATERAL subquery; Catalyst must decorrelate it into a rank window with
    WindowGroupLimit pushdown (map-side <=k-per-key pruning BEFORE the
    exchange) — never a per-outer-row subquery execution."""
    plan = plan_of(QUERIES["lateral_top_orders"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_count_action_prunes_windows(spark, sf_dir):
    """Round-13 finding: a count-only action lets Catalyst eliminate
    cardinality-preserving Window (and Sort) operators, so count-forced
    benchmarks under-measure window lanes. Pinned here because it is why
    the bench forces every lane with a noop-sink write — if a Spark
    upgrade ever stops pruning, this fails and the bench's
    count_action_window_pruning note needs rewording."""
    from kafkastreamingetl_spark.queries import QUERIES

    df = QUERIES["user_running_totals"](spark, sf_dir)
    full = df._jdf.queryExecution().executedPlan().toString()
    counted = df.groupBy().count()._jdf.queryExecution().executedPlan().toString()
    assert "Window" in full
    assert "Window" not in counted


def test_count_action_prunes_unreferenced_projections(spark, sf_dir):
    """The sharper round-14 finding: count()'s bias was never just
    Window/Sort — Catalyst column-prunes ENTIRE expensive projections
    under a count-only action. doc_fingerprint's executed count plan
    scans ``ReadSchema: struct<>`` (zero columns — the whole rolling-hash
    expression never runs; measured 4.5× wall bias at sf0.1). Pinned
    beside the Window twin so the noop action's full rationale stays
    machine-checked."""
    from kafkastreamingetl_spark.queries import QUERIES

    df = QUERIES["doc_fingerprint"](spark, sf_dir)
    full = df._jdf.queryExecution().executedPlan().toString()
    counted = df.groupBy().count()._jdf.queryExecution().executedPlan().toString()
    assert "md5" in full
    assert "md5" not in counted
    assert "ReadSchema: struct<>" in counted


def test_bench_noop_action_executes_window_nodes(spark, sf_dir):
    """The positive half: the bench's action (noop-sink write) must
    execute the Window operator count() prunes — checked against the
    actually-EXECUTED plan via the UI REST /sql surface, not the
    pre-execution explain. If a Spark upgrade ever teaches the noop sink
    a count-style pruning, the committed window walls go optimistic again
    and this fails."""
    import json as _json
    import urllib.request

    import bench

    assert bench.ACTION == "noop"
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        pytest.skip("Spark UI disabled — executed-plan surface unavailable")
    df = QUERIES["user_running_totals"](spark, sf_dir)
    bench._bench_action(df)
    app = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app}/sql?length=1000"
    with urllib.request.urlopen(url, timeout=10) as r:
        execs = _json.loads(r.read())
    latest = max(execs, key=lambda e: e.get("id", -1))
    nodes = {n.get("nodeName", "") for n in latest.get("nodes", [])}
    assert any("Window" in n for n in nodes), sorted(nodes)
    assert any(
        "noop" in (latest.get("description") or "").lower()
        or "OverwriteByExpression" in n
        or "AppendData" in n
        for n in nodes | {latest.get("description", "")}
    )
