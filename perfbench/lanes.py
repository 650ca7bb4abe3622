"""Registry lanes as a benchmark workload.

A fixed, named slice of ``__spark_entry__.queries()``, run one lane at a
time (a closed loop with one client) with the noop write action over the
generated sf0.1 tables: the ROADMAP's six target lanes and nine of the
cheapest lanes. The paper's own operators (cleaning, dim join, sliding
window, daily rollup) are timed by the stream workload instead. Before the
timed passes every lane runs once on the same tables and is compared with
its DuckDB ``oracle_sql()``; that pass also pays the lanes' one-off
compilation at full scale, so it stays untimed.
"""

from __future__ import annotations

import re
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import stats

from kafkastreamingetl_spark.catalog import TABLES
from kafkastreamingetl_spark.oracle import run_compare
from kafkastreamingetl_spark.queries import ORACLE_SQL

#: lanes under 0.3 s in the last committed registry bench, where DataFrame
#: construction and planning dominate; none depends on a fitted model
CHEAP_LANES = (
    "train_test_split", "training_mix_sample", "lsh_param_planner", "doc_chunks",
    "doc_dedup_lines", "stratified_language_sample", "csv_wire_roundtrip",
    "active_customers", "embedding_quantize_int8",
)

LANES = stats.NAMED_LANES + CHEAP_LANES
#: timed passes over LANES; each lane reports the median of its passes
REPS = 3
CHECK_THREADS = 4


def input_rows(name: str, table_rows: dict[str, int]) -> int:
    """Rows of the generated tables a lane's oracle reads: the input size
    behind ``rows_per_s``."""
    sql = ORACLE_SQL[name]
    return sum(n for t, n in table_rows.items()
               if t in TABLES and re.search(rf"\b{t}\b", sql))


def check(spark, sf_dir: str) -> list[str]:
    """Every lane against its DuckDB oracle. Lanes run four at a time: this
    pass is untimed, and it is where each lane's one-off compilation
    happens."""
    with ThreadPoolExecutor(CHECK_THREADS) as ex:
        results = list(ex.map(lambda n: run_compare(spark, sf_dir, [n])[0], LANES))
    spark.catalog.clearCache()
    return [str(r) for r in results if not r.ok]


def run_lane(spark, fn, sf_dir: str, tracer) -> float:
    """One timed lane: build, then noop write. A traced run also forces the
    executed plan in between; the untraced run makes no such pass, so its
    time is left out of the returned wall."""
    t0 = time.perf_counter()
    with tracer.span("construct"):
        df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    if tracer.enabled:
        with tracer.span("plan"):
            df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    with tracer.span("exec"):
        df.write.format("noop").mode("overwrite").save()
    return (t1 - t0) + (time.perf_counter() - t2)


def run_workload(spark, ctx) -> dict:
    from __spark_entry__ import queries

    registry = queries()
    tc = time.perf_counter()
    failures = check(spark, ctx.tables_dir)
    check_s = time.perf_counter() - tc

    before = ctx.counters.settle() if ctx.counters else None
    walls: dict[str, list[float]] = {n: [] for n in LANES}
    passes = 0
    t0 = time.perf_counter()
    # pass after pass, so a burst of host contention hits one pass of
    # many lanes rather than every pass of one lane
    while passes < REPS or time.perf_counter() - t0 < ctx.seconds:
        for name in LANES:
            with ctx.tracer.span("lane", lane=name):
                walls[name].append(run_lane(spark, registry[name], ctx.tables_dir, ctx.tracer))
            spark.catalog.clearCache()
        passes += 1
    wall_s = time.perf_counter() - t0
    after = ctx.counters.settle() if ctx.counters else None

    lane_ms = {n: 1000.0 * statistics.median(v) for n, v in walls.items()}
    # the tail pools every timed run: over the 15 lane medians alone the
    # 11th-largest would lie below their median
    tail_p, tail_ms = stats.tail([1000.0 * w for v in walls.values() for w in v])
    rows = passes * sum(input_rows(n, ctx.table_rows) for n in LANES)
    layers = {f"queries.{n}_ms": lane_ms[n] for n in stats.NAMED_LANES}
    if ctx.tracer.enabled:
        layers.update({
            "queries.construct_ms": ctx.tracer.total_ms("construct"),
            "plans.plan_ms": ctx.tracer.total_ms("plan"),
            "exec.exec_ms": ctx.tracer.total_ms("exec"),
        })
    if before is not None:
        layers.update(ctx.counters.delta(before, after, wall_s, ctx.cores))
    return {
        "wall_s": wall_s,
        "op_p50_ms": statistics.median(list(lane_ms.values())),
        "op_tail_ms": tail_ms,
        "rows_per_s": rows / wall_s,
        "attempted": len(LANES) * (passes + 1),
        "failures": failures,
        "layers": layers,
        "detail": {"tail_percentile": round(tail_p, 1), "n_lanes": len(LANES),
                   "passes": passes, "check_s": check_s,
                   "lane_ms": {n: round(v, 1) for n, v in lane_ms.items()}},
    }

