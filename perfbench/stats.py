"""Pure helpers of the benchmark: the metric schema, the tail rule and the
result line. No Spark here, so the helpers are unit-tested without a JVM
(see test_perfbench.py)."""

from __future__ import annotations

import json

#: end-to-end metrics every workload reports with ``--trace 0``
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}

#: lanes whose wall the traced run reports one by one
NAMED_LANES = (
    "substring_run_pairs",
    "source_overlap_matrix",
    "embedding_covariance",
    "user_rfm_segments",
    "user_ltv_deciles",
    "events_zorder_layout",
)

#: per-layer metrics every workload reports with ``--trace 1``; a layer the
#: workload does not exercise reads 0
PER_LAYER = {
    "streaming.plan_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.batches": "count",
    "sources.offset_ms": "ms",
    "sources.input_rows": "count",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.removal_ms": "ms",
    "state.rows_total_max": "count",
    "state.memory_mb_max": "MB",
    "state.rows_dropped_late": "count",
    "sink.files": "count",
    "sink.bytes": "bytes",
    "sink.rows": "count",
    "rollup.date_ms": "ms",
    "rollup.rows": "count",
    "queries.construct_ms": "ms",
    "plans.plan_ms": "ms",
    "exec.exec_ms": "ms",
    **{f"queries.{name}_ms": "ms" for name in NAMED_LANES},
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.gc_ms": "ms",
    "exec.cpu_efficiency": "ratio",
    "trace.wall_s": "s",
    "trace.spans": "count",
}


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it.

    That is the ``beyond + 1``-th largest sample, at percentile
    ``100 * (n - beyond - 1) / (n - 1)`` (linear interpolation, numpy's
    default). Returns ``(percentile, value)``. With ``beyond`` or fewer
    samples no such percentile exists and this raises ``ValueError``: a
    workload must run enough operations.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples leave no percentile with {beyond} beyond it")
    p = 100.0 * (n - beyond - 1) / (n - 1) if n > 1 else 0.0
    return p, sorted(values)[n - beyond - 1]


def result_line(
    correct: bool, attempted: int, failed: int, values: dict[str, float], units: dict[str, str]
) -> str:
    """The benchmark's last stdout line. Every metric in ``units`` must be
    present, and nothing else."""
    if set(values) != set(units):
        missing = sorted(set(units) - set(values))
        extra = sorted(set(values) - set(units))
        raise ValueError(f"metrics mismatch: missing={missing} extra={extra}")
    if attempted < 1:
        raise ValueError("attempted must be at least 1")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(values[k]), "unit": units[k]} for k in units
            },
        }
    )
