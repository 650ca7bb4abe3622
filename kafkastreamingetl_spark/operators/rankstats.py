"""Exact distributed rank statistics: ``ntile`` / global rank without a
single-partition window sort.

The naive decile report — ``ntile(10) OVER (ORDER BY ...)`` with no
PARTITION BY — funnels the entire frame through ONE task (Spark warns
``WindowExec: No Partition Defined``). Fine on a 60k-row test; at 100 TB a
one-row-per-user frame is billions of rows through a single sort. The
reference never ranks globally at all (its pandas batch job,
airflow/dags/kafka_spark_etl.py:64-78, fits in one process by design), so
this operator is where the Spark re-expression must diverge from both: the
semantics of a total order, the execution of a partitioned range cut.

Two execution strategies share the exact ``ntile(n)`` semantics — bucket
sizes ``ceil(N/n)`` for the first ``N mod n`` buckets, ``floor(N/n)``
after — and the round-16 A/B (same session, alternating samples, sf0.1)
decides which one each caller gets:

* :func:`with_exact_ntile` (SINGLE cut) keeps the range-shuffle +
  ``monotonically_increasing_id`` + lazy-``localCheckpoint`` form. The
  checkpoint forces one physical-planning pass at construction (~0.7 s),
  but the deterministic-bounds replacement costs TWO small jobs at
  construction and measured strictly slower for one cut (ltv 0.97 →
  1.30 s, zorder 1.51 → 1.91 s) — the negative result is recorded in
  OPTIMIZATION_r16.md so it is not re-tried.
* :func:`exact_ntile_cuts` (MULTI cut) uses DETERMINISTIC range bounds:
  the N-cut chain previously nested a checkpoint per cut (each planning
  the whole prior pipeline — 2.2 s of the RFM lane's construction);
  sharing one persisted base, one bounds job and one counts job across
  all cuts measured 3.01 → 2.04 s on the RFM lane. The strategy:

1. One small job collects approximate quantile BOUNDS of the leading
   order key (``approx_percentile`` — accuracy only affects balance,
   never the answer). The input is persisted (MEMORY_AND_DISK) first so
   the bounds job, the counts job and the final execution share one
   materialization instead of three upstream executions.
2. ``_pid`` — the row's range partition — becomes a PURE EXPRESSION over
   those literal bounds (count of bounds strictly below the key; NULLs
   sort first into partition 0). Because the assignment is deterministic,
   every branch and every recompute of the plan agrees on it — the
   fork-consistency problem the old ``localCheckpoint`` existed to solve
   is gone BY CONSTRUCTION, not by materialization barrier. Ties on the
   leading key all land in one partition, so cross-partition order is
   respected with any tie-break suffix.
3. A second small job collects the EXACT per-partition counts (one melt
   + tiny groupBy over the persisted frame; <= cuts × width rows), which
   become LITERAL rank offsets — no offsets branch, no broadcast join,
   no barrier. (An in-plan broadcast-offsets fork was A/B-measured and
   rejected: its serialized broadcast-build stages cost more wall at
   sf0.1 than this collect, and both are safe because every consumer
   evaluates the same deterministic ``_pid`` expression.)
4. The ranked frame is ``row_number() OVER (PARTITION BY _pid ORDER BY
   order_cols)`` — a hash exchange on the partition id (the same
   per-partition sort work the old range shuffle did, never a global
   sort; the window is always PARTITIONED, so the plan-shape invariant
   "no unpartitioned window spec" holds) — plus closed-form integer
   arithmetic mapping ``offset + _rn`` to the ntile bucket.

Exactness never depends on where the bounds fall (either strategy):
ranks come from actual row positions, so a skewed sample only costs
balance, never the answer (test-pinned bit-equality across widths
1/32/200). With a tie-broken (unique) order key the result is
deterministic; with ties it is exactly as nondeterministic as ``ntile``
itself.

The single-cut checkpoint path additionally relies on the lazy
``localCheckpoint`` for fork consistency: without it the rank stream and
the per-partition-count stream would re-execute the range exchange
independently and could sample DIFFERENT bounds (observed under AQE as
rank/total drift). The multi-cut path needs no barrier — its partition
assignment is a deterministic expression over literal bounds, so every
branch and recompute agrees by construction.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Fallback width of the rank partitioning, used only when the session's
# ``spark.sql.shuffle.partitions`` is unreadable (e.g. set to "auto" on a
# vendor runtime). The default tracks the session at CALL time — a
# hardcoded width would under-parallelize the rank cut on a cluster whose
# shuffle width is thousands. Exactness never depends on the width (ranks
# come from actual row positions); it only sets balance.
_FALLBACK_RANK_PARTITIONS = 200

# Most range partitions exact_ntile_cuts derives bounds for, whatever the
# shuffle width. Its partition id is an unrolled sum of one CASE per
# bound; thousands of terms overflow the SQL parser and the 64 KB
# generated-method limit (whole-stage codegen then falls back to the
# interpreted path; an interpreted form of this sum measured ~5 s at
# sf0.1 in r16). Below that, HotSpot does not JIT-compile a method over
# 8000 bytes of bytecode: the counts aggregate's largest method is 5693
# bytes at 64 bounds and 12995 at 128. Exactness never depends on the
# bound count, only balance does.
_MAX_CUT_PARTITIONS = 64

# approx_percentile accuracy for the bounds job: affects balance only.
_BOUNDS_ACCURACY = 10000

# monotonically_increasing_id layout (single-cut checkpoint path):
# partition id in the upper 31 bits, record-within-partition in the lower 33.
_MID_OFFSET_BITS = 33
_MID_OFFSET_MASK = (1 << _MID_OFFSET_BITS) - 1

_HELPER_COLS = ("_mid", "_pid", "_rn", "_off", "_total", "_rank")

# Persisted-base memo (appId, input plan semanticHash) -> DataFrame, the
# shingle_features discipline: repeated constructions of the same cut
# (bench warm + timed samples) reuse one persisted plan instead of
# re-registering an identical cache entry each call. Results are never
# memoized — clearCache drops the blocks and the next action re-scans.
_NTILE_BASE_CACHE: "OrderedDict[tuple, DataFrame]" = OrderedDict()
_NTILE_BASE_CACHE_MAX = 8

#: width used by the most recent cut (test/telemetry hook; the physical
#: partition count of the output is AQE's business, not the contract)
last_width: int | None = None


def _persisted_base(df: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    key = (df.sparkSession.sparkContext.applicationId, df.semanticHash())
    base = _NTILE_BASE_CACHE.get(key)
    if base is None:
        base = df
        _NTILE_BASE_CACHE[key] = base
        while len(_NTILE_BASE_CACHE) > _NTILE_BASE_CACHE_MAX:
            _, evicted = _NTILE_BASE_CACHE.popitem(last=False)
            evicted.unpersist()
    else:
        _NTILE_BASE_CACHE.move_to_end(key)
    sl = base.storageLevel
    if not (sl.useMemory or sl.useDisk):
        base.persist(StorageLevel.MEMORY_AND_DISK)
    return base


def _key_and_ordering(
    df: DataFrame, order_cols: list[str | Column]
) -> tuple[Column, str | None, list[Column]]:
    """(numeric bounds key for the leading order column, its SQL text
    when the leading column was given by name — used to render the
    partition-id expression as ONE codegen-friendly parse — and the full
    sort-order list). String leading keys ride an ORDER-PRESERVING 7-byte
    binary-prefix proxy: the first 7 UTF-8 bytes, right-padded with
    x'00' to exactly 7, read as one big-endian integer. UTF-8 byte order
    equals code-point order, and the padding makes every proxy the same
    width, so a shorter string compares as if followed by NUL bytes —
    'az' (0x617A00...) stays below 'b' (0x620000...), where the unpadded
    bytes would read 0x617A > 0x62. Order is therefore non-decreasing
    (strings sharing a 7-byte prefix, and '' vs NULL, tie at one proxy
    value), so partition boundaries respect the true string order; ties
    within a proxy value share a partition and are resolved by the
    in-partition sort on the real column."""
    ordering = [
        F.col(c).asc_nulls_first() if isinstance(c, str) else c
        for c in order_cols
    ]
    lead = order_cols[0]
    named = isinstance(lead, str)
    lead_col = F.col(lead) if named else _sort_key(df, lead)
    if named:
        dtype = dict(df.dtypes).get(lead, "")
    else:
        dtype = df.select(lead_col.alias("_k")).dtypes[0][1]
    if dtype in ("tinyint", "smallint", "int", "bigint", "boolean"):
        sql = f"cast(`{lead}` as bigint)" if named else None
        return lead_col.cast("bigint"), sql, ordering
    if dtype in ("float", "double") or dtype.startswith("decimal"):
        sql = f"cast(`{lead}` as double)" if named else None
        return lead_col.cast("double"), sql, ordering
    if dtype in ("timestamp", "timestamp_ntz"):
        sql = f"unix_micros(cast(`{lead}` as timestamp))" if named else None
        return F.unix_micros(lead_col.cast("timestamp")), sql, ordering
    if dtype == "date":
        sql = f"unix_date(`{lead}`)" if named else None
        return F.unix_date(lead_col), sql, ordering
    if dtype == "string":
        # big-endian value of the first 7 UTF-8 bytes, zero-padded to 7:
        # non-negative, fits a signed bigint, monotone in the string order
        sql = (
            "coalesce(cast(conv(hex(rpad(substring(encode(`"
            f"{lead}`, 'UTF-8'), 1, 7), 7, x'00')), 16, 10) as bigint), 0)"
            if named
            else None
        )
        prefix = F.rpad(
            F.substring(F.encode(lead_col, "UTF-8"), 1, 7), 7, F.lit(b"\x00")
        )
        proxy = F.coalesce(
            F.conv(F.hex(prefix), 16, 10).cast("bigint"), F.lit(0)
        )
        return proxy, sql, ordering
    raise ValueError(
        f"with_exact_ntile: unsupported leading order column type {dtype!r}"
    )


def _sort_key(df: DataFrame, lead: Column) -> Column:
    """The value under a leading sort-order Column: the bounds key of
    ``F.col("k").asc_nulls_first()`` is ``k`` (a sort order is not a
    value, and evaluating one fails at run time). Only ASC NULLS FIRST,
    the cut's own order, is accepted. Other Columns pass through."""
    from pyspark.sql.classic.column import Column as ClassicColumn

    node = lead._jc.node()
    if node.getClass().getSimpleName() != "SortOrder":
        return lead
    order = (
        node.sortDirection().getClass().getSimpleName(),
        node.nullOrdering().getClass().getSimpleName(),
    )
    if order != ("Ascending$", "NullsFirst$"):
        raise ValueError(
            f"exact_ntile_cuts: leading order column {lead} must sort ASC "
            "NULLS FIRST"
        )
    jvm = df.sparkSession._jvm
    return ClassicColumn(jvm.org.apache.spark.sql.Column(node.child()))


def _bound_literal(b) -> str:
    """SQL literal for a bound: ints plain (parse to int/bigint as they
    fit); doubles via shortest-round-trip repr in a foldable CAST (the
    array_lit discipline — IEEE-identical after parse)."""
    if isinstance(b, int):
        return str(b)
    return f"CAST('{float(b)!r}' AS DOUBLE)"


def _pid_expr(key: Column, key_sql: str | None, bounds: list) -> Column:
    """Deterministic range-partition id: NULLs first (partition 0), else
    the count of bounds strictly below the key. Rendered as an UNROLLED
    sum of comparisons — whole-stage-codegen eligible — never a
    higher-order-function fold: the interpreted per-element lambda made
    the exact-counts aggregate ~5 s at sf0.1 (measured r16) where the
    unrolled form is milliseconds. A NULL key compares NULL on every
    bound and each CASE contributes 0, so NULLs land in partition 0
    without an explicit guard."""
    if not bounds:
        return F.lit(0)
    if key_sql is not None:
        terms = " + ".join(
            f"(CASE WHEN {key_sql} > {_bound_literal(b)} THEN 1 ELSE 0 END)"
            for b in bounds
        )
        return F.expr(f"({terms})")
    pid = None
    for b in bounds:
        term = F.when(key > F.lit(b), F.lit(1)).otherwise(F.lit(0))
        pid = term if pid is None else pid + term
    return pid


def _partition_counts(base: DataFrame, pids: list[Column]) -> DataFrame:
    """(d, p, c): row count of range partition ``p`` of cut ``d``, for
    every cut in one melt (explode of (cut, pid) structs) + one tiny
    groupBy — at most cuts × width result rows."""
    melt = F.explode(
        F.array(
            *[
                F.struct(F.lit(d).alias("d"), pid.cast("int").alias("p"))
                for d, pid in enumerate(pids)
            ]
        )
    ).alias("_dp")
    return (
        base.select(melt)
        .groupBy(F.col("_dp.d").alias("d"), F.col("_dp.p").alias("p"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def exact_ntile_cuts(
    df: DataFrame,
    cuts: list[tuple[int, list, str]],
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` plus one INT bucket column per ``(n, order_cols,
    bucket_col)`` cut, each equal to ``ntile(n) OVER (ORDER BY order_cols
    ASC NULLS FIRST)`` — all cuts sharing ONE persisted base, ONE bounds
    job and ONE exact-counts job (see module docstring). The cut uses at
    most ``_MAX_CUT_PARTITIONS`` range partitions, whatever
    ``num_partitions`` asks for."""
    global last_width
    if any(c in df.columns for c in _HELPER_COLS):
        raise ValueError(f"input must not contain helper columns {_HELPER_COLS}")
    if num_partitions is None:
        try:
            num_partitions = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):
            num_partitions = _FALLBACK_RANK_PARTITIONS
    num_partitions = min(num_partitions, _MAX_CUT_PARTITIONS)
    last_width = num_partitions

    base = _persisted_base(df)
    keys, key_sqls, orderings = [], [], []
    for _, order_cols, _ in cuts:
        k, s, o = _key_and_ordering(base, order_cols)
        keys.append(k)
        key_sqls.append(s)
        orderings.append(o)

    # Job 1: approximate bounds for every cut in one aggregate (balance
    # only — the answer never depends on where they fall).
    bounds: list[list] = [[] for _ in cuts]
    if num_partitions > 1:
        qs = F.array(
            *[F.lit(i / num_partitions) for i in range(1, num_partitions)]
        )
        row = base.agg(
            *[
                F.approx_percentile(k, qs, F.lit(_BOUNDS_ACCURACY)).alias(
                    f"_b{d}"
                )
                for d, k in enumerate(keys)
            ]
        ).first()
        for d in range(len(cuts)):
            vals = row[f"_b{d}"] or []
            bounds[d] = sorted(set(vals))

    pids = [
        _pid_expr(k, s, b) for k, s, b in zip(keys, key_sqls, bounds)
    ]

    # Job 2: EXACT per-partition counts for every cut (see
    # _partition_counts). The counts become LITERAL rank offsets, so the
    # returned plan is LINEAR: no offsets branch, no broadcast join, no
    # materialization barrier. Fork-free by construction: the only
    # consumers of the partition assignment are this collected aggregate
    # and the window, and both evaluate the same deterministic expression
    # over literal bounds.
    cnt: dict[tuple[int, int], int] = {
        (r["d"], r["p"]): r["c"] for r in _partition_counts(base, pids).collect()
    }
    total = sum(c for (d, _), c in cnt.items() if d == 0)

    out = base
    for d, (n, _, bucket_col) in enumerate(cuts):
        offsets, acc = [], 0
        for i in range(len(bounds[d]) + 1):
            offsets.append(acc)
            acc += cnt.get((d, i), 0)
        rem = total % n
        ceil_sz = total // n + 1
        floor_sz = max(total // n, 1)
        off_sql = ", ".join(f"{o}L" for o in offsets)  # bigint-safe at scale
        w = Window.partitionBy("_pid").orderBy(*orderings[d])
        out = (
            out.withColumn("_pid", pids[d])
            .withColumn("_rn", F.row_number().over(w).cast("bigint"))
            .withColumn(
                "_rank",
                F.expr(f"_rn + element_at(array({off_sql}), _pid + 1)"),
            )
            .withColumn(
                bucket_col,
                F.expr(
                    f"""CAST(CASE
                    WHEN _rank <= {rem * ceil_sz}
                    THEN (_rank - 1) DIV {ceil_sz} + 1
                    ELSE {rem} + (_rank - {rem * ceil_sz} - 1)
                         DIV {floor_sz} + 1
                END AS INT)"""
                ),
            )
            .drop("_pid", "_rn", "_rank")
        )
    return out


def with_exact_ntile(
    df: DataFrame,
    n: int,
    order_cols: list[str | Column],
    *,
    bucket_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """``df`` plus an INT ``bucket_col`` equal to
    ``ntile(n) OVER (ORDER BY order_cols ASC NULLS FIRST)`` — computed
    with a range shuffle instead of a single-partition global sort.

    ``order_cols`` should end in a unique tie-breaker for a deterministic
    answer (both registered callers do: (ltv, user_id), (zval, event_id)).
    String columns are accepted and sort ASC NULLS FIRST — Spark's window
    default — in both the range partitioner and the in-partition sort.

    Calling this materializes a lazy ``localCheckpoint`` of the ranked
    frame on first action (required for fork consistency — see module
    docstring); the block is freed when the returned DataFrame is GC'd.
    This is the SINGLE-cut strategy the r16 A/B kept: two-job
    deterministic bounds (the :func:`exact_ntile_cuts` strategy applied
    to one cut) measured strictly slower here — see the module docstring
    numbers. Multi-cut callers should use :func:`exact_ntile_cuts`.
    """
    global last_width
    if any(c in df.columns for c in _HELPER_COLS):
        raise ValueError(f"input must not contain helper columns {_HELPER_COLS}")
    if num_partitions is None:
        # track the session's shuffle width at call time; bucket assignment
        # is width-independent (tests assert bit-equality at 1/32/200)
        try:
            num_partitions = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):
            num_partitions = _FALLBACK_RANK_PARTITIONS
    last_width = num_partitions
    ordering = [
        F.col(c).asc_nulls_first() if isinstance(c, str) else c
        for c in order_cols
    ]
    rn = (
        df.repartitionByRange(num_partitions, *ordering)
        .sortWithinPartitions(*ordering)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn(
            "_pid", F.shiftrightunsigned("_mid", _MID_OFFSET_BITS).cast("int")
        )
        .withColumn(
            "_rn",
            F.col("_mid").bitwiseAND(F.lit(_MID_OFFSET_MASK)) + F.lit(1),
        )
        .drop("_mid")
        .localCheckpoint(eager=False)
    )

    counts = rn.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    # Cumulative offsets + grand total over the P-row counts frame
    # (bounded by construction: P = num_partitions) via a P×P broadcast
    # self-join — NO window functions, so the plan contains zero
    # unpartitioned window sorts, structurally (a literal partition key
    # would be constant-folded back into an empty spec and re-trigger
    # Spark's "No Partition Defined" warning).
    b = counts.select(
        F.col("_pid").alias("_bpid"), F.col("_cnt").alias("_bcnt")
    )
    offsets = (
        counts.join(F.broadcast(b))
        .groupBy("_pid")
        .agg(
            F.sum(
                F.when(F.col("_bpid") < F.col("_pid"), F.col("_bcnt")).otherwise(
                    F.lit(0)
                )
            ).alias("_off"),
            F.sum("_bcnt").alias("_total"),
        )
    )

    ranked = rn.join(F.broadcast(offsets), "_pid")
    # ntile(n) over N rows: the first N%n buckets take ceil(N/n) rows, the
    # rest floor(N/n). Integer-exact: DIV keeps everything in bigint; the
    # global rank is _rn + _off.
    rank = "(_rn + _off)"
    bucket = F.expr(
        f"""CAST(CASE
            WHEN {rank} <= (_total % {n}) * ((_total DIV {n}) + 1)
            THEN ({rank} - 1) DIV ((_total DIV {n}) + 1) + 1
            ELSE (_total % {n})
                 + ({rank} - (_total % {n}) * ((_total DIV {n}) + 1) - 1)
                   DIV greatest(_total DIV {n}, 1)
                 + 1
        END AS INT)"""
    )
    return ranked.withColumn(bucket_col, bucket).drop(*_HELPER_COLS)
