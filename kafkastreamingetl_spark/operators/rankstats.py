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

One strategy computes the exact ``ntile(n)`` semantics — bucket sizes
``ceil(N/n)`` for the first ``N mod n`` buckets, ``floor(N/n)`` after —
for any number of cuts over one frame (:func:`exact_ntile_cuts`; a single
cut is a one-element list). All cuts share one persisted base, one bounds
job and one counts job:

1. One small job collects approximate quantile BOUNDS of the leading
   order key (``approx_percentile`` — accuracy only affects balance,
   never the answer). The input is persisted (MEMORY_AND_DISK) first so
   the bounds job, the counts job and the final execution share one
   materialization instead of three upstream executions.
2. ``_pid`` — the row's range partition — becomes a PURE EXPRESSION over
   those literal bounds (count of bounds strictly below the key; NULLs
   sort first into partition 0). Because the assignment is deterministic,
   every branch and every recompute of the plan agrees on it, with no
   materialization barrier. Ties on the leading key all land in one
   partition, so cross-partition order is respected with any tie-break
   suffix.
3. A second small job collects the EXACT per-partition counts (one melt
   + tiny groupBy over the persisted frame; <= cuts × width rows), which
   become LITERAL rank offsets — no offsets branch, no broadcast join,
   no barrier. (An in-plan broadcast-offsets fork was A/B-measured and
   rejected: its serialized broadcast-build stages cost more wall at
   sf0.1 than this collect, and both are safe because every consumer
   evaluates the same deterministic ``_pid`` expression.)
4. The ranked frame is ``row_number() OVER (PARTITION BY _pid ORDER BY
   order_cols)`` — a hash exchange on the partition id and per-partition
   sorts, never a global sort (the window is always PARTITIONED, so the
   plan-shape invariant "no unpartitioned window spec" holds) — plus
   closed-form integer arithmetic mapping ``offset + _rn`` to the ntile
   bucket.

Exactness never depends on where the bounds fall: ranks come from actual
row positions, so a skewed sample only costs balance, never the answer
(test-pinned bit-equality across widths 1/32/200). With a tie-broken
(unique) order key the result is deterministic; with ties it is exactly
as nondeterministic as ``ntile`` itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import SessionMemo

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

_HELPER_COLS = ("_pid", "_rn", "_rank")

# Persisted-base memo keyed by the input plan's semanticHash: repeated
# constructions of the same cut (bench warm + timed samples) reuse one
# persisted plan instead of re-registering an identical cache entry each
# call. Results are never memoized.
_NTILE_BASE_MEMO = SessionMemo(8, persisted=True)

#: width used by the most recent cut (test/telemetry hook; the physical
#: partition count of the output is AQE's business, not the contract)
last_width: int | None = None


def _persisted_base(df: DataFrame) -> DataFrame:
    return _NTILE_BASE_MEMO.get(df.sparkSession, (df.semanticHash(),), lambda: df)


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
        f"exact_ntile_cuts: unsupported leading order column type {dtype!r}"
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
    job and ONE exact-counts job (see module docstring).

    Each ``order_cols`` should end in a unique tie-breaker for a
    deterministic answer (the registered callers do: (ltv, user_id),
    (zval, event_id)). A leading string column cuts in string order. The
    width defaults to the session's ``spark.sql.shuffle.partitions`` at
    call time, and is capped at ``_MAX_CUT_PARTITIONS`` whatever
    ``num_partitions`` asks for; the answer never depends on it."""
    global last_width
    if any(c in df.columns for c in _HELPER_COLS):
        raise ValueError(f"input must not contain helper columns {_HELPER_COLS}")
    if num_partitions is None:
        try:
            num_partitions = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):
            num_partitions = _MAX_CUT_PARTITIONS
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
            .drop(*_HELPER_COLS)
        )
    return out

