"""Single-scan data-quality reporting (engine extension of X4).

The reference's quality check is one row count with a warn threshold
(airflow/dags/kafka_spark_etl.py quality step; SURVEY §2.9 X4 — already
covered by operators.rollup.quality_check). Production pipelines need the
richer form: N declarative expectations evaluated in ONE pass — each rule
a violation predicate folded into a conditional sum, so a 100 TB scan
yields the whole report for the cost of a single aggregation (map-side
combined, one 1-row result). Never one job per rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import davg, dsum, sql_davg, sql_dsum


def quality_report(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """One-row report: total rows + one violation count per named rule.

    ``rules`` maps report column name → *violation* predicate (true = bad
    row). All rules evaluate in a single aggregation over a single scan.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.when(pred, 1).otherwise(0)).cast("bigint").alias(name)
        for name, pred in rules.items()
    ]
    return df.agg(*aggs)


def events_quality_report(df: DataFrame) -> DataFrame:
    """The event-stream expectation set: null keys/metrics, domain range,
    and duplicate keys (exact distinct — one extra Expand, acceptable for
    a report; swap to approx_count_distinct for a cheap continuous probe).
    """
    report = quality_report(
        df,
        {
            "null_event_type": F.col("event_type").isNull(),
            "null_value": F.col("value").isNull(),
            "value_out_of_range": (F.col("value") < 0) | (F.col("value") > 500),
            "ts_out_of_domain": F.col("ts") < F.lit("2020-01-01").cast("timestamp"),
        },
    )
    distinct_keys = df.agg(
        F.count_distinct(F.col("event_id")).alias("_distinct_ids")
    )
    return report.crossJoin(F.broadcast(distinct_keys)).select(
        "n_rows",
        "null_event_type",
        "null_value",
        "value_out_of_range",
        "ts_out_of_domain",
        (F.col("n_rows") - F.col("_distinct_ids")).alias("dup_event_ids"),
    )


def sql_events_quality_report() -> str:
    return """
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_event_type,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_value,
           CAST(SUM(CASE WHEN value < 0 OR value > 500 THEN 1 ELSE 0 END)
               AS BIGINT) AS value_out_of_range,
           CAST(SUM(CASE WHEN ts < TIMESTAMP '2020-01-01' THEN 1 ELSE 0 END)
               AS BIGINT) AS ts_out_of_domain,
           COUNT(*) - COUNT(DISTINCT event_id) AS dup_event_ids
    FROM events
    """


# ---------------------------------------------------------------------------
# column profiling (Deequ-style table statistics)
# ---------------------------------------------------------------------------


def profile_columns(
    df: DataFrame, cols: list[str], *, approx: bool = False
) -> DataFrame:
    """(col_name, n_rows, n_nulls, n_distinct, null_frac): per-column
    profile of a table in ONE scan — the statistics pass a pipeline runs
    before trusting a new data drop (and the inputs to null-rate alerts
    and cardinality-drift checks).

    All per-column aggregates ride in a single ``agg`` as an array of
    structs, exploded to long form afterwards — one job regardless of how
    many columns are profiled; the shuffle carries one partial-state row
    per partition. Exact distincts make the result hash-checkable (each
    adds an Expand pass — the oracle trade); ``approx=True`` swaps them
    for one-pass HLL sketches, the production profile at 100 TB.
    """
    nd = F.approx_count_distinct if approx else F.count_distinct
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.coalesce(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("n_nulls"),
            nd(F.col(c)).cast("bigint").alias("n_distinct"),
        )
        for c in cols
    ]
    wide = df.agg(
        F.count(F.lit(1)).alias("n_rows"), F.array(*structs).alias("_p")
    )
    return wide.select("n_rows", F.explode("_p").alias("p")).select(
        F.col("p.col_name").alias("col_name"),
        "n_rows",
        F.col("p.n_nulls").alias("n_nulls"),
        F.col("p.n_distinct").alias("n_distinct"),
        F.when(F.col("n_rows") > 0, F.col("p.n_nulls").cast("double") / F.col("n_rows"))
        .otherwise(F.lit(0.0))
        .alias("null_frac"),
    )


def winsorized_type_stats(events: DataFrame) -> DataFrame:
    """Robust (winsorized) per-type value statistics: clamp each value to
    the group's [lo_q, hi_q] order statistics, then aggregate — the
    outlier-resistant mean/total a metrics pipeline reports when raw
    means are hostage to a few extreme rows.

    Thresholds are *exact rank-based order statistics* (the value at rank
    ceil(q*n) under a deterministic (value, event_id) order), not
    interpolated percentiles: value selection is engine-exact, where
    interpolation arithmetic can differ in the last float bit between
    engines. Cost: one rank window + one broadcast-sized threshold table
    (|event types| rows) joined back — two scans of the group, no
    all-pairs anything. At 100 TB swap the rank window for
    approx_percentile thresholds (the approx lane trade documented in
    SCALE.md).
    """
    e = events.filter(F.col("value").isNotNull()).select(
        "event_type", "value", "event_id"
    )
    w = Window.partitionBy("event_type").orderBy(
        F.asc("value"), F.asc("event_id")
    )
    ranked = e.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    thresholds = ranked.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("_rn")
                == F.greatest(F.lit(1), F.ceil(0.05 * F.col("_n"))),
                F.col("value"),
            )
        ).alias("lo"),
        F.min(
            F.when(F.col("_rn") == F.ceil(0.95 * F.col("_n")), F.col("value"))
        ).alias("hi"),
    )
    return clamp_and_aggregate(e, thresholds)


def clamp_and_aggregate(e: DataFrame, thresholds: DataFrame) -> DataFrame:
    """The shared winsorize tail: clamp values to the (event_type, lo, hi)
    thresholds (broadcast — |types| rows) and aggregate. Exact and approx
    threshold sources both feed this, so the clip/aggregate CONTRACT lives
    in exactly one place."""
    clamped = e.join(F.broadcast(thresholds), "event_type").withColumn(
        "_vw", F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    )
    return clamped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("lo").alias("lo"),
        F.min("hi").alias("hi"),
        F.sum(
            F.when((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_clipped"),
        dsum("_vw", "winsorized_total"),
        davg("_vw", "winsorized_mean"),
    )


def sql_winsorized_type_stats() -> str:
    return f"""
    WITH e AS (
        SELECT event_type, value, event_id
        FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY value ASC NULLS FIRST, event_id ASC NULLS FIRST
               ) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM e
    ),
    t AS (
        SELECT event_type,
               MIN(CASE WHEN rn = GREATEST(1, CEIL(0.05 * n))
                        THEN value END) AS lo,
               MIN(CASE WHEN rn = CEIL(0.95 * n) THEN value END) AS hi
        FROM ranked GROUP BY 1
    ),
    clamped AS (
        SELECT e.event_type, e.value, t.lo, t.hi,
               LEAST(GREATEST(e.value, t.lo), t.hi) AS vw
        FROM e JOIN t USING (event_type)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(lo) AS lo,
           MIN(hi) AS hi,
           CAST(SUM(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clipped,
           {sql_dsum('vw')} AS winsorized_total,
           {sql_davg('vw')} AS winsorized_mean
    FROM clamped
    GROUP BY 1
    """


def sql_profile_columns(table: str, cols: list[str]) -> str:
    parts = [
        f"""
    SELECT '{c}' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
    FROM {table}"""
        for c in cols
    ]
    union = "\n    UNION ALL".join(parts)
    return f"""
    WITH p AS ({union})
    SELECT col_name, n_rows, n_nulls, n_distinct,
           CASE WHEN n_rows > 0
                THEN CAST(n_nulls AS DOUBLE) / n_rows ELSE 0.0 END AS null_frac
    FROM p
    """


def observe_qc(
    df: DataFrame,
    name: str = "qc",
    *,
    key_cols: tuple[str, ...] = (),
    value_col: str | None = None,
):
    """(observed_df, observation): attach free-rider QC metrics to a plan.

    ``observe()`` computes its aggregates DURING whatever action executes
    the returned frame (a write, a collect) — zero extra jobs, zero extra
    scans. This is the 100 TB form of the reference's post-hoc row-count
    check (reference airflow/dags/kafka_spark_etl.py:127-142): the naive
    guard→write→count sequence runs the day's scan+join+aggregate once
    per step; an observation rides the write.

    Metrics: ``n_rows`` always; ``n_null_<col>`` per ``key_cols`` entry
    (null keys mean a join or partition column is about to misbehave);
    decimal-exact ``total_value`` when ``value_col`` is given (a
    run-over-run drift sentinel). Read them with ``observation.get`` AFTER
    the action — it blocks until one has run.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for k in key_cols:
        aggs.append(
            F.sum(F.when(F.col(k).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_null_{k}")
        )
    if value_col is not None:
        aggs.append(dsum(value_col, "total_value"))
    return df.observe(obs, *aggs), obs


# ---------------------------------------------------------------------------
# distribution drift: total-variation distance between two time halves
# ---------------------------------------------------------------------------


def value_drift_profile(events: DataFrame) -> DataFrame:
    """Per-key distribution drift between the first and second half of the
    observed time span: total-variation distance over value-magnitude
    buckets — the "did this metric's distribution move" monitor that a
    mean/stddev comparison misses (a symmetric widening keeps the mean).

    Buckets are DIGIT COUNTS of |cents| (sign-split) — a pure
    integer/string derivation, so both engines bucket identically with no
    float log10 edge cases, and the bucket domain is bounded (~±19) no
    matter the data. TVD = ½·Σ_b |c1_b/n1 − c2_b/n2| is computed as
    ½·Σ|c1_b·n2 − c2_b·n1| / (n1·n2): the numerator is an EXACT decimal
    sum (count operands widened to DECIMAL(19,0) / HUGEINT before each
    product, so a >3e9-row key-half can't wrap int64), and the only
    double operation is one final division — bit-identical across
    engines and partitionings.

    Shape: one scan → (key, half, bucket) counts (map-side combined,
    bounded by |keys|×2×~40 rows); per-key totals via a window partitioned
    by key over that bounded frame; one final |keys|-sized aggregate.
    ``tvd`` is NULL when a key is absent from either half (no
    distribution to compare — 0/0 would be dishonest).
    """
    ev = events.filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select(
        F.col("event_type").alias("key"),
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    # integer midpoint: `/` then cast would TRUNCATE on Spark but ROUND on
    # DuckDB for odd sums — DIV / // floor identically (epochs positive)
    bounds = ev.agg(
        F.expr("(min(t_us) + max(t_us)) div 2").cast("bigint").alias("_mid")
    )
    digits = F.length(F.abs(F.col("cents")).cast("string"))
    bucket = F.when(F.col("cents") < 0, -digits).otherwise(digits)
    halved = ev.crossJoin(F.broadcast(bounds)).select(
        "key",
        F.when(F.col("t_us") < F.col("_mid"), F.lit(1)).otherwise(F.lit(2)).alias("half"),
        bucket.alias("bucket"),
    )
    cells = halved.groupBy("key", "bucket").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("bigint").alias("c1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0)).cast("bigint").alias("c2"),
    )
    per_key = Window.partitionBy("key")
    dec = "decimal(38,0)"
    with_tot = cells.select(
        "key",
        "c1",
        "c2",
        F.sum("c1").over(per_key).alias("n1"),
        F.sum("c2").over(per_key).alias("n2"),
    )
    # widen the count operands BEFORE the product (mirrors skew.py): a
    # bigint*bigint cross-product overflows int64 at >~3e9 rows per
    # key-half — reachable for a hot key at 100 TB; d19*d19 → d38 exactly
    d19 = "decimal(19,0)"
    num = F.abs(
        (F.col("c1").cast(d19) * F.col("n2").cast(d19)).cast(dec)
        - (F.col("c2").cast(d19) * F.col("n1").cast(d19)).cast(dec)
    )
    agg = with_tot.groupBy("key", "n1", "n2").agg(
        F.count(F.lit(1)).alias("n_buckets"), F.sum(num).alias("_num")
    )
    return agg.select(
        F.col("key").alias("event_type"),
        F.col("n1").alias("n_first"),
        F.col("n2").alias("n_second"),
        "n_buckets",
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0),
            F.col("_num").cast("double")
            / (F.col("n1").cast(d19) * F.col("n2").cast(d19)).cast("double")
            / 2.0,
        ).alias("tvd"),
    )


def sql_value_drift_profile() -> str:
    return """
    WITH ev AS (
        SELECT event_type AS key, epoch_us(ts) AS t_us,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
        WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    bounds AS (
        SELECT CAST((MIN(t_us) + MAX(t_us)) // 2 AS BIGINT) AS mid FROM ev
    ),
    halved AS (
        SELECT key,
               CASE WHEN t_us < mid THEN 1 ELSE 2 END AS half,
               CASE WHEN cents < 0
                    THEN -length(CAST(ABS(cents) AS VARCHAR))
                    ELSE length(CAST(ABS(cents) AS VARCHAR)) END AS bucket
        FROM ev CROSS JOIN bounds
    ),
    cells AS (
        SELECT key, bucket,
               CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM halved GROUP BY 1, 2
    ),
    with_tot AS (
        SELECT key, c1, c2,
               CAST(SUM(c1) OVER (PARTITION BY key) AS BIGINT) AS n1,
               CAST(SUM(c2) OVER (PARTITION BY key) AS BIGINT) AS n2
        FROM cells
    ),
    agg AS (
        SELECT key, n1, n2,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               SUM(ABS(CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1)) AS num
        FROM with_tot GROUP BY 1, 2, 3
    )
    SELECT key AS event_type, n1 AS n_first, n2 AS n_second, n_buckets,
           CASE WHEN n1 > 0 AND n2 > 0
                THEN CAST(num AS DOUBLE)
                     / CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE) / 2.0
                END AS tvd
    FROM agg
    """
