"""Skew tools: salted two-phase aggregation and salted shuffle joins.

AQE's skew-join splitting (enabled in session.py) handles skewed *sort-merge
joins* automatically, but two hot spots remain at 100 TB:

- a groupBy whose key distribution is dominated by a few heavy keys sends
  every row of a hot key to one reducer. :func:`salted_agg` splits each key
  into ``n_salts`` sub-keys (phase 1: partial aggregate on (key, salt)),
  then combines the ≤ ``n_salts`` partials per key (phase 2) — reducer load
  for a hot key drops by the salt factor while total shuffle volume stays
  one row per (key, salt) per input partition.
- exact distinct counts cannot be salted this way (a value seen under two
  salts would double-count); :func:`salted_agg` therefore accepts only
  decomposable aggregates (sum/count/min/max). Distincts stay on the
  regular path (exact for oracles, HLL for production — see
  operators.rollup).

The reference has no skew handling (its dims are 5 rows); this is
engine-side scale tooling (SURVEY.md §4 AQE notes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import DEC

# (phase1, phase2) builders. Phase-1 sums stay DECIMAL (Spark widens the
# accumulator to decimal(28,4)) — casting the partial back to double between
# phases would re-quantize values above ~2^53/10^4 and break the
# "identical to direct groupBy" guarantee exactly on the hot keys this
# operator exists for. The double cast happens once, after phase 2.
# count honors SQL COUNT(col) semantics (non-null only).
DECOMPOSABLE = {
    "sum": (
        lambda c, a: F.sum(F.col(c).cast(DEC)).alias(a),
        lambda c, a: F.sum(c).cast("double").alias(a),
    ),
    "count": (
        lambda c, a: F.count(c).alias(a),
        lambda c, a: F.sum(c).cast("bigint").alias(a),
    ),
    "min": (lambda c, a: F.min(c).alias(a), lambda c, a: F.min(c).alias(a)),
    "max": (lambda c, a: F.max(c).alias(a), lambda c, a: F.max(c).alias(a)),
}


def _row_salt(df: DataFrame, n_salts: int) -> Column:
    """Uniform [0, n_salts) salt as a DETERMINISTIC function of the whole
    row (xxhash64 over every column). An unseeded ``rand()`` here would be
    a nondeterministic expression feeding a shuffle key: when a fetch
    failure forces phase-1 map tasks to recompute, re-drawn salts land
    rows in different reduce partitions than already-fetched outputs
    assumed — rows silently double-counted or lost, precisely at the
    scale this module exists for. Hashing the full row (not just the hot
    key, which would collapse back to one reducer) spreads a hot key's
    rows across salts; only bit-identical duplicate rows share a salt.
    """
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts)
    ).cast("int")


def salted_agg(
    df: DataFrame, keys: list[str], aggs: dict[str, tuple[str, str]]
) -> DataFrame:
    """Two-phase skew-proof aggregation.

    ``aggs`` maps output column -> (agg_name, input_col) with agg_name in
    {sum, count, min, max}. Phase 1 groups by (keys..., salt) where salt is
    a uniform [0, 16) int — a hot key's rows spread over 16
    reducers; phase 2 re-aggregates the per-salt partials by the true keys.
    Results are identical to a direct groupBy for decomposable aggregates
    (decimal-exact for sums), verified in tests/test_skew.py.
    """
    unknown = {a for a, _ in aggs.values()} - set(DECOMPOSABLE)
    if unknown:
        raise ValueError(f"non-decomposable aggregates cannot be salted: {unknown}")
    phase1 = df.withColumn("_salt", _row_salt(df, 16)).groupBy(*keys, "_salt").agg(
        *[DECOMPOSABLE[name][0](col, out) for out, (name, col) in aggs.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[DECOMPOSABLE[name][1](out, out) for out, (name, _) in aggs.items()]
    )


def salted_shuffle_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    *,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Replicate-and-salt equi-join for a skewed fact table against a dim
    too big to broadcast, in a context where AQE's skew-join split doesn't
    apply (streaming joins, or plans whose skewed stage AQE can't
    re-plan). The fact side gets a uniform
    salt in [0, n_salts); the dim side is replicated once per salt via
    ``explode(sequence(...))``; joining on (key, salt) spreads a hot key's
    rows over ``n_salts`` reducers instead of one.

    The trade is explicit: fact-side shuffle volume is unchanged, dim-side
    volume multiplies by ``n_salts`` — worth it exactly when
    ``n_salts × |dim| ≪ hot-key row count``. Results are identical to the
    unsalted join ONLY for ``how`` that keeps fact rows unique
    (inner/left) — a right/full join would surface each unmatched dim row
    once per salt replica, so those are rejected rather than silently
    inflated ×``n_salts``."""
    if how not in ("inner", "left"):
        raise ValueError(
            "salted_shuffle_join is only result-identical for how in "
            f"('inner', 'left'); got {how!r} (unmatched dim rows would "
            "appear once per salt replica)"
        )
    f = fact.withColumn("_salt", _row_salt(fact, n_salts))
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return f.join(d, [key, "_salt"], how).drop("_salt")


def key_skew_profile(df: DataFrame, key: str) -> DataFrame:
    """One-row key-distribution profile of ``df[key]`` — the measurement
    that DECIDES between the three join tools above (and sizes n_salts):
    how many rows the hottest key owns, how far above the mean that is,
    and how concentrated the whole distribution is.

    Columns: ``n_rows``/``n_keys``/``max_key_rows``/``null_rows`` (exact
    bigints), ``skew_ratio`` = max/mean rows-per-key (1.0 = uniform; the
    number to compare against your partition count), ``top_share`` = the
    hottest key's fraction of all rows (a lower bound on the biggest
    reducer's share under hash partitioning), and ``hhi`` = Σ(share²)
    (Herfindahl index: 1/n_keys for uniform, →1 as one key dominates).

    Shape: ONE scan — a groupBy(key) count with NULL kept as its own
    group (map-side combined), then a single-row aggregate over the
    |keys|-sized frame that routes the NULL group into ``null_rows`` and
    everything else into the key stats — no second pass for the null
    count, no windows, no joins, nothing driver-side. The cnt operands
    are widened to DECIMAL(19,0) (Spark) / HUGEINT (DuckDB) BEFORE the
    product, so even a hot key with >3e9 rows can't overflow the int64
    multiply, and Σcnt² accumulates as DECIMAL(38,0) / 128-bit int; the
    shares are one fixed-shape double division each at the end.
    """
    counts = (
        df.select(F.col(key).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    nn = F.col("k").isNotNull()
    stats = counts.agg(
        F.sum(F.when(nn, F.col("cnt"))).alias("n_rows"),
        F.count(F.when(nn, F.lit(1))).alias("n_keys"),
        F.max(F.when(nn, F.col("cnt"))).alias("max_key_rows"),
        F.sum(
            F.when(
                nn,
                F.col("cnt").cast("decimal(19,0)")
                * F.col("cnt").cast("decimal(19,0)"),
            )
        ).alias("_s2"),
        F.coalesce(F.sum(F.when(~nn, F.col("cnt"))), F.lit(0))
        .cast("bigint")
        .alias("null_rows"),
    )
    n_rows = F.col("n_rows").cast("double")
    return stats.select(
        "n_rows",
        "n_keys",
        "max_key_rows",
        "null_rows",
        (
            F.col("max_key_rows").cast("double")
            * F.col("n_keys").cast("double")
            / n_rows
        ).alias("skew_ratio"),
        (F.col("max_key_rows").cast("double") / n_rows).alias("top_share"),
        (F.col("_s2").cast("double") / (n_rows * n_rows)).alias("hhi"),
    )


def sql_key_skew_profile(table: str, key: str) -> str:
    return f"""
    WITH counts AS (
        SELECT {key} AS k, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM {table} GROUP BY 1
    ),
    stats AS (
        SELECT CAST(SUM(cnt) FILTER (k IS NOT NULL) AS BIGINT) AS n_rows,
               CAST(COUNT(*) FILTER (k IS NOT NULL) AS BIGINT) AS n_keys,
               CAST(MAX(cnt) FILTER (k IS NOT NULL) AS BIGINT)
                   AS max_key_rows,
               SUM(CAST(cnt AS HUGEINT) * cnt) FILTER (k IS NOT NULL) AS s2,
               CAST(COALESCE(SUM(cnt) FILTER (k IS NULL), 0) AS BIGINT)
                   AS null_rows
        FROM counts
    )
    SELECT n_rows, n_keys, max_key_rows, null_rows,
           CAST(max_key_rows AS DOUBLE) * CAST(n_keys AS DOUBLE)
               / CAST(n_rows AS DOUBLE) AS skew_ratio,
           CAST(max_key_rows AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top_share,
           CAST(s2 AS DOUBLE) / (CAST(n_rows AS DOUBLE)
               * CAST(n_rows AS DOUBLE)) AS hhi
    FROM stats
    """
