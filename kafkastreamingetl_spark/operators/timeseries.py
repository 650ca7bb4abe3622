"""Time-series reshaping: gap-filled (dense) daily series per key.

Aggregated event data is sparse — a (key, day) with no events simply has no
row — but downstream consumers (forecasting models, charting, day-over-day
ratios) need a DENSE grid: every key × every day in the observed span,
missing days filled explicitly. This operator produces that grid
relationally (no driver-side date arithmetic, no collect):

- the day spine comes from one global min/max aggregate exploded through
  ``sequence`` — a 1-row cross join, broadcast by AQE;
- additive metrics (revenue, counts) fill with ZERO on missing days (no
  events means no revenue — carrying yesterday's sum forward would be
  wrong);
- state-like metrics (the day's closing event value) FORWARD-FILL via
  ``last(..., ignorenulls=True)`` over a day-ordered window — the last
  known state persists through quiet days, the daily-closing-price
  semantics;
- ``is_observed`` marks real vs filled rows so consumers can tell data
  from imputation.

Scale shape: the heavy input collapses to one (key, day) row per group
map-side before anything else; the grid is |keys| × |days| — tiny relative
to events; the forward-fill window sorts days within each key (bounded by
span length, not event count). The reference has nothing like this
(SURVEY §2 has no reshape family); it is the batch complement of the
streaming windowed aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import dsum, sql_dsum


def daily_dense_series(events: DataFrame) -> DataFrame:
    """(key, day, revenue, n_events, close, is_observed): the gap-filled
    daily series per key over the full observed span.

    ``close`` is the value of the day's LAST event (ties broken by
    event_id — a total order, so both engines pick the same row),
    forward-filled across missing days and 0.0 before a key's first
    observation; ``revenue``/``n_events`` zero-fill. Null keys are
    excluded (they would form a phantom series)."""
    ev = events.filter(F.col("event_type").isNotNull()).select(
        F.col("event_type").alias("key"),
        F.to_date("ts").alias("day"),
        F.col("ts").alias("_ts"),
        "event_id",
        F.col("value").alias("_v"),
    )
    last_first = Window.partitionBy("key", "day").orderBy(
        F.col("_ts").desc_nulls_last(), F.col("event_id").desc_nulls_last()
    )
    # daily is persisted ((key × day)-sized) and the span bounds + key set
    # derive FROM it rather than from the raw events: every observed (key,
    # day) survives the aggregation, so min/max day and the distinct keys
    # are identical — and the executed plan scans events exactly once
    # where it used to re-run the scan for each of the three consumers
    # (round-11 scan audit)
    daily = (
        ev.withColumn("_rn", F.row_number().over(last_first))
        .groupBy("key", "day")
        .agg(
            dsum("_v", "revenue"),
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.when(F.col("_rn") == 1, F.col("_v"))).alias("_close_raw"),
        )
        .persist()
    )
    bounds = daily.agg(
        F.min("day").alias("_d0"), F.max("day").alias("_d1")
    )
    days = bounds.select(
        F.explode(F.expr("sequence(_d0, _d1, interval 1 day)")).alias("day")
    )
    keys = daily.select("key").distinct()
    grid = keys.crossJoin(days)
    ff = Window.partitionBy("key").orderBy(F.col("day").asc_nulls_first()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        grid.join(daily, ["key", "day"], "left")
        .select(
            "key",
            "day",
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce(
                F.last("_close_raw", ignorenulls=True).over(ff), F.lit(0.0)
            ).alias("close"),
            # observed = a daily row EXISTS — not "_close_raw is non-null",
            # which would mislabel a real day whose newest event has a
            # null value as imputed (close still forward-fills there: the
            # last KNOWN state persists through a null-valued close)
            F.col("n_events").isNotNull().alias("is_observed"),
        )
    )


def sql_daily_dense_series() -> str:
    return f"""
    WITH ev AS (
        SELECT event_type AS key, CAST(ts AS DATE) AS day,
               ts AS _ts, event_id, value AS _v
        FROM events
        WHERE event_type IS NOT NULL
    ),
    daily AS (
        SELECT key, day,
               {sql_dsum('_v')} AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(CASE WHEN _rn = 1 THEN _v END) AS _close_raw
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY key, day
                ORDER BY _ts DESC NULLS LAST, event_id DESC NULLS LAST
            ) AS _rn
            FROM ev
        )
        GROUP BY 1, 2
    ),
    b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
    days AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        FROM b
    ),
    grid AS (SELECT k.key, days.day FROM (SELECT DISTINCT key FROM ev) k
             CROSS JOIN days)
    SELECT g.key, g.day,
           COALESCE(d.revenue, 0.0) AS revenue,
           COALESCE(d.n_events, 0) AS n_events,
           COALESCE(last_value(d._close_raw IGNORE NULLS) OVER (
               PARTITION BY g.key ORDER BY g.day ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 0.0) AS close,
           d.n_events IS NOT NULL AS is_observed
    FROM grid g LEFT JOIN daily d ON g.key = d.key AND g.day = d.day
    """


# ---------------------------------------------------------------------------
# per-key trend regression (closed-form OLS in exact integer sums)
# ---------------------------------------------------------------------------


def daily_value_trend(events: DataFrame) -> DataFrame:
    """Per-key linear trend over the daily value series: OLS slope and
    intercept of (day index, daily total) via the closed-form sums — the
    in-SQL trend detector behind "is this metric drifting" alerts.

    Everything before the final division is exact integer arithmetic:
    x = day offset from the key's first day (int), y = daily total in
    cents (bigint), and the OLS terms n·Σxy − Σx·Σy and n·Σx² − (Σx)²
    run with every operand widened to DECIMAL(19,0) (HUGEINT on the
    oracle) before the product so nothing can wrap int64 — so any
    partitioning and any engine produce bit-identical slopes. Two
    aggregations (events→days, days→key), both map-side combined; no
    windows, no joins.
    """
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
        )
    )
    # day offsets need the per-key min day; compute it first, join back
    # (broadcast — |keys| rows), then aggregate the OLS sums exactly once.
    mins = daily.groupBy("event_type").agg(F.min("d").alias("_d0"))
    x = F.datediff(F.col("d"), F.col("_d0")).cast("bigint")
    terms = daily.join(F.broadcast(mins), "event_type").select(
        "event_type",
        x.alias("x"),
        F.col("cents").alias("y"),
    )
    # widen operands to DECIMAL(19,0) before every product (HUGEINT on the
    # oracle side): x is a small day offset but y is a daily cents total,
    # so x·y (and the det/numerator cross terms) can wrap int64 silently
    # for a ~1e15-cent daily total over a multi-year span.
    d19 = "decimal(19,0)"
    agg = terms.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(d19) * F.col("y").cast(d19)).alias("sxy"),
        F.sum(F.col("x").cast(d19) * F.col("x").cast(d19)).alias("sxx"),
    )
    n = F.col("n_days")
    det = n.cast(d19) * F.col("sxx") - F.col("sx").cast(d19) * F.col(
        "sx"
    ).cast(d19)
    # det = 0 iff the key has a single observed day — a trend is undefined
    # there; explicit NULL beats the 0/0 NaN both engines would otherwise
    # emit (NaN survives hashing today, but NULL is the honest answer).
    slope_cents = F.when(
        det > 0,
        (
            n.cast(d19) * F.col("sxy")
            - F.col("sx").cast(d19) * F.col("sy").cast(d19)
        ).cast("double")
        / det.cast("double"),
    )
    intercept_cents = (
        F.col("sy").cast("double") - slope_cents * F.col("sx").cast("double")
    ) / n.cast("double")
    return agg.select(
        "event_type",
        "n_days",
        (slope_cents / 100.0).alias("slope_per_day"),
        (intercept_cents / 100.0).alias("intercept"),
    )


def sql_daily_value_trend() -> str:
    return """
    WITH daily AS (
        SELECT event_type,
               CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events
        WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    mins AS (SELECT event_type, MIN(d) AS d0 FROM daily GROUP BY 1),
    terms AS (
        SELECT daily.event_type,
               CAST(daily.d - mins.d0 AS BIGINT) AS x,
               daily.cents AS y
        FROM daily JOIN mins USING (event_type)
    ),
    agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx
        FROM terms GROUP BY 1
    ),
    slopes AS (
        SELECT event_type, n_days, sx, sy,
               CASE WHEN n_days * sxx - CAST(sx AS HUGEINT) * sx > 0
                    THEN CAST(n_days * sxy - CAST(sx AS HUGEINT) * sy
                              AS DOUBLE)
                         / CAST(n_days * sxx - CAST(sx AS HUGEINT) * sx
                                AS DOUBLE)
                    END AS slope_cents
        FROM agg
    )
    SELECT event_type, n_days,
           slope_cents / 100.0 AS slope_per_day,
           ((CAST(sy AS DOUBLE) - slope_cents * CAST(sx AS DOUBLE))
            / CAST(n_days AS DOUBLE)) / 100.0 AS intercept
    FROM slopes
    """


# ---------------------------------------------------------------------------
# rolling distinct users (exact bounded-explode + sketch-merge approx lane)
# ---------------------------------------------------------------------------

ROLLING_DISTINCT_DAYS = 7


def rolling_distinct_users(events: DataFrame) -> DataFrame:
    """Trailing ``ROLLING_DISTINCT_DAYS``-day distinct active users per day — the
    rolling-reach metric. Distincts don't add across days, so the naive
    sum-of-daily-distincts is wrong and a per-day full rescan is
    quadratic; the exact scalable form is a BOUNDED EXPLODE: each
    distinct (user, active_day) contributes to the ≤ ``ROLLING_DISTINCT_DAYS``
    window anchor days it falls inside, then one distinct-agg per anchor.
    Row amplification is a fixed ×7, shuffles carry (user, day) pairs —
    never raw events. The sketch-merge production lane
    (``rolling_distinct_users_hll``) replaces the explode with per-day
    HLL sketches unioned over the window frame.

    Anchors are restricted to observed days (a day spine join would add
    empty anchors; consumers wanting a dense axis compose with
    daily_dense_series).
    """
    pairs = events.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    fanout = pairs.select(
        "user_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(ROLLING_DISTINCT_DAYS - 1)),
                lambda i: F.date_add(F.col("d"), i),
            )
        ).alias("anchor"),
    )
    observed = events.select(
        F.col("ts").cast("date").alias("anchor")
    ).distinct()
    # the metric name carries its window so 7- and 30-day variants can
    # coexist in one schema without silent semantic collisions
    return (
        fanout.join(observed, "anchor")
        .groupBy("anchor")
        .agg(
            F.count_distinct("user_id").alias(f"n_users_{ROLLING_DISTINCT_DAYS}d")
        )
    )


def sql_rolling_distinct_users() -> str:
    return f"""
    WITH pairs AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    fanout AS (
        SELECT user_id, d + CAST(i AS INT) AS anchor
        FROM pairs, range(0, {ROLLING_DISTINCT_DAYS}) t(i)
    ),
    observed AS (SELECT DISTINCT CAST(ts AS DATE) AS anchor FROM events)
    SELECT f.anchor,
           CAST(COUNT(DISTINCT f.user_id) AS BIGINT)
               AS n_users_{ROLLING_DISTINCT_DAYS}d
    FROM fanout f JOIN observed USING (anchor)
    GROUP BY 1
    """


def pending_backlog(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """(day, open_orders): how many orders are OPEN (placed, not yet fully
    shipped) on each calendar day — interval-overlap counting by delta
    prefix-sum.

    The naive form joins every day against every order's [open, close)
    interval — quadratic; this form turns each interval into +1/-1 deltas,
    aggregates to the DAY grid (calendar-bounded: ~365 rows/year no matter
    the order count), and prefix-sums over that bounded grid. The prefix
    sum itself is a triangle broadcast self-join over the day grid — NO
    window, so nothing in the plan is an unpartitioned sort. Half-open
    [open, close): a same-day open+close order never counts.

    Domain edges, stated not assumed: orders with no lineitems never open
    a span (the close join is inner); a span with a NULL endpoint on
    EITHER side contributes nothing — filtering only the null DELTA rows
    would leak the interval's other half as an unmatched ±1 and skew
    every later running total (and a NULL day would also diverge between
    the Spark-side `<=` join and a windowed oracle's NULLS FIRST fold),
    so both engine twins drop the whole span.
    """
    o = orders.select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("open_day")
    )
    close = lineitem.groupBy("l_orderkey").agg(
        F.max(F.col("l_shipdate").cast("date")).alias("close_day")
    )
    # Each span emits its two deltas from ONE row via an in-row explode
    # (not a union of two selects over spans — the union's second leg
    # re-ran the whole orders⋈lineitem close join, and round-11's scan
    # audit showed both base tables scanned FOUR times: twice per union
    # leg, doubled again by daily's two consumers). daily is persisted
    # (one row per calendar day) so the triangle prefix-sum's two sides
    # read the cache. Executed plan: one scan of each base table.
    spans = o.join(close, o.o_orderkey == close.l_orderkey).filter(
        F.col("open_day").isNotNull() & F.col("close_day").isNotNull()
    )
    deltas = spans.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("open_day").alias("day"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col("close_day").alias("day"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("_x")
    ).select("_x.day", "_x.delta")
    daily = deltas.groupBy("day").agg(F.sum("delta").alias("_d")).persist()
    grid = daily.select(F.col("day").alias("_day2"), F.col("_d").alias("_d2"))
    return (
        daily.join(F.broadcast(grid), F.col("_day2") <= F.col("day"))
        .groupBy("day")
        .agg(F.sum("_d2").alias("open_orders"))
    )


def sql_pending_backlog() -> str:
    """DuckDB twin of :func:`pending_backlog` — window-form prefix sum
    (different algorithm, same answer), same NULL-day filter."""
    return """
    WITH close AS (
        SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS close_day
        FROM lineitem GROUP BY 1
    ),
    spans AS (
        SELECT CAST(o.o_orderdate AS DATE) AS open_day, c.close_day
        FROM orders o JOIN close c ON o.o_orderkey = c.l_orderkey
        WHERE CAST(o.o_orderdate AS DATE) IS NOT NULL
          AND c.close_day IS NOT NULL
    ),
    deltas AS (
        SELECT open_day AS day, 1 AS delta FROM spans
        UNION ALL
        SELECT close_day AS day, -1 AS delta FROM spans
    ),
    daily AS (
        SELECT day, SUM(delta) AS d FROM deltas GROUP BY 1
    )
    SELECT day, CAST(SUM(d) OVER (
        ORDER BY day ASC NULLS FIRST
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS open_orders
    FROM daily
    """


# ---------------------------------------------------------------------------
# time-weighted average (TWAP): step-function mean over event-value series
# ---------------------------------------------------------------------------


def time_weighted_value(events: DataFrame) -> DataFrame:
    """Per-key TIME-weighted average of ``value``: each event's value holds
    until the key's next event (a step function), and the average weights
    each step by how long it held — the TWAP / time-weighted telemetry mean
    that plain ``avg(value)`` gets wrong whenever sampling is irregular
    (a value held for an hour should count 3600× one held for a second).

    Exactness: weights are ``unix_micros`` deltas (bigint) over a TOTAL
    order (ts, then event_id — equal timestamps get a zero-width step for
    all but the last, deterministically on both engines); values go through
    cents (bigint) and both operands of cents·dt are widened to
    DECIMAL(19,0) (HUGEINT on the oracle) before the product, so
    Σ(cents·dt) and Σdt are exact integer sums under any partitioning
    with no int64 wrap. One double division at the end. Null values/timestamps
    are non-observations (the prior step spans the gap). Each key's LAST
    event has no next event and contributes no step — TWAP over [first,
    last] observed span, which is why ``n_steps`` can be 0 for a
    single-event key (twap NULL, honest, not 0/0).

    Scale shape: one lag window partitioned by key (never unpartitioned),
    one map-side-combinable aggregation; no joins. Reference has nothing
    like it (SURVEY §2 has no time-weighted family).
    """
    ev = events.filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select(
        F.col("event_type").alias("key"),
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("key").orderBy(
        F.col("t_us").asc_nulls_first(), F.col("event_id").asc_nulls_first()
    )
    steps = ev.withColumn("next_us", F.lead("t_us").over(w)).filter(
        F.col("next_us").isNotNull()
    )
    dt = F.col("next_us") - F.col("t_us")
    # cents·dt in raw int64 wraps for ~$3000 held across a ~1-year gap
    # (dt is MICROSECONDS) — widen both operands to DECIMAL(19,0) before
    # the product (HUGEINT on the oracle) so Σ(cents·dt) is exact d38.
    d19 = "decimal(19,0)"
    agg = steps.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_steps"),
        F.sum(dt).alias("span_us"),
        F.sum(F.col("cents").cast(d19) * dt.cast(d19)).alias("wsum"),
    )
    return agg.select(
        F.col("key").alias("event_type"),
        "n_steps",
        (F.col("span_us").cast("double") / 1e6).alias("span_seconds"),
        F.when(
            F.col("span_us") > 0,
            F.col("wsum").cast("double")
            / F.col("span_us").cast("double")
            / 100.0,
        ).alias("twap_value"),
    )


def sql_time_weighted_value() -> str:
    return """
    WITH ev AS (
        SELECT event_type AS key, epoch_us(ts) AS t_us, event_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
        WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    steps AS (
        SELECT key, cents,
               LEAD(t_us) OVER (
                   PARTITION BY key
                   ORDER BY t_us ASC NULLS FIRST, event_id ASC NULLS FIRST
               ) - t_us AS dt
        FROM ev
    ),
    agg AS (
        SELECT key,
               CAST(COUNT(*) AS BIGINT) AS n_steps,
               CAST(SUM(dt) AS BIGINT) AS span_us,
               SUM(CAST(cents AS HUGEINT) * dt) AS wsum
        FROM steps WHERE dt IS NOT NULL GROUP BY 1
    )
    SELECT key AS event_type, n_steps,
           CAST(span_us AS DOUBLE) / 1e6 AS span_seconds,
           CASE WHEN span_us > 0
                THEN CAST(wsum AS DOUBLE) / CAST(span_us AS DOUBLE) / 100.0
                END AS twap_value
    FROM agg
    """


# ---------------------------------------------------------------------------
# lag-1 autocorrelation of the daily series (drift/seasonality detector)
# ---------------------------------------------------------------------------


def daily_autocorr(events: DataFrame) -> DataFrame:
    """Per-key lag-1 autocorrelation of the daily value series: Pearson r
    between consecutive observed days' totals — the "is today predicted by
    yesterday" signal behind seasonality/drift triage (r→1 trending, r→0
    noise, r<0 alternating).

    Only ADJACENT observed days pair up (a gap breaks the pair — pairing
    across gaps would smear the lag). Daily totals are exact cents
    (bigint); the five moment sums run as DECIMAL(38,0) on the Spark side
    and DuckDB's 128-bit integer SUM on the oracle side, both exact, so
    the only inexactness is the final fixed-shape double combination —
    bit-identical across engines and partitionings. The pair window is
    partitioned by key (never unpartitioned).
    """
    daily = (
        events.filter(F.col("value").isNotNull())
        .groupBy(
            F.col("event_type").alias("key"), F.col("ts").cast("date").alias("d")
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    )
    w = Window.partitionBy("key").orderBy(F.col("d").asc_nulls_first())
    pairs = (
        daily.withColumn("d2", F.lead("d").over(w))
        .withColumn("y", F.lead("cents").over(w))
        .filter(F.datediff(F.col("d2"), F.col("d")) == 1)
        .select("key", F.col("cents").alias("x"), "y")
    )
    dec = "decimal(38,0)"
    d19 = "decimal(19,0)"
    agg = pairs.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(d19) * F.col("y").cast(d19)).alias("sxy"),
        F.sum(F.col("x").cast(d19) * F.col("x").cast(d19)).alias("sxx"),
        F.sum(F.col("y").cast(d19) * F.col("y").cast(d19)).alias("syy"),
    )
    n = F.col("n_pairs").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - sx * sy
    vx = n * F.col("sxx").cast("double") - sx * sx
    vy = n * F.col("syy").cast("double") - sy * sy
    return agg.select(
        F.col("key").alias("event_type"),
        "n_pairs",
        F.when(vx * vy > 0, cov / F.sqrt(vx * vy)).alias("autocorr_lag1"),
    )


def sql_daily_autocorr() -> str:
    return """
    WITH daily AS (
        SELECT event_type AS key, CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events
        WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT key, cents AS x, y FROM (
            SELECT key, d, cents,
                   LEAD(d) OVER w AS d2, LEAD(cents) OVER w AS y
            FROM daily
            WINDOW w AS (PARTITION BY key ORDER BY d ASC NULLS FIRST)
        ) WHERE d2 - d = 1
    ),
    agg AS (
        SELECT key,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy
        FROM pairs GROUP BY 1
    )
    SELECT key AS event_type, n_pairs,
           CASE WHEN (CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                THEN (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / SQRT((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                END AS autocorr_lag1
    FROM agg
    """


# ---------------------------------------------------------------------------
# CUSUM changepoint detection over daily volumes
# ---------------------------------------------------------------------------


def daily_volume_cusum(events: DataFrame) -> DataFrame:
    """(key, n_days, peak_day, max_cusum_scaled, shift_share): one-sided
    CUSUM changepoint detection over each key's daily event volume — the
    "did this stream's rate step up, and when" alert a volume monitor
    raises, where a z-score lane (events_zscore_anomalies) flags single
    outlier DAYS but is blind to a sustained small shift.

    Exact by construction: the recursive CUSUM
    ``C_t = max(0, C_{t-1} + (x_t - mean))`` is closed-form
    ``C_t = S_t - min_{j<=t} S_j`` over prefix sums of the mean-centered
    series — a running sum and a running min, two frames over ONE
    key-partitioned ordering, no recursion, no UDF. Mean-centering stays
    in integers by scaling: dev_t = x_t*D - N (D = key's day count, N =
    key's total), so C is in count*D units; every product runs with
    operands widened to DECIMAL(19,0) (HUGEINT in the oracle — x_t*D and
    the N*D normalizer are exactly the >3e9-per-key products the house
    overflow rule exists for) and the two doubles at the end are pure
    output formatting. ``peak_day`` is the earliest day attaining the
    max (ties broken by date, deterministic on any partitioning);
    ``shift_share`` = max C / (N*D) is the fraction of the key's total
    volume the worst sustained shift represents (0 for a flat or
    single-day series).

    Scale shape: one count aggregation events→(key, day) (map-side
    combined), a key-sized broadcast of (N, D), then windows partitioned
    by key over day-grained rows — state per task is one partition of
    DAYS, not events. Observed days only (a silent day contributes no
    row; the dense-series lane exists for zero-fill semantics). A NULL
    key drops at the totals equi-join in BOTH engines (NULL never
    equi-matches) — a null event_type is a cleaning problem
    (clean_events), not a monitored stream.
    """
    d19 = "decimal(19,0)"
    daily = (
        events.filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    # NB: Spark resolves case-insensitively, so the totals' columns must
    # not collide with the date column `d`
    tot = daily.groupBy("event_type").agg(
        F.sum("x").alias("tot_n"), F.count(F.lit(1)).alias("tot_d")
    )
    dev = (
        F.col("x").cast(d19) * F.col("tot_d").cast(d19)
        - F.col("tot_n").cast(d19)
    )
    run = (
        Window.partitionBy("event_type")
        .orderBy(F.col("d").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    keyed = Window.partitionBy("event_type")
    rows = (
        daily.join(F.broadcast(tot), "event_type")
        .withColumn("_s", F.sum(dev).over(run))
        .withColumn("_c", F.col("_s") - F.min("_s").over(run))
        .withColumn("_mc", F.max("_c").over(keyed))
    )
    return rows.groupBy("event_type").agg(
        F.max("tot_d").alias("n_days"),
        F.min(F.when(F.col("_c") == F.col("_mc"), F.col("d"))).alias(
            "peak_day"
        ),
        F.max("_c").cast("double").alias("max_cusum_scaled"),
        (
            F.max("_c").cast("double")
            / (
                F.max("tot_n").cast(d19) * F.max("tot_d").cast(d19)
            ).cast("double")
        ).alias("shift_share"),
    )


def sql_daily_volume_cusum() -> str:
    return """
    WITH daily AS (
        SELECT event_type AS key, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (
        SELECT key, CAST(SUM(x) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS dd
        FROM daily GROUP BY 1
    ),
    pre AS (
        SELECT daily.key, daily.d, tot.n, tot.dd,
               SUM(CAST(daily.x AS HUGEINT) * tot.dd - tot.n) OVER (
                   PARTITION BY daily.key ORDER BY daily.d ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS s
        FROM daily JOIN tot USING (key)
    ),
    cus AS (
        SELECT key, d, n, dd,
               s - MIN(s) OVER (
                   PARTITION BY key ORDER BY d ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS c
        FROM pre
    ),
    mx AS (
        SELECT key, MAX(c) OVER (PARTITION BY key) AS mc, c, d, n, dd
        FROM cus
    )
    SELECT key AS event_type,
           MAX(dd) AS n_days,
           MIN(CASE WHEN c = mc THEN d END) AS peak_day,
           CAST(MAX(c) AS DOUBLE) AS max_cusum_scaled,
           CAST(MAX(c) AS DOUBLE)
               / CAST(CAST(MAX(n) AS HUGEINT) * MAX(dd) AS DOUBLE)
               AS shift_share
    FROM mx
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# inter-arrival profile: per-user event-gap statistics (bot/burst signal)
# ---------------------------------------------------------------------------

BURST_GAP_US = 60_000_000  # gaps under a minute count as burst behavior


def user_interarrival_stats(events: DataFrame) -> DataFrame:
    """Per-user inter-arrival profile of the event stream: gap count,
    mean/min/max gap seconds, and how many gaps were sub-minute bursts —
    the rate-anomaly fingerprint that separates organic users from bots
    and replayed logs before their events poison a training corpus (a
    scraper fires every 50 ms forever; a human doesn't).

    Gaps are ``unix_micros`` deltas over the (ts, event_id) TOTAL order
    (equal timestamps give deterministic zero gaps on both engines —
    themselves a replay signal). One lag window partitioned by user (never
    unpartitioned), one map-side-combinable aggregation; micro-second
    sums stay exact BIGINTs (a user's total observed span cannot exceed
    int64 micros), with double division only at the output. Single-event
    users keep a row with ``n_gaps = 0`` and NULL gap stats — honest, not
    0/0. Null timestamps are non-observations.
    """
    ev = events.filter(F.col("ts").isNotNull()).select(
        F.col("user_id").alias("key"),
        F.unix_micros("ts").alias("t_us"),
        "event_id",
    )
    w = Window.partitionBy("key").orderBy(
        F.col("t_us").asc_nulls_first(), F.col("event_id").asc_nulls_first()
    )
    gaps = ev.withColumn("gap_us", F.col("t_us") - F.lag("t_us").over(w))
    return (
        gaps.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("gap_us").alias("n_gaps"),
            F.sum("gap_us").alias("_sum_us"),
            F.min("gap_us").alias("_min_us"),
            F.max("gap_us").alias("_max_us"),
            F.sum(
                F.when(F.col("gap_us") < BURST_GAP_US, 1).otherwise(0)
            ).alias("_n_burst"),
        )
        .select(
            F.col("key").alias("user_id"),
            "n_events",
            "n_gaps",
            F.when(
                F.col("n_gaps") > 0,
                F.col("_sum_us").cast("double")
                / F.col("n_gaps")
                / 1e6,
            ).alias("mean_gap_sec"),
            (F.col("_min_us").cast("double") / 1e6).alias("min_gap_sec"),
            (F.col("_max_us").cast("double") / 1e6).alias("max_gap_sec"),
            F.coalesce(F.col("_n_burst"), F.lit(0))
            .cast("bigint")
            .alias("n_burst_gaps"),
        )
    )


def sql_user_interarrival_stats() -> str:
    return f"""
    WITH ev AS (
        SELECT user_id AS key, epoch_us(ts) AS t_us, event_id
        FROM events WHERE ts IS NOT NULL
    ),
    gaps AS (
        SELECT key,
               t_us - LAG(t_us) OVER (
                   PARTITION BY key
                   ORDER BY t_us ASC NULLS FIRST, event_id ASC NULLS FIRST
               ) AS gap_us
        FROM ev
    )
    SELECT key AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CASE WHEN COUNT(gap_us) > 0
                THEN CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) / 1e6
                END AS mean_gap_sec,
           CAST(MIN(gap_us) AS DOUBLE) / 1e6 AS min_gap_sec,
           CAST(MAX(gap_us) AS DOUBLE) / 1e6 AS max_gap_sec,
           CAST(COALESCE(SUM(CASE WHEN gap_us < {BURST_GAP_US} THEN 1
                                  ELSE 0 END), 0) AS BIGINT) AS n_burst_gaps
    FROM gaps
    GROUP BY 1
    """
