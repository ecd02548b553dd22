"""Time-series repair & detection — SURVEY.md §2 F-wave (F4-F5): CUSUM
changepoint localization and calendar-spine gap-fill with exact linear
interpolation.

Scale shape shared by both: ONE map-side-combinable aggregate collapses
the fact table to a calendar-bounded daily series (≤ #days rows no matter
how many events per day), and every order-dependent step after that rides
``functions/rank.py``'s value-banded helpers — no single-partition
window touches anything that grows with the data.  All reported values
are exact integers or integer-rounded ratios (``functions/exact.py``), so
Spark and the DuckDB oracle agree bit-for-bit at any scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from lambda_arc_events_filter_spark.catalog import load
from lambda_arc_events_filter_spark.functions.exact import (
    round_half_up,
    half_up_div,
    half_up_div_sql,
    round_int_ratio,
    round_int_ratio_sql,
)
from lambda_arc_events_filter_spark.functions.rank import (
    global_order_neighbors,
    global_order_stats,
)
from lambda_arc_events_filter_spark.functions.sessions import with_session_seq
from lambda_arc_events_filter_spark.registry import register

# ---------------------------------------------------------------------------
# F4: CUSUM changepoint on the daily error-rate series
# ---------------------------------------------------------------------------


@register(
    "daily_changepoint_cusum",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS x FROM events
      WHERE event_type = 'error' GROUP BY 1
    ),
    tot AS (SELECT count(*) AS n, sum(x) AS total FROM daily),
    run AS (SELECT d,
                   row_number() OVER (ORDER BY d) AS t,
                   sum(x) OVER (ORDER BY d) AS s
            FROM daily),
    scored AS (
      SELECT d, t, s, n, total, abs(n * s - t * total) AS cusum_scaled
      FROM run, tot
    )
    SELECT d AS changepoint_day,
           CAST(t AS BIGINT) AS prefix_days,
           CAST(n AS BIGINT) AS n_days,
           CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
           {round_int_ratio_sql('s', 't', 6)} AS mean_before,
           {round_int_ratio_sql('(total - s)', '(n - t)', 6)} AS mean_after
    FROM scored ORDER BY cusum_scaled DESC, d ASC LIMIT 1
    """,
    tags=("timeseries", "stats", "scale"),
)
def daily_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-likely changepoint of the daily error-count series by the
    CUSUM criterion: the split day t maximizing |S_t − (t/n)·S_n| — the
    prefix whose mass deviates most from a homogeneous-rate fit (Page's
    cumulative-sum statistic; ties broken to the earliest day).

    Exactness: the statistic is compared in integer space as
    |n·S_t − t·S_n| (no division until the final reported means), so the
    argmax is deterministic across engines.  Scale: the fact table
    collapses to ≤ #days rows in one combinable group-by; the running sum
    rides the value-banded helper; the argmax plans as
    TakeOrdered(1) on the daily relation — nothing downstream of the
    first aggregate grows with the data.
    """
    daily = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    run = global_order_stats(
        daily, ["d"], rank="t", running={"s": ("x", "sum")}, key=["d"]
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("total")
    )
    scored = run.join(F.broadcast(tot)).select(
        "d",
        "t",
        "s",
        "n",
        "total",
        F.abs(F.col("n") * F.col("s") - F.col("t") * F.col("total"))
        .cast("long")
        .alias("cusum_scaled"),
    )
    best = scored.orderBy(
        F.col("cusum_scaled").desc(), F.col("d").asc()
    ).limit(1)
    return best.select(
        F.col("d").alias("changepoint_day"),
        F.col("t").cast("long").alias("prefix_days"),
        F.col("n").cast("long").alias("n_days"),
        "cusum_scaled",
        round_int_ratio(F.col("s"), F.col("t"), 6).alias("mean_before"),
        round_int_ratio(
            F.col("total") - F.col("s"), F.col("n") - F.col("t"), 6
        ).alias("mean_after"),
    )


# ---------------------------------------------------------------------------
# F5: calendar-spine gap fill with exact linear interpolation
# ---------------------------------------------------------------------------


@register(
    "daily_spine_interpolate",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             sum(CAST(round(value * 100) AS BIGINT)) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    obs AS (SELECT * FROM daily WHERE day(d) % 7 NOT IN (0, 3, 4)),
    nb AS (SELECT d, v,
                  lead(d) OVER (ORDER BY d) AS nd,
                  lead(v) OVER (ORDER BY d) AS nv
           FROM obs),
    sp AS (SELECT d, v, nv,
                  CASE WHEN nd IS NULL THEN CAST(0 AS BIGINT)
                       ELSE date_diff('day', d, nd) END AS gap,
                  unnest(generate_series(0,
                    CASE WHEN nd IS NULL THEN CAST(0 AS BIGINT)
                         ELSE date_diff('day', d, nd) - 1 END)) AS p
           FROM nb)
    SELECT d + CAST(p AS INTEGER) AS day,
           p = 0 AS observed,
           CAST(CASE WHEN p = 0 THEN v ELSE
             {half_up_div_sql('(v * (gap - p) + nv * p)', 'gap')}
           END AS BIGINT) AS cents
    FROM sp
    """,
    tags=("timeseries", "scale"),
)
def daily_spine_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill onto the daily calendar spine: the purchase-revenue
    series is observed only on a deterministic subset of days
    (day-of-month % 7 ∉ {0,3,4} — mixed 1- and 2-day holes), and every
    missing day is reconstructed by exact linear interpolation between
    its bracketing observations, half-up-rounded to whole cents
    (``half_up_div`` — the interpolated value stays an exact integer).

    Scale: no dense spine table is ever materialized or joined — each
    consecutive pair of observed days GENERATES its covered interval
    (``explode(sequence(0, gap-1))``), so every spine day is emitted
    exactly once and the bracketing values travel with the row: zero
    joins after the neighbor lookup, which itself is a rank-shifted
    equi-join (``global_order_neighbors``), never a single-partition
    window.
    """
    daily = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.sum(round_half_up(F.col("value") * 100).cast("long")).alias("v"))
    )
    obs = daily.filter(~(F.dayofmonth("d") % 7).isin(0, 3, 4))
    nb = global_order_neighbors(
        obs,
        ["d"],
        key=["d"],
        leads={"next_d": ("d", 1), "next_v": ("v", 1)},
    )
    gap = F.when(
        F.col("next_d").isNotNull(), F.datediff("next_d", "d")
    ).otherwise(F.lit(0))
    sp = nb.select("d", "v", "next_v", gap.alias("gap")).select(
        "d",
        "v",
        "next_v",
        "gap",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("gap") - 1, F.lit(0)))
        ).alias("p"),
    )
    interp = half_up_div(
        F.col("v") * (F.col("gap") - F.col("p"))
        + F.col("next_v") * F.col("p"),
        F.col("gap"),
    )
    return sp.select(
        F.date_add(F.col("d"), F.col("p").cast("int")).alias("day"),
        (F.col("p") == 0).alias("observed"),
        F.when(F.col("p") == 0, F.col("v"))
        .otherwise(interp)
        .cast("long")
        .alias("cents"),
    )


# ---------------------------------------------------------------------------
# G1: autocorrelation function of the daily activity series
# ---------------------------------------------------------------------------


@register(
    "events_acf_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT)   AS s,
                   CAST(sum(x * x) AS BIGINT) AS q
            FROM daily),
    lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag),
    pairs AS (
      SELECT l.lag, a.x AS x_t, b.x AS x_lag
      FROM daily a CROSS JOIN lags l JOIN daily b ON a.d = b.d + l.lag
    ),
    per AS (
      SELECT lag,
             CAST(count(*) AS BIGINT)         AS n_pairs,
             CAST(sum(x_t * x_lag) AS BIGINT) AS p,
             CAST(sum(x_t) AS BIGINT)         AS a,
             CAST(sum(x_lag) AS BIGINT)       AS b
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag, n_pairs,
           round((n * n * p - n * s * (a + b) + n_pairs * s * s)
                 / (1.0 * n * (n * q - s * s)), 6) AS acf
    FROM per, tot
    """,
    tags=("stats", "timeseries"),
)
def events_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily event-count series at lags
    1-7 days — the first diagnostic a forecaster reads (a spike at lag 7
    is weekly seasonality; slow decay is trend).  Calendar-lag
    convention: a (t, t−k) pair exists iff BOTH days have events, and
    the mean/variance are those of the full series (the standard sample
    ACF estimator, gap-tolerant).

    One map-side-combinable aggregate collapses the fact table to the
    calendar-bounded daily series; the 7 lag relations come from ONE
    explode×join on the shifted date (both sides day-level, bounded by
    the calendar, broadcastable at any data volume).  Numerator and
    denominator are assembled as EXACT integers (multiply the centered
    moments through by n²: n²·Σx_t·x_{t−k} − nS(A_k+B_k) + n_k·S² over
    n(nQ − S²)); both stay far inside 2⁵³, so the single IEEE double
    division and round(·, 6) are bit-identical across engines — no
    cross-row float accumulation anywhere.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    # bounded (≤ calendar days) but derived: it feeds the totals, the
    # shifted side and the join side — materialize once
    daily = daily.localCheckpoint(eager=False)
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    shifted = daily.crossJoin(F.broadcast(lags)).select(
        F.date_add("d", F.col("lag")).alias("d"),
        F.col("x").alias("x_lag"),
        "lag",
    )
    pairs = shifted.join(daily.select("d", F.col("x").alias("x_t")), "d")
    per = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("x_t") * F.col("x_lag")).alias("p"),
        F.sum("x_t").alias("a"),
        F.sum("x_lag").alias("b"),
    )
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    num = n * n * F.col("p") - n * s * (F.col("a") + F.col("b")) + F.col(
        "n_pairs"
    ) * s * s
    den = n * (n * q - s * s)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lag",
            "n_pairs",
            F.round(num / (F.lit(1.0) * den), 6).alias("acf"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Holt double-exponential smoothing (level + trend recurrence)
# ---------------------------------------------------------------------------


@register(
    "events_holt_smoothing",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             round(avg(value), 6) AS x,
             row_number() OVER (ORDER BY date_trunc('day', ts)) AS i
      FROM events GROUP BY date_trunc('day', ts)
    ),
    holt AS (
      SELECT d.i, d.day, d.x,
             CAST(d.x AS DOUBLE) AS l,
             CAST((SELECT x FROM daily WHERE i = 2) - d.x AS DOUBLE) AS b
      FROM daily d WHERE d.i = 1
      UNION ALL
      SELECT d.i, d.day, d.x,
             0.3 * d.x + 0.7 * (h.l + h.b) AS l,
             0.2 * (0.3 * d.x + 0.7 * (h.l + h.b) - h.l) + 0.8 * h.b AS b
      FROM holt h JOIN daily d ON d.i = h.i + 1
    )
    SELECT day, x, round(l, 6) AS level, round(b, 6) AS trend,
           round(l + b, 6) AS forecast_next
    FROM holt ORDER BY day
    """,
    tags=("stats", "timeseries", "iterative"),
)
def events_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (α=0.3, β=0.2) of the daily
    value series: level ``l_t = αx_t + (1−α)(l_{t−1}+b_{t−1})`` and trend
    ``b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}``, initialized ``l_1 = x_1,
    b_1 = x_2 − x_1`` — the trend-aware smoother behind capacity
    forecasts, with the one-step forecast ``l+b`` per day.

    A COUPLED two-state recurrence fits neither a frame aggregate nor
    EWMA's scalar prefix fold, so the engine folds ONCE over the whole
    day-ordered array with a struct accumulator ``(l, b, hist)`` that
    appends each step's state, then explodes ``hist`` back to rows —
    O(n) total (vs the EWMA query's O(n²) per-row prefix folds) and NO
    window of any kind in the plan.  Correct at scale because the fold
    input is the calendar-bounded DAILY rollup (the fact-scale work is
    the map-side-combinable daily aggregate); the oracle runs the same
    recurrence as a recursive CTE, and both engines execute the
    IDENTICAL double-op sequence (the trend term recomputes l_t rather
    than re-reading it, in both), rounded to 6.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.round(F.avg("value"), 6).alias("x")
    )
    arr = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("xs")
    )
    hist = F.expr(
        """
        aggregate(
          slice(xs, 2, size(xs) - 1),
          named_struct(
            'l', cast(xs[0].x as double),
            'b', cast(xs[1].x - xs[0].x as double),
            'hist', array(named_struct(
              'day', xs[0].day, 'x', xs[0].x,
              'level', cast(xs[0].x as double),
              'trend', cast(xs[1].x - xs[0].x as double)))),
          (acc, v) -> named_struct(
            'l', cast(0.3 * v.x + 0.7 * (acc.l + acc.b) as double),
            'b', cast(0.2 * (0.3 * v.x + 0.7 * (acc.l + acc.b) - acc.l)
                      + 0.8 * acc.b as double),
            'hist', acc.hist || array(named_struct(
              'day', v.day, 'x', v.x,
              'level', cast(0.3 * v.x + 0.7 * (acc.l + acc.b) as double),
              'trend', cast(0.2 * (0.3 * v.x + 0.7 * (acc.l + acc.b) - acc.l)
                            + 0.8 * acc.b as double))))
        ).hist
        """
    )
    return (
        arr.select(F.explode(hist).alias("h"))
        .select(
            F.col("h.day").alias("day"),
            F.col("h.x").alias("x"),
            F.round("h.level", 6).alias("level"),
            F.round("h.trend", 6).alias("trend"),
            F.round(F.col("h.level") + F.col("h.trend"), 6).alias(
                "forecast_next"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation between two daily series
# ---------------------------------------------------------------------------


@register(
    "events_xcorr_lagged",
    oracle="""
    WITH vx AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS v
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    py AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS p
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    lags AS (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS lag),
    pairs AS (
      SELECT l.lag, py.p AS u, vx.v AS w
      FROM py CROSS JOIN lags l
      JOIN vx ON py.d = vx.d + l.lag
    ),
    m AS (
      SELECT lag,
             CAST(count(*) AS BIGINT)   AS n,
             CAST(sum(u) AS BIGINT)     AS su,
             CAST(sum(w) AS BIGINT)     AS sw,
             CAST(sum(u * u) AS BIGINT) AS suu,
             CAST(sum(w * w) AS BIGINT) AS sww,
             CAST(sum(u * w) AS BIGINT) AS suw
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag, n AS n_pairs,
           round((n * suw - su * sw)
                 / sqrt(1.0 * (n * suu - su * su) * (n * sww - sw * sw)),
                 6) AS xcorr
    FROM m ORDER BY lag
    """,
    tags=("stats", "timeseries"),
)
def events_xcorr_lagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation: Pearson r between the daily PURCHASE
    count and the daily VIEW count L days EARLIER, for L = 0..7 — "do
    views predict purchases, and at what horizon?", the bivariate
    sibling of ``events_acf_daily``.

    Paired-subset Pearson per lag (days where both series exist), all
    five moments accumulated as EXACT integers (counts² ≪ 2⁵³), so the
    only float ops are one sqrt and one division over identical integer
    inputs — bit-identical across engines, rounded to 6.  Scale shape:
    two map-side-combinable daily rollups, one broadcast 8-row lag
    explode, an equi-join on the shifted date, one hash aggregate.
    """
    e = load(spark, sf_dir, "events")
    vx = (
        e.filter(F.col("event_type") == "view")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("v"))
    )
    py = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("p"))
    )
    lags = spark.range(0, 8).select(F.col("id").cast("int").alias("lag"))
    shifted = vx.crossJoin(F.broadcast(lags)).select(
        F.date_add("d", F.col("lag")).alias("d"), F.col("v").alias("w"), "lag"
    )
    pairs = py.select("d", F.col("p").alias("u")).join(shifted, "d")
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("u").alias("su"),
        F.sum("w").alias("sw"),
        F.sum(F.col("u") * F.col("u")).alias("suu"),
        F.sum(F.col("w") * F.col("w")).alias("sww"),
        F.sum(F.col("u") * F.col("w")).alias("suw"),
    )
    n, su, sw = F.col("n"), F.col("su"), F.col("sw")
    num = n * F.col("suw") - su * sw
    den = F.sqrt(
        F.lit(1.0)
        * (n * F.col("suu") - su * su)
        * (n * F.col("sww") - sw * sw)
    )
    return m.select(
        "lag",
        F.col("n").alias("n_pairs"),
        F.round(num / den, 6).alias("xcorr"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis
# ---------------------------------------------------------------------------


@register(
    "events_hurst_rs",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT x, datediff('day', (SELECT min(day) FROM daily), day) AS i
      FROM daily
    ),
    sizes AS (SELECT unnest([5, 10, 15]) AS n),
    blocks AS (
      SELECT s.n, i // s.n AS blk, i % s.n AS pos, x
      FROM idx, sizes s
      WHERE i // s.n < (SELECT count(*) FROM daily) // s.n
    ),
    m AS (
      SELECT n, blk,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM blocks GROUP BY 1, 2
    ),
    cum AS (
      SELECT b.n, b.blk, b.pos,
             sum(b.x) OVER (PARTITION BY b.n, b.blk ORDER BY b.pos
                            ROWS UNBOUNDED PRECEDING) AS run,
             m.sx, m.sxx
      FROM blocks b JOIN m ON m.n = b.n AND m.blk = b.blk
    ),
    dev AS (
      SELECT n, blk, sx, sxx,
             run - (pos + 1) * (CAST(sx AS DOUBLE) / n) AS d
      FROM cum
    ),
    rs AS (
      SELECT n, blk,
             (max(d) - min(d))
             / sqrt((n * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    / (CAST(n AS DOUBLE) * n)) AS rs
      FROM dev GROUP BY n, blk, sx, sxx
    ),
    pts AS (
      SELECT n, ln(avg(rs)) AS y, ln(CAST(n AS DOUBLE)) AS t,
             CAST(count(*) AS BIGINT) AS n_blocks
      FROM rs GROUP BY n
    ),
    fit AS (
      SELECT (count(*) * sum(t * y) - sum(t) * sum(y))
             / (count(*) * sum(t * t) - sum(t) * sum(t)) AS h
      FROM pts
    )
    SELECT p.n AS block_size, p.n_blocks, round(exp(p.y), 6) AS mean_rs,
           round(f.h, 6) AS hurst
    FROM pts p, fit f ORDER BY p.n
    """,
    tags=("stats", "timeseries"),
)
def events_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis: split the daily
    revenue-cents series into blocks of 5/10/15 days, per block compute
    R/S — the range of mean-adjusted cumulative deviations over the
    population std — and fit ``log(R/S) ~ H·log(n)`` by least squares.
    H>0.5 = trending/persistent, H<0.5 = mean-reverting — the
    long-memory diagnostic for traffic/revenue series.

    Determinism discipline: the series is integer CENTS, so every
    running sum is exact; block moments accumulate Σx in BIGINT and Σx²
    in DECIMAL(38)/HUGEINT (cents² crosses 2⁶³); the mean-adjusted
    deviation ``run − (pos+1)·(sx/n)`` and the std are identical IEEE
    sequences from those exact integers.  Day index is pure date
    arithmetic off the broadcast min-day (no rank); the cumulative sum
    is a window PARTITIONED by (n, block) — bounded frames, lint-clean.
    Three block sizes × a calendar-bounded series: everything after the
    daily rollup is broadcast-scale.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(round_half_up(F.col("value") * 100).cast("long")).alias("x")
    )
    daily = daily.localCheckpoint(eager=False)
    bounds = daily.agg(
        F.min("day").alias("d0"), F.count(F.lit(1)).alias("ndays")
    )
    idx = daily.crossJoin(F.broadcast(bounds)).select(
        "x", F.datediff("day", "d0").alias("i"), "ndays"
    )
    sizes = spark.range(1, 4).select((F.col("id") * 5).cast("int").alias("n"))
    blocks = (
        idx.crossJoin(F.broadcast(sizes))
        .filter(
            F.floor(F.col("i") / F.col("n"))
            < F.floor(F.col("ndays") / F.col("n"))
        )
        .select(
            "n",
            F.floor(F.col("i") / F.col("n")).alias("blk"),
            (F.col("i") % F.col("n")).alias("pos"),
            "x",
        )
    )
    m = blocks.groupBy("n", "blk").agg(
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    w_run = Window.partitionBy("n", "blk").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = blocks.withColumn("run", F.sum("x").over(w_run)).join(
        F.broadcast(m), ["n", "blk"]
    )
    d = cum.select(
        "n",
        "blk",
        "sx",
        "sxx",
        (
            F.col("run")
            - (F.col("pos") + 1) * (F.col("sx").cast("double") / F.col("n"))
        ).alias("d"),
    )
    rs = d.groupBy("n", "blk", "sx", "sxx").agg(
        (
            (F.max("d") - F.min("d"))
            / F.sqrt(
                (
                    F.col("n") * F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double")
                )
                / (F.col("n").cast("double") * F.col("n"))
            )
        ).alias("rs")
    )
    pts = rs.groupBy("n").agg(
        F.log(F.avg("rs")).alias("y"),
        F.count(F.lit(1)).alias("n_blocks"),
    ).select("n", "y", F.log(F.col("n").cast("double")).alias("t"), "n_blocks")
    fit = pts.agg(
        (
            (
                F.count(F.lit(1)) * F.sum(F.col("t") * F.col("y"))
                - F.sum("t") * F.sum("y")
            )
            / (
                F.count(F.lit(1)) * F.sum(F.col("t") * F.col("t"))
                - F.sum("t") * F.sum("t")
            )
        ).alias("h")
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            F.col("n").alias("block_size"),
            "n_blocks",
            F.round(F.exp("y"), 6).alias("mean_rs"),
            F.round("h", 6).alias("hurst"),
        )
        .orderBy("block_size")
    )


# ---------------------------------------------------------------------------
# Dwell time by event-type transition (within-session think time)
# ---------------------------------------------------------------------------


@register(
    "events_transition_dwell",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ),
    dwell AS (
      SELECT lag(event_type) OVER w2 AS src, event_type AS dst,
             epoch_us(ts) - epoch_us(lag(ts) OVER w2) AS dwell_us
      FROM sess
      WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY ts, event_id)
    )
    SELECT src, dst,
           CAST(count(*) AS BIGINT) AS n_transitions,
           round(quantile_cont(dwell_us, 0.5) / 1000000, 7) AS p50_sec,
           round(quantile_cont(dwell_us, 0.9) / 1000000, 7) AS p90_sec
    FROM dwell WHERE src IS NOT NULL
    GROUP BY src, dst
    HAVING count(*) >= 20
    ORDER BY src, dst
    """,
    tags=("events", "timeseries", "percentile"),
)
def events_transition_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Think-time distributions per event-type TRANSITION: within each
    session, the gap between consecutive events, grouped by the
    (from → to) pair and summarized at p50/p90 — the UX diagnostic
    behind "users hesitate before purchasing but click through views
    instantly", one level finer than ``orders_interarrival_stats``'
    global gaps and the timing complement of ``events_path_trigrams``'
    counts.

    Dwells are exact integer MICROSECONDS (the unix_micros discipline —
    casting timestamps to long truncates to seconds); percentiles ride
    ``group_percentile_cont`` keyed by the transition pair (banded
    global rank — no per-group sort cliff) and report at SEVEN decimals —
    a µs percentile interpolates to at most one fractional decimal, so
    /10⁶ is exactly representable at 7 digits and no rounding boundary
    exists (6 digits put a TRUE half at the cut: caught at sf0.01, the
    COVERAGE divergence class).  The ≥20-transition support floor keeps
    the output stable across fixture regenerations.  One
    user-keyed exchange serves sessionize and the dwell lag.
    """
    from lambda_arc_events_filter_spark.functions.stats import (
        group_percentile_cont,
    )

    e = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w2 = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    dwell = with_session_seq(e).select(
        F.lag("event_type").over(w2).alias("src"),
        F.col("event_type").alias("dst"),
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w2)
        ).alias("dwell_us"),
    ).filter(F.col("src").isNotNull())
    out = group_percentile_cont(
        dwell,
        ["src", "dst"],
        "dwell_us",
        {"p50": 0.5, "p90": 0.9},
        extra_aggs=[F.count(F.lit(1)).alias("n_transitions")],
    )
    return (
        out.filter(F.col("n_transitions") >= 20)
        .select(
            "src",
            "dst",
            "n_transitions",
            F.round(F.col("p50") / 1_000_000, 7).alias("p50_sec"),
            F.round(F.col("p90") / 1_000_000, 7).alias("p90_sec"),
        )
        .orderBy("src", "dst")
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (weekly period)
# ---------------------------------------------------------------------------


@register(
    "events_holt_winters_seasonal",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             round(avg(value), 6) AS x,
             row_number() OVER (ORDER BY date_trunc('day', ts)) AS i
      FROM events GROUP BY date_trunc('day', ts)
    ),
    init AS (
      SELECT
        (SELECT round(avg(x), 9) FROM daily WHERE i <= 7) AS l0,
        (SELECT round((sum(CASE WHEN i BETWEEN 8 AND 14 THEN x END)
                     - sum(CASE WHEN i <= 7 THEN x END)) / 49.0, 9)
         FROM daily) AS b0,
        (SELECT list(round(x - (SELECT round(avg(x), 9) FROM daily
                                WHERE i <= 7), 9) ORDER BY i)
         FROM daily WHERE i <= 7) AS s0
    ),
    hw AS (
      SELECT CAST(7 AS BIGINT) AS i, d.day, d.x,
             init.l0 AS l, init.b0 AS b, init.s0 AS s,
             CAST(NULL AS DOUBLE) AS fc, CAST(NULL AS DOUBLE) AS st
      FROM daily d, init WHERE d.i = 7
      UNION ALL
      SELECT d.i, d.day, d.x,
             round(0.3 * (d.x - h.s[1]) + 0.7 * (h.l + h.b), 9) AS l,
             round(0.2 * (round(0.3 * (d.x - h.s[1])
                                + 0.7 * (h.l + h.b), 9) - h.l)
                   + 0.8 * h.b, 9) AS b,
             h.s[2:7] || [round(0.1 * (d.x - round(0.3 * (d.x - h.s[1])
                                       + 0.7 * (h.l + h.b), 9))
                                + 0.9 * h.s[1], 9)] AS s,
             round(h.l + h.b + h.s[1], 6) AS fc,
             round(0.1 * (d.x - round(0.3 * (d.x - h.s[1])
                          + 0.7 * (h.l + h.b), 9)) + 0.9 * h.s[1], 9) AS st
      FROM hw h JOIN daily d ON d.i = h.i + 1
    )
    SELECT day, x, round(l, 6) AS level, round(b, 6) AS trend,
           round(st, 6) AS seasonal, fc AS forecast
    FROM hw WHERE i >= 8
      AND (SELECT count(*) FROM daily) >= 14
    ORDER BY day
    """,
    tags=("stats", "timeseries", "iterative"),
)
def events_holt_winters_seasonal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt-Winters additive triple-exponential smoothing (Winters 1960;
    α=0.3, β=0.2, γ=0.1, weekly period m=7) of the daily value series —
    the seasonal extension of ``events_holt_smoothing``: level
    ``l_t = α(x_t−s_{t−m}) + (1−α)(l_{t−1}+b_{t−1})``, trend
    ``b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}``, seasonal
    ``s_t = γ(x_t−l_t) + (1−γ)s_{t−m}``, initialized the textbook way
    (``l_m`` = first-week mean, ``b_m`` = week-over-week mean slope /m²,
    ``s_i = x_i − l_m``), reporting each day's state plus the one-step
    forecast ``l_{t−1}+b_{t−1}+s_{t−m}`` made BEFORE observing the day.

    A THREE-state recurrence whose seasonal state is an m-vector fits no
    window/frame form, so the engine folds ONCE over the day-ordered
    array with a struct accumulator ``(l, b, s[7], hist)`` — the
    seasonal register advances as ``slice(s,2,6) || [s_t]`` (a ring
    buffer in relational clothing) and ``hist`` explodes back to rows,
    O(n·1) total with NO window in the plan.  Correct at scale because
    the fold input is the calendar-bounded DAILY rollup (fact-scale
    work = the map-side-combinable daily aggregate); the oracle runs
    the identical recurrence as a recursive CTE carrying a LIST column,
    both engines recompute l_t inline (same double-op sequence), and
    states round to 9 per step so trajectories match bit-for-bit.

    Short-series guard (ADVICE r11): the b₀ init needs two full weeks —
    on a sub-14-day series Spark's ``aggregate`` over the empty
    ``slice(xs,8,7)`` sums to 0 (numeric b₀) while the oracle's
    CASE-sum is NULL.  Both sides now short-circuit to ZERO rows below
    14 days (``size(xs) >= 14`` filter here, ``count(daily) >= 14`` in
    the SQL), so parity no longer leans on the fixture's span
    (constructed-case pytest pins the empty result).
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.round(F.avg("value"), 6).alias("x")
    )
    arr = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("xs")
    ).filter(F.size("xs") >= 14)
    st = (
        arr.withColumn(
            "l0",
            F.expr("round(aggregate(slice(xs,1,7), 0D, (a,v)->a+v.x)/7.0, 9)"),
        )
        .withColumn(
            "b0",
            F.expr(
                "round((aggregate(slice(xs,8,7),0D,(a,v)->a+v.x)"
                " - aggregate(slice(xs,1,7),0D,(a,v)->a+v.x))/49.0, 9)"
            ),
        )
        .withColumn(
            "s0", F.expr("transform(slice(xs,1,7), v -> round(v.x - l0, 9))")
        )
    )
    hist = F.expr(
        """
        aggregate(
          slice(xs, 8, size(xs) - 7),
          named_struct('l', l0, 'b', b0, 's', s0,
            'hist', cast(array() as array<struct<
              day: timestamp, x: double, level: double, trend: double,
              seasonal: double, forecast: double>>)),
          (acc, v) -> named_struct(
            'l', round(0.3 * (v.x - element_at(acc.s, 1))
                       + 0.7 * (acc.l + acc.b), 9),
            'b', round(0.2 * (round(0.3 * (v.x - element_at(acc.s, 1))
                              + 0.7 * (acc.l + acc.b), 9) - acc.l)
                       + 0.8 * acc.b, 9),
            's', slice(acc.s, 2, 6) || array(
                   round(0.1 * (v.x - round(0.3 * (v.x - element_at(acc.s, 1))
                                + 0.7 * (acc.l + acc.b), 9))
                         + 0.9 * element_at(acc.s, 1), 9)),
            'hist', acc.hist || array(named_struct(
              'day', v.day, 'x', v.x,
              'level', round(0.3 * (v.x - element_at(acc.s, 1))
                             + 0.7 * (acc.l + acc.b), 9),
              'trend', round(0.2 * (round(0.3 * (v.x - element_at(acc.s, 1))
                                    + 0.7 * (acc.l + acc.b), 9) - acc.l)
                             + 0.8 * acc.b, 9),
              'seasonal', round(0.1 * (v.x
                                - round(0.3 * (v.x - element_at(acc.s, 1))
                                        + 0.7 * (acc.l + acc.b), 9))
                                + 0.9 * element_at(acc.s, 1), 9),
              'forecast', round(acc.l + acc.b + element_at(acc.s, 1), 6))))
        ).hist
        """
    )
    return (
        st.select(F.explode(hist).alias("h"))
        .select(
            F.col("h.day").alias("day"),
            F.col("h.x").alias("x"),
            F.round("h.level", 6).alias("level"),
            F.round("h.trend", 6).alias("trend"),
            F.round("h.seasonal", 6).alias("seasonal"),
            F.col("h.forecast").alias("forecast"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Weekly-seasonality strength via a single-frequency harmonic fit (BB25)
# ---------------------------------------------------------------------------

#: cos/sin(2π·k/7), k = 0..6, rounded to 10dp and BAKED as literals so
#: both engines read identical doubles (never cos()/sin() in-plan —
#: libm trig may differ in the last ulp across engines).
_COS7 = [
    "1e0", "6.234898019e-1", "-2.22520934e-1", "-9.009688679e-1",
    "-9.009688679e-1", "-2.22520934e-1", "6.234898019e-1",
]
_SIN7 = [
    "0e0", "7.818314825e-1", "9.749279122e-1", "4.338837391e-1",
    "-4.338837391e-1", "-9.749279122e-1", "-7.818314825e-1",
]


@register(
    "daily_weekly_seasonality_strength",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1),
    t0 AS (SELECT min(day) AS d0, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS s
           FROM daily),
    seq AS (
      SELECT date_diff('day', t0.d0, daily.day) AS t,
             CAST(t0.n AS DOUBLE) * daily.x - t0.s AS u,
             [{', '.join(_COS7)}][CAST(date_diff('day', t0.d0, daily.day)
                                       % 7 AS INT) + 1] AS c,
             [{', '.join(_SIN7)}][CAST(date_diff('day', t0.d0, daily.day)
                                       % 7 AS INT) + 1] AS sn
      FROM daily, t0),
    arr AS (
      SELECT list(u * c ORDER BY t) AS uc, list(u * sn ORDER BY t) AS us,
             list(c * c ORDER BY t) AS cc, list(c * sn ORDER BY t) AS cs,
             list(sn * sn ORDER BY t) AS ss, list(u * u ORDER BY t) AS uu
      FROM seq),
    m AS (
      SELECT list_reduce(uc, (a, b) -> a + b) AS bc,
             list_reduce(us, (a, b) -> a + b) AS bs,
             list_reduce(cc, (a, b) -> a + b) AS gcc,
             list_reduce(cs, (a, b) -> a + b) AS gcs,
             list_reduce(ss, (a, b) -> a + b) AS gss,
             list_reduce(uu, (a, b) -> a + b) AS sst
      FROM arr)
    SELECT t0.n AS n_days,
           round(CAST(t0.s AS DOUBLE) / t0.n, 6) AS mean_daily,
           round(m.bc / t0.n, 6) AS cos_coeff_raw,
           round(m.bs / t0.n, 6) AS sin_coeff_raw,
           round((m.gss * m.bc * m.bc - 2 * m.gcs * m.bc * m.bs
                  + m.gcc * m.bs * m.bs)
                 / (m.gcc * m.gss - m.gcs * m.gcs) / m.sst, 6)
               AS seasonal_r2
    FROM m, t0
    """,
    tags=("stats", "timeseries"),
)
def daily_weekly_seasonality_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly-seasonality strength of the daily event series by a
    single-frequency harmonic fit — the frequency-domain sibling of the
    moving-average decomposition (events_seasonal_adjust) and
    Holt-Winters smoothing: project the centered series onto the period-7
    cosine/sine pair and report the R² of the zero-intercept
    least-squares fit (solved exactly through the 2×2 normal equations —
    the basis is NOT orthogonal on a 30-day window, so the naive
    periodogram power would over/under-state the fit).  This is the
    statistic a monitoring system thresholds to decide whether a metric
    needs weekday-aware baselines.

    Exactness: the trig basis is BAKED 10-dp literals (never libm trig
    in-plan); centered values u = N·x − S are integer-valued doubles;
    all six quadratic sums are ORDERED folds over the ≤N-day series, and
    the R² quadratic form mirrors the Mahalanobis closed-form shape —
    identical IEEE chains in both engines.  Scale shape: ONE
    map-combinable fact scan to the daily rollup; everything after is a
    bounded-series fold (days, not rows), one output row."""
    daily = load(spark, sf_dir, "events").groupBy(
        F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    t0 = daily.agg(
        F.min("day").alias("d0"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    cos_arr = "array({})".format(", ".join(w + "D" for w in _COS7))
    sin_arr = "array({})".format(", ".join(w + "D" for w in _SIN7))
    seq = daily.crossJoin(F.broadcast(t0)).select(
        F.datediff("day", "d0").alias("t"),
        (F.col("n").cast("double") * F.col("x") - F.col("s")).alias("u"),
        F.expr(f"element_at({cos_arr}, int(datediff(day, d0) % 7) + 1)")
        .alias("c"),
        F.expr(f"element_at({sin_arr}, int(datediff(day, d0) % 7) + 1)")
        .alias("sn"),
    )
    arr = seq.agg(
        F.array_sort(
            F.collect_list(F.struct("t", "u", "c", "sn"))
        ).alias("a")
    )
    fold = (
        "aggregate(transform(a, e -> {term}), 0D, (x, y) -> x + y)"
    )
    m = arr.select(
        F.expr(fold.format(term="e.u * e.c")).alias("bc"),
        F.expr(fold.format(term="e.u * e.sn")).alias("bs"),
        F.expr(fold.format(term="e.c * e.c")).alias("gcc"),
        F.expr(fold.format(term="e.c * e.sn")).alias("gcs"),
        F.expr(fold.format(term="e.sn * e.sn")).alias("gss"),
        F.expr(fold.format(term="e.u * e.u")).alias("sst"),
    )
    return m.crossJoin(F.broadcast(t0)).select(
        F.col("n").alias("n_days"),
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias(
            "mean_daily"
        ),
        F.round(F.col("bc") / F.col("n"), 6).alias("cos_coeff_raw"),
        F.round(F.col("bs") / F.col("n"), 6).alias("sin_coeff_raw"),
        F.round(
            (
                F.col("gss") * F.col("bc") * F.col("bc")
                - 2 * F.col("gcs") * F.col("bc") * F.col("bs")
                + F.col("gcc") * F.col("bs") * F.col("bs")
            )
            / (F.col("gcc") * F.col("gss") - F.col("gcs") * F.col("gcs"))
            / F.col("sst"),
            6,
        ).alias("seasonal_r2"),
    )
