"""Round-3 statistical depth: regression aggregates, exact order
statistics with deterministic tie-breaks, error-tolerant ``try_``
functions, cryptographic hash columns, time-series resampling with
forward fill, and z-score anomaly flagging.

These cover the analyst-facing statistics surface a warehouse engine
must carry (SURVEY.md §2 B23-B30/B42-B48 families, widened): every
query is a single declarative plan — aggregates stay map-side
combinable, the resample spine is generated per key with zero Python,
and the anomaly pass is the two-scan broadcast shape that holds at
100 TB (per-group moments are k rows, never a window over the corpus).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from lambda_arc_events_filter_spark.catalog import load, values_relation
from lambda_arc_events_filter_spark.functions.exact import (
    round_half_up,
    round_int_ratio,
)
from lambda_arc_events_filter_spark.functions.rank import (
    global_order_neighbors,
    global_order_stats,
)
from lambda_arc_events_filter_spark.registry import register

# ---------------------------------------------------------------------------
# Linear-regression aggregate family (regr_*)
# ---------------------------------------------------------------------------


@register(
    "agg_regression_suite",
    oracle="""
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           round(regr_slope(l_extendedprice, l_quantity), 6)     AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
           round(corr(l_extendedprice, l_quantity), 6)           AS pearson_r,
           round(covar_samp(l_extendedprice, l_quantity), 6)     AS cov_s
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_regression_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares aggregates: slope/intercept/R² of
    extendedprice regressed on quantity, plus Pearson r and sample
    covariance — the regr_* family (ANSI SQL:2016, built into both
    engines as single-pass moment aggregates).

    One hash aggregate; every regr_* decomposes into the same five
    streaming moments (n, Σx, Σy, Σxx, Σxy), so the whole row is one
    map-side-combinable pass — the cheapest possible statistical query
    shape at any scale.

    Accepted ~2.2× vs DuckDB at sf0.1, decomposed (r11, noop-sink staged
    timing, min-of-8 warm): full 0.168 s = bare 3-column lineitem
    scan→noop 0.102 s (61% — the 11 MB fixture file splits into 15 scan
    tasks under the fixture's parallelism-forcing maxPartitionBytes, so
    the stage is local-mode task dispatch + parquet decode) + moments
    agg / 3-row collect 0.066 s, over an 0.018 s empty-plan dispatch
    floor; DuckDB runs the same scan in-process with zero scheduling in
    0.050 s.  Widening maxPartitionBytes to collapse the splits moves
    the wall 0.19-0.25 s — inside host noise, so there is nothing left
    to shave: the plan is already one scan + one map-combinable agg,
    and the scan-stage floor amortizes to real parallel work at volume.
    """
    li = load(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.regr_count(y, x).alias("n"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.corr(y, x), 6).alias("pearson_r"),
        F.round(F.covar_samp(y, x), 6).alias("cov_s"),
    )


# ---------------------------------------------------------------------------
# Exact order statistics: median / discrete percentile / deterministic mode
# ---------------------------------------------------------------------------


@register(
    "agg_median_mode",
    oracle="""
    WITH m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT)  AS n,
             round(median(value), 6)   AS med
      FROM events GROUP BY event_type
    ),
    r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             count(*)    OVER (PARTITION BY event_type)                 AS cnt
      FROM events
    ),
    p90 AS (
      SELECT event_type, round(value, 6) AS p90_disc
      FROM r WHERE rn = CAST(ceil(cnt * 0.90) AS BIGINT)
    ),
    f AS (
      SELECT event_type, round(value, 2) AS vbin, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    md AS (
      SELECT event_type, vbin AS mode_bin FROM (
        SELECT event_type, vbin,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY c DESC, vbin) AS rk
        FROM f) WHERE rk = 1
    )
    SELECT m.event_type, m.n, m.med, p90.p90_disc, md.mode_bin
    FROM m JOIN p90 USING (event_type) JOIN md USING (event_type)
    """,
    tags=("agg", "stats"),
)
def agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order statistics per group: true median (interpolating, the
    built-in both engines share), discrete 90th percentile (the actual
    data value at rank ⌈0.9·n⌉ — no interpolation), and the modal value
    of the 2-decimal bin with a DETERMINISTIC tie-break (highest count,
    then lowest bin — the built-in ``mode()`` is tie-unspecified in both
    engines, so a reproducible pipeline must pin the tie itself).

    Median is a single sort-based aggregate; the discrete percentile and
    mode each ride one hash(event_type) exchange — and all three share
    that clustering, so the join at the end is co-partitioned with zero
    extra shuffles.  At scale the mode path (bin → count → top-1 per key)
    is the two-level heavy-hitter aggregate, map-side combinable.
    """
    e = load(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.median("value"), 6).alias("med"),
    )
    w = Window.partitionBy("event_type").orderBy("value")
    r = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("cnt"),
    )
    p90 = r.filter(
        F.col("rn") == F.ceil(F.col("cnt") * 0.90).cast("long")
    ).select("event_type", F.round("value", 6).alias("p90_disc"))
    fbin = e.groupBy(
        "event_type", F.round("value", 2).alias("vbin")
    ).agg(F.count(F.lit(1)).alias("c"))
    wk = Window.partitionBy("event_type").orderBy(
        F.col("c").desc(), F.col("vbin")
    )
    md = (
        fbin.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select("event_type", F.col("vbin").alias("mode_bin"))
    )
    return m.join(p90, "event_type").join(md, "event_type")


# ---------------------------------------------------------------------------
# Error-tolerant try_* function family
# ---------------------------------------------------------------------------


@register(
    "fn_try_suite",
    oracle="""
    WITH s AS (
      SELECT event_id, value,
             value % 3600 AS num,
             CAST(floor(value) AS DOUBLE) % 3 AS denom,
             CASE WHEN event_id % 2 = 0 THEN CAST(user_id AS VARCHAR)
                  ELSE event_type END AS int_str,
             CASE WHEN event_id % 3 = 0 THEN '2024-01-15'
                  ELSE event_type END AS date_str
      FROM events
    )
    SELECT event_id,
           round(num / denom, 6)                     AS safe_div,
           try_cast(int_str AS INTEGER)              AS parsed_int,
           try_strptime(date_str, '%Y-%m-%d')        AS parsed_ts
    FROM s
    """,
    tags=("functions",),
)
def fn_try_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B48 widened: the ``try_``-prefixed error-tolerant function family —
    division that yields NULL instead of failing on zero denominators,
    cast that yields NULL on unparseable strings, timestamp parse that
    yields NULL on format mismatch.

    The ingest-hardening surface: a 100 TB raw-corpus pass cannot abort
    on one malformed record, so every conversion in the hot path uses the
    try_ form and malformed rows are routed by IS NULL filters instead of
    exceptions.  (DuckDB's ``/`` already yields NULL on zero, so the
    oracle is plain division; its TRY_CAST / try_strptime mirror the
    rest.)  All pure row-level codegen — no shuffle at all.
    """
    e = load(spark, sf_dir, "events")
    int_str = F.when(
        F.col("event_id") % 2 == 0, F.col("user_id").cast("string")
    ).otherwise(F.col("event_type"))
    date_str = F.when(
        F.col("event_id") % 3 == 0, F.lit("2024-01-15")
    ).otherwise(F.col("event_type"))
    return e.select(
        "event_id",
        F.round(
            F.try_divide(
                F.col("value") % 3600,
                F.floor(F.col("value")).cast("double") % 3,
            ),
            6,
        ).alias("safe_div"),
        F.try_to_number(int_str, F.lit("999999999"))
        .cast("int")
        .alias("parsed_int"),
        F.try_to_timestamp(date_str, F.lit("yyyy-MM-dd")).alias("parsed_ts"),
    )


# ---------------------------------------------------------------------------
# Cryptographic hash / fingerprint columns
# ---------------------------------------------------------------------------


@register(
    "fn_hash_suite",
    oracle="""
    SELECT doc_id,
           md5(text)                               AS md5_hex,
           sha256(text)                            AS sha256_hex,
           substr(md5(text), 1, 8)                 AS md5_head,
           CAST(length(sha256(text)) AS INTEGER)   AS sha_len
    FROM documents
    """,
    tags=("functions", "llm"),
)
def fn_hash_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic digests as columns: md5 and sha-256 hex over document
    text — the content-addressing primitive under exact dedup, cache
    keys, and provenance ledgers (every engine agrees on these by
    construction, unlike seeded engine-native hashes such as xxhash64,
    which is why THIS pair is the cross-system fingerprint of choice).

    Pure narrow projection — fingerprints at 100 TB are a map-only job
    that feeds the exact-dedup groupBy (``dedup_exact_docs``).
    """
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.col("text")).alias("md5_hex"),
        F.sha2(F.col("text"), 256).alias("sha256_hex"),
        F.substring(F.md5(F.col("text")), 1, 8).alias("md5_head"),
        F.length(F.sha2(F.col("text"), 256)).alias("sha_len"),
    )


# ---------------------------------------------------------------------------
# Time-series resample + forward fill (gap-filling spine)
# ---------------------------------------------------------------------------


@register(
    "events_resample_ffill",
    oracle="""
    WITH b AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600 AS bucket,
             value
      FROM events
    ),
    agg AS (
      SELECT user_id, bucket, round(avg(value), 6) AS v,
             CAST(count(*) AS BIGINT) AS n_events
      FROM b GROUP BY 1, 2
    ),
    rng AS (SELECT user_id, min(bucket) mn, max(bucket) mx
            FROM agg GROUP BY 1),
    spine AS (SELECT user_id, unnest(generate_series(mn, mx, 21600)) AS bucket
              FROM rng),
    j AS (
      SELECT s.user_id, s.bucket, a.v,
             coalesce(a.n_events, 0) AS n_events
      FROM spine s LEFT JOIN agg a USING (user_id, bucket)
    ),
    g AS (
      SELECT *, count(v) OVER (PARTITION BY user_id ORDER BY bucket
                               ROWS UNBOUNDED PRECEDING) AS grp
      FROM j
    )
    SELECT user_id, bucket, n_events,
           max(v) OVER (PARTITION BY user_id, grp) AS filled_value,
           CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_gap
    FROM g
    """,
    tags=("events", "timeseries"),
)
def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: bucket each user's events into a regular
    6-hour grid, generate the COMPLETE per-user spine between their first
    and last bucket (``sequence`` + explode — missing buckets
    materialize as rows), and forward-fill gaps with the last observed
    bucket average.  The gap-filling shape behind downsampled metric
    stores and ML feature grids.

    Integer epoch arithmetic end-to-end (no engine-specific timestamp
    binning), averages rounded BEFORE the fill so both engines propagate
    identical values.  One hash(user_id) exchange serves the bucket
    aggregate, the spine generation, the in-row observation lookup, and
    the fill window
    — at 100 TB the spine is O(keys × buckets), generated, never
    shuffled wide.  Spark's ``last(ignorenulls)`` running window is the
    fill; the oracle reaches the same fill via the non-null-count
    grouping trick (DuckDB windows lack IGNORE NULLS).
    """
    e = load(spark, sf_dir, "events")
    bucket = (F.floor(F.unix_timestamp("ts") / 21600) * 21600).cast("long")
    # repartition by user_id ALONE up front: hash(user_id) satisfies the
    # clustering requirement of the (user_id, bucket) aggregate AND the
    # per-user rollup AND the fill window, so the whole query runs on one
    # exchange instead of two
    agg = (
        e.select("user_id", bucket.alias("bucket"), "value")
        .repartition("user_id")
        .groupBy("user_id", "bucket")
        .agg(
            F.round(F.avg("value"), 6).alias("v"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )
    # Spine + lookup in ONE user_id exchange: collapsing each user's
    # observed buckets into a per-user map and exploding the full spine
    # against it replaces a second (user_id, bucket) shuffle join with an
    # in-row map lookup (measured 2.3 s → ~0.9 s at sf0.1).  The map is
    # O(observed buckets per key) — bounded by the key's time span, the
    # same bound the fill window already needs.
    per_user = agg.groupBy("user_id").agg(
        F.min("bucket").alias("mn"),
        F.max("bucket").alias("mx"),
        F.map_from_entries(
            F.collect_list(F.struct("bucket", F.struct("v", "n_obs")))
        ).alias("obs"),
    )
    j = per_user.select(
        "user_id",
        F.explode(
            F.sequence("mn", "mx", F.lit(21600).cast("long"))
        ).alias("bucket"),
        "obs",
    ).select(
        "user_id",
        "bucket",
        F.col("obs")[F.col("bucket")]["v"].alias("v"),
        F.col("obs")[F.col("bucket")]["n_obs"].alias("n_obs"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "bucket",
        F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_events"),
        F.last("v", ignorenulls=True).over(w).alias("filled_value"),
        F.when(F.col("v").isNull(), 1).otherwise(0).cast("int").alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# Z-score anomaly flagging (two-scan broadcast moments)
# ---------------------------------------------------------------------------


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH m AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, round(e.value, 6) AS value,
           round((e.value - m.mu) / m.sigma, 6) AS zscore
    FROM events e JOIN m USING (event_type)
    WHERE abs((e.value - m.mu) / m.sigma) > 2.5
    """,
    tags=("events", "stats"),
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population z-score outlier flagging: per-event-type mean and
    sample stddev, then every event more than 2.5σ from its type's mean —
    the monitoring primitive behind metric alerting and data-quality
    quarantine (the batch twin of the quantile-based
    ``events_quantile_outlier_filter``).

    Deliberately NOT a window over the corpus: the moments aggregate to
    |event_type| rows, broadcast back for the second scan, so the plan is
    scan → tiny agg → broadcast-join → scan with no corpus shuffle at
    all.  The z-computation inside the filter and the projection is the
    same expression — Catalyst collapses it; both engines compare on the
    UN-rounded z (rounding only the output) so the cut line is identical.
    """
    e = load(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        e.join(F.broadcast(m), "event_type")
        .filter(F.abs(z) > 2.5)
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(z, 6).alias("zscore"),
        )
    )


# ---------------------------------------------------------------------------
# Ordered string aggregation (listagg / string_agg)
# ---------------------------------------------------------------------------


@register(
    "agg_listagg_ordered",
    oracle="""
    WITH pc AS (
      SELECT o_orderstatus, o_orderpriority,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderstatus,
           string_agg(o_orderpriority, '|' ORDER BY o_orderpriority)
             AS priorities,
           string_agg(CAST(c AS VARCHAR), '|' ORDER BY o_orderpriority)
             AS counts
    FROM pc GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: per order status, the '|'-joined list
    of priorities and their counts, in priority order — LISTAGG/WITHIN
    GROUP semantics (SQL:2016), the report-formatting aggregate.

    Determinism is the whole game: an unordered collect is
    partition-order-dependent and breaks run-to-run reproducibility, so
    the Spark side sorts INSIDE the aggregate (sort_array over collected
    structs — the array never leaves the JVM) rather than trusting input
    order.  Pre-aggregating to (status, priority) counts first keeps the
    collected arrays O(distinct values), never O(rows) — the bound that
    makes ordered listagg safe at corpus scale.
    """
    o = load(spark, sf_dir, "orders")
    pc = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("c")
    )
    pairs = F.sort_array(
        F.collect_list(F.struct("o_orderpriority", "c"))
    )
    return pc.groupBy("o_orderstatus").agg(
        F.array_join(
            F.transform(pairs, lambda s: s["o_orderpriority"]), "|"
        ).alias("priorities"),
        F.array_join(
            F.transform(pairs, lambda s: s["c"].cast("string")), "|"
        ).alias("counts"),
    )


# ---------------------------------------------------------------------------
# Exact distinct counting via bitmaps (bucketed two-level aggregate)
# ---------------------------------------------------------------------------


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
    tags=("agg", "sketch"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting through bitmap aggregation: ids map to
    (bucket, bit position), per-(group, bucket) bitmaps OR together
    map-side, and the distinct count is the sum of per-bucket popcounts.

    This is the scale-out alternative to COUNT(DISTINCT): a plain
    count-distinct shuffles every distinct VALUE, while the bitmap form
    shuffles fixed-width bitmaps whose count is bounded by id-range /
    bucket-width regardless of row count — the same two-level shape
    warehouse engines compile exact distinct into.  The oracle is plain
    COUNT(DISTINCT): value equality proves the bitmap rewrite exact, not
    approximate.

    r14 (guide §2.3/§2.4): both id columns ride ONE scan via an in-row
    ``stack`` fanout tagged by column index, sharing a single two-level
    bitmap aggregate chain; the per-column results pivot back as
    conditional sums (sum ignores the other tag's NULLs; every row has
    both ids, so neither column can lose a group).  The old shape ran a
    full scan + bucket-sort + two-level aggregate PER COLUMN and joined
    the results: fact scans 2 → 1, exchanges 4 → 2, join removed.
    Measured interleaved prepared-plan A/B (sf0.1, 12 pairs): new wins
    12/12, median 0.683 → 0.381 s, results identical.
    """
    e = load(spark, sf_dir, "events")
    fan = e.selectExpr(
        "event_type",
        "stack(2,"
        " 0, bitmap_bucket_number(user_id), bitmap_bit_position(user_id),"
        " 1, bitmap_bucket_number(event_id), bitmap_bit_position(event_id)"
        ") AS (_c, _bkt, _pos)",
    )
    return (
        fan.groupBy("event_type", "_c", "_bkt")
        .agg(F.expr("bitmap_construct_agg(_pos)").alias("_bm"))
        .groupBy("event_type")
        .agg(
            F.expr("sum(CASE WHEN _c = 0 THEN bitmap_count(_bm) END)").alias(
                "n_users"
            ),
            F.expr("sum(CASE WHEN _c = 1 THEN bitmap_count(_bm) END)").alias(
                "n_events"
            ),
        )
    )


# ---------------------------------------------------------------------------
# HLL sketch build + merge (the partial-sketch rollup pattern)
# ---------------------------------------------------------------------------


@register(
    "agg_hll_sketch_union",
    oracle=None,  # approximate by design; error-bound pinned in pytest
    tags=("agg", "sketch"),
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog sketch AS A VALUE: per-day user sketches built with
    ``hll_sketch_agg``, then merged across days with ``hll_union_agg``
    and estimated — the partial-sketch rollup that powers reusable
    distinct-count cubes (build per partition/day once, merge any
    subset later without touching raw data; mergeability is the whole
    point and what plain approx_count_distinct cannot do).

    Emits one row per day (daily estimate) plus a 'total' row (union of
    all daily sketches).  Approximate by design → no SQL oracle; the
    error bound vs exact distinct counts is pinned in
    ``tests/test_round3b.py`` (HLL standard error at default lgK=12 is
    ~1.6%; the test allows 5%).
    """
    e = load(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    )
    daily = e.groupBy("day").agg(
        F.expr("hll_sketch_agg(user_id)").alias("_sk")
    )
    per_day = daily.select(
        F.col("day").cast("string").alias("scope"),
        F.expr("hll_sketch_estimate(_sk)").alias("approx_users"),
    )
    total = daily.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(_sk))").alias(
            "approx_users"
        )
    ).select(F.lit("total").alias("scope"), "approx_users")
    return per_day.unionAll(total)


# ---------------------------------------------------------------------------
# Exponential time-decay aggregates (recency-weighted engagement)
# ---------------------------------------------------------------------------


@register(
    "events_decayed_engagement",
    oracle="""
    WITH s AS (SELECT user_id, value,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec
               FROM events),
    ref AS (SELECT max(sec) AS ref_sec FROM s)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(exp(-(ref_sec - sec) / 604800.0)), 6)
             AS decayed_count,
           round(sum(exp(-(ref_sec - sec) / 604800.0) * value), 6)
             AS decayed_value
    FROM s, ref
    GROUP BY user_id
    """,
    tags=("events", "stats", "timeseries"),
)
def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay aggregates: each event weighted by
    ``exp(-age/τ)`` (τ = 7 days) relative to the corpus's newest event,
    summed per user — the recency-weighted engagement score behind
    feature stores and ranking signals, where yesterday's click matters
    more than last month's.

    The reference instant is a one-row global aggregate broadcast into
    the scan (scalar-subquery shape); the decayed sums are plain
    map-side-combinable aggregates — decay needs NO window and NO state,
    just arithmetic against a constant, which is why it scales to any
    corpus.  Whole-second ages (both engines floor epoch to BIGINT) keep
    the exponent bit-identical cross-engine; sums round to 6.
    """
    e = load(spark, sf_dir, "events")
    sec = F.floor(F.unix_timestamp("ts")).cast("long")
    s = e.select("user_id", "value", sec.alias("sec"))
    ref = s.agg(F.max("sec").alias("ref_sec"))
    w = F.exp(-(F.col("ref_sec") - F.col("sec")) / F.lit(604800.0))
    return (
        s.join(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(w), 6).alias("decayed_count"),
            F.round(F.sum(w * F.col("value")), 6).alias("decayed_value"),
        )
    )


# ---------------------------------------------------------------------------
# Robust outliers: median / MAD (the quartet to z-score's mean / stddev)
# ---------------------------------------------------------------------------


@register(
    "events_mad_outlier",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, median(abs(e.value - m.med)) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, round(e.value, 6) AS value,
           round(0.6745 * (e.value - m.med) / d.mad, 6) AS robust_z
    FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
    WHERE abs(0.6745 * (e.value - m.med) / d.mad) > 3.5
    """,
    tags=("events", "stats"),
)
def events_mad_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier flagging via median / MAD: per event type, the
    median, then the median absolute deviation, then every event whose
    modified z-score ``0.6745·(v−med)/MAD`` exceeds 3.5 (Iglewicz-
    Hoaglin) — the heavy-tail-safe twin of ``events_anomaly_zscore``,
    which a single fat outlier can blind by inflating the stddev.

    Two tiny median aggregates (k rows each) with the corpus re-scanned,
    never shuffled: moments broadcast back for the deviation pass and the
    final scan — 100 TB posture identical to the z-score query, one extra
    pass because MAD is a nested order statistic.  Both engines share the
    interpolating ``median`` built-in and compare on the UN-rounded score.
    """
    e = load(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    rz = 0.6745 * (F.col("value") - F.col("med")) / F.col("mad")
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter(F.abs(rz) > 3.5)
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(rz, 6).alias("robust_z"),
        )
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (decile boundaries + per-bucket profile)
# ---------------------------------------------------------------------------


@register(
    "histogram_equi_depth",
    oracle="""
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*)    OVER (PARTITION BY event_type)   AS cnt
      FROM events
    )
    SELECT event_type,
           CAST(floor((rn - 1) * 10.0 / cnt) AS BIGINT) + 1 AS decile,
           CAST(count(*) AS BIGINT)   AS n,
           round(min(value), 6)       AS lo,
           round(max(value), 6)       AS hi,
           round(avg(value), 6)       AS mean_v
    FROM r GROUP BY 1, 2
    """,
    tags=("events", "stats"),
)
def histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram: per event type, rows are
    ranked by value and cut into 10 equal-population deciles, each
    profiled with count / bounds / mean — the optimizer-statistics and
    data-profiling primitive (equi-WIDTH histograms mislead on skewed
    data; equi-depth buckets adapt to the distribution).

    Bucket assignment is pure integer arithmetic on the rank
    (``floor((rn-1)·10/cnt)+1`` — both engines compute the identical
    bucket, unlike ntile whose remainder distribution is
    engine-convention), with ties pinned by event_id so the rank itself
    is deterministic.  One hash(event_type) exchange carries the rank
    window AND the bucket aggregate; at scale this is the
    sort-within-key + bounded-output shape of every percentile pass.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    r = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("cnt"),
    )
    decile = (
        F.floor((F.col("rn") - 1) * 10.0 / F.col("cnt")).cast("long") + 1
    )
    return r.groupBy("event_type", decile.alias("decile")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
        F.round(F.avg("value"), 6).alias("mean_v"),
    )


# ---------------------------------------------------------------------------
# Rolling exact median over a trailing window frame
# ---------------------------------------------------------------------------


@register(
    "window_rolling_median",
    oracle="""
    SELECT event_id, user_id,
           round(median(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS rolling_med
    FROM events
    """,
    tags=("window", "stats"),
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median of each user's last 5 event values — the
    robust smoother for noisy per-key series (a rolling mean chases
    spikes; the median ignores them).

    Spark's ordered-set aggregates don't accept window frames, so the
    engine computes the frame median itself: ``collect_list`` over the
    5-row frame (bounded — the array can never exceed the frame length),
    ``array_sort``, then the standard midpoint interpolation.  That stays
    entirely inside the one hash(user_id) exchange the window needs, and
    the O(frame·log frame) in-row sort is constant per row — the same
    cost profile DuckDB's native frame median pays.  Ties in ``ts`` are
    pinned by event_id so both engines see identical frames.
    """
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    mid_lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    return e.select(
        "event_id",
        "user_id",
        F.round((mid_lo + mid_hi) / 2.0, 6).alias("rolling_med"),
    )


# ---------------------------------------------------------------------------
# A/B test analysis: Welch z-test with polynomial normal CDF
# ---------------------------------------------------------------------------


@register(
    "events_ab_welch_ztest",
    oracle="""
    WITH g AS (
      SELECT event_type, user_id % 2 AS grp,
             count(*) AS n, avg(value) AS m, var_samp(value) AS s2
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT a.event_type,
             CAST(a.n AS BIGINT) AS n_treat, CAST(b.n AS BIGINT) AS n_ctrl,
             round(a.m - b.m, 6) AS lift,
             (a.m - b.m) / sqrt(a.s2 / a.n + b.s2 / b.n) AS z
      FROM g a JOIN g b ON a.event_type = b.event_type
      WHERE a.grp = 1 AND b.grp = 0
    ),
    c AS (
      SELECT *, abs(z) AS az, 1.0 / (1.0 + 0.2316419 * abs(z)) AS t
      FROM p
    )
    SELECT event_type, n_treat, n_ctrl, lift,
           round(z, 6) AS z_score,
           round(2 * (exp(-az * az / 2) / sqrt(2 * pi())
                 * (0.319381530 * t - 0.356563782 * t * t
                    + 1.781477937 * t * t * t
                    - 1.821255978 * t * t * t * t
                    + 1.330274429 * t * t * t * t * t)), 6) AS p_value
    FROM c
    """,
    tags=("events", "stats"),
)
def events_ab_welch_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users hash-split into treatment/control
    (user_id parity — the deterministic assignment an experiment platform
    uses), Welch's z on the value metric per event type, and a two-sided
    p-value via the Abramowitz-Stegun 26.2.17 polynomial for the normal
    tail — the experimentation primitive, entirely in SQL-expressible
    arithmetic (neither engine ships erf, so BOTH evaluate the identical
    5-term polynomial: cross-engine agreement by construction, |ε| < 8e-8
    of the true tail).

    One hash aggregate produces the 2·|event_type| moment rows; the test
    statistic is row-level arithmetic on that tiny relation — the corpus
    is scanned once and never shuffled (moments are map-side combinable),
    which is why experiment readouts stay cheap at any traffic volume.
    """
    import math

    e = load(spark, sf_dir, "events")
    g = e.groupBy(
        "event_type", (F.col("user_id") % 2).alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("s2"),
    )
    a = g.filter(F.col("grp") == 1).select(
        "event_type",
        F.col("n").alias("n_treat"),
        F.col("m").alias("m1"),
        F.col("s2").alias("s21"),
    )
    b = g.filter(F.col("grp") == 0).select(
        "event_type",
        F.col("n").alias("n_ctrl"),
        F.col("m").alias("m0"),
        F.col("s2").alias("s20"),
    )
    j = a.join(b, "event_type")
    z = (F.col("m1") - F.col("m0")) / F.sqrt(
        F.col("s21") / F.col("n_treat") + F.col("s20") / F.col("n_ctrl")
    )
    az = F.abs(z)
    t = 1.0 / (1.0 + 0.2316419 * az)
    poly = (
        0.319381530 * t
        - 0.356563782 * t * t
        + 1.781477937 * t * t * t
        - 1.821255978 * t * t * t * t
        + 1.330274429 * t * t * t * t * t
    )
    pdf = F.exp(-az * az / 2) / F.lit(math.sqrt(2 * math.pi))
    return j.select(
        "event_type",
        "n_treat",
        "n_ctrl",
        F.round(F.col("m1") - F.col("m0"), 6).alias("lift"),
        F.round(z, 6).alias("z_score"),
        F.round(2 * pdf * poly, 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence (event_type × day-of-week)
# ---------------------------------------------------------------------------


def _type_dow_cells(e: DataFrame) -> DataFrame:
    """The event type × weekday (``dow``, 0 = Sunday) contingency table
    shared by the χ² and mutual-information queries: one row per cell
    with its count ``o``, row margin ``r``, column margin ``c`` and total
    ``n``."""
    cell = e.groupBy(
        "event_type", (F.dayofweek("ts") - 1).cast("int").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = cell.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = cell.groupBy("dow").agg(F.sum("o").alias("c"))
    n = cell.agg(F.sum("o").alias("n"))
    return (
        cell.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .join(F.broadcast(n))
    )


@register(
    "events_chi_square_independence",
    oracle="""
    WITH cell AS (
      SELECT event_type, CAST(date_part('dow', ts) AS INT) AS dow,
             count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, sum(o) AS r FROM cell GROUP BY 1),
    ct AS (SELECT dow, sum(o) AS c FROM cell GROUP BY 1),
    n  AS (SELECT sum(o) AS n FROM cell)
    SELECT cell.event_type,
           CAST(rt.r AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(sum(power(cell.o - rt.r * ct.c / n.n, 2)
                     / (rt.r * ct.c / n.n)), 6) AS chi2_contrib
    FROM cell JOIN rt USING (event_type) JOIN ct USING (dow), n
    GROUP BY cell.event_type, rt.r
    """,
    tags=("agg", "stats"),
)
def events_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between event type and day-of-week:
    per event type, the summed (observed − expected)²/expected over its
    weekday cells, where expected assumes the type mix is day-invariant.
    The per-type contributions sum to the global χ² statistic — the
    standard screen for "does traffic composition depend on weekday"
    before trusting a day-sampled training snapshot.

    One contingency aggregate (|types|×7 cells) plus two tiny broadcast
    marginals — the corpus crosses the wire once into a map-side
    combinable count; everything downstream is arithmetic on k rows.
    Weekday alignment: Spark ``dayofweek`` is 1-based Sunday, DuckDB
    ``dow`` 0-based Sunday — the Spark side subtracts 1.
    """
    exp = F.col("r") * F.col("c") / F.col("n")
    return (
        _type_dow_cells(load(spark, sf_dir, "events"))
        .groupBy("event_type", "r")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum(F.pow(F.col("o") - exp, 2) / exp), 6).alias(
                "chi2_contrib"
            ),
        )
        .select(
            "event_type",
            F.col("r").cast("long").alias("n_events"),
            F.col("n_cells").cast("long").alias("n_cells"),
            "chi2_contrib",
        )
    )


# ---------------------------------------------------------------------------
# Weighted median (cumulative-weight order statistic)
# ---------------------------------------------------------------------------


@register(
    "lineitem_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag, l_extendedprice, l_quantity,
             sum(l_quantity) OVER (PARTITION BY l_returnflag
                                   ORDER BY l_extendedprice
                                   ROWS UNBOUNDED PRECEDING) AS cw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(round(min(tw), 0) AS BIGINT)  AS total_weight,
           round(min(CASE WHEN cw >= tw / 2 THEN l_extendedprice END), 4)
             AS w_median_price
    FROM w GROUP BY l_returnflag
    """,
    tags=("agg", "stats", "window"),
)
def lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag: the smallest price
    whose cumulative quantity weight reaches half the group's total — the
    order statistic that answers "half the SHIPPED VOLUME was at or below
    this price", which an unweighted median (half the line items) gets
    wrong whenever quantity correlates with price.

    One sort-based window per group builds the cumulative weight, then a
    conditional-min aggregate picks the crossing point.  At 100 TB the
    group-partitioned sort is the same single exchange an exact
    percentile pays; ties on price are harmless because the crossing
    point is a min over an upward-closed predicate — deterministic
    without a tie-break column in both engines.
    """
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    cw = F.sum("l_quantity").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tw = F.sum("l_quantity").over(Window.partitionBy("l_returnflag"))
    return (
        li.select(
            "l_returnflag",
            "l_extendedprice",
            cw.alias("cw"),
            tw.alias("tw"),
        )
        .groupBy("l_returnflag")
        .agg(
            round_half_up(F.min("tw")).cast("long").alias("total_weight"),
            F.round(
                F.min(
                    F.when(
                        F.col("cw") >= F.col("tw") / 2, F.col("l_extendedprice")
                    )
                ),
                4,
            ).alias("w_median_price"),
        )
    )


# ---------------------------------------------------------------------------
# OHLC bars (min_by/max_by positional aggregates)
# ---------------------------------------------------------------------------


@register(
    "events_ohlc_bars",
    oracle="""
    WITH r AS (
      SELECT event_type, date_trunc('day', ts) AS day, value,
             row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                ORDER BY ts, event_id)            AS rn_a,
             row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC)  AS rn_d
      FROM events
    )
    SELECT event_type, day,
           round(min(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           round(max(value), 6)                             AS high,
           round(min(value), 6)                             AS low,
           round(min(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           CAST(count(*) AS BIGINT)                         AS n_events,
           round(sum(value), 2)                             AS volume
    FROM r
    GROUP BY event_type, day
    """,
    tags=("agg", "timeseries"),
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars per event type per day: open = value of the
    earliest event in the bar, close = the latest, plus high/low/count/
    volume — the time-series downsampling every monitoring and market
    system runs.

    The engine computes open/close with ``min_by``/``max_by`` ordered by
    a (ts, event_id) STRUCT — positional aggregates in the same single
    hash-aggregate pass as high/low/sum, one shuffle of six scalars per
    bar, no window pass and no self-join.  The struct ordering key makes
    same-microsecond ties deterministic (lexicographic struct comparison
    falls through to event_id), which is what lets an order-dependent
    aggregate survive the driver's cross-engine hash check at all.  The
    oracle has no min_by-with-composite-key, so it ranks both directions
    with row_number and picks rank-1 values — same result, two window
    sorts instead of one agg pass (the reason min_by is the scale path).
    """
    e = load(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.round(F.min_by("value", key), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", key), 6).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("volume"),
        )
    )


# ---------------------------------------------------------------------------
# Association rules: event-type co-occurrence lift (market-basket shape)
# ---------------------------------------------------------------------------


@register(
    "events_assoc_lift",
    oracle="""
    WITH base AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
          FROM events),
    s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c
          FROM base GROUP BY 1),
    p AS (SELECT a.event_type AS antecedent, b.event_type AS consequent,
                 CAST(count(*) AS BIGINT) AS support_count
          FROM base a JOIN base b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2)
    SELECT antecedent, consequent, support_count,
           ((2 * support_count * 1000000 + n_users) // (2 * n_users))
               / 1000000.0                              AS support,
           ((2 * support_count * 1000000 + sa.c) // (2 * sa.c))
               / 1000000.0                              AS confidence,
           ((2 * support_count * n_users * 1000000 + sa.c * sb.c)
               // (2 * sa.c * sb.c)) / 1000000.0        AS lift
    FROM p
    CROSS JOIN n
    JOIN s sa ON antecedent = sa.event_type
    JOIN s sb ON consequent = sb.event_type
    """,
    tags=("agg", "join", "events"),
)
def events_assoc_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over user event baskets: for every pair of
    event types, support (co-occurring users / all users), confidence
    (P(consequent | antecedent)), and lift (observed co-occurrence over
    the independence expectation) — the market-basket statistics behind
    recommendation and anomaly rules.

    Scale shape: the only corpus-scale work is the DISTINCT
    (user, event_type) projection — one hash aggregate.  The pair join
    keys on user_id over baskets of at most |event_types| (5) rows, so
    the self-join emits ≤ C(5,2)·users pairs and aggregates to ≤ 10
    rows; singles and the user count broadcast back onto pairs under
    AQE.  Every ratio divides INTEGER counts, so both engines divide
    identical operands — no float-order drift to round away (the
    round(…, 6) pins the display precision, not the comparison).
    """
    e = load(spark, sf_dir, "events")
    base = e.select("user_id", "event_type").distinct()
    n_users = e.agg(
        F.count_distinct("user_id").cast("long").alias("n_users")
    )
    singles = base.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = base.select(
        F.col("user_id"), F.col("event_type").alias("antecedent")
    )
    b = base.select(F.col("user_id"), F.col("event_type").alias("consequent"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("antecedent") < F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("support_count"))
    )
    sa = F.broadcast(
        singles.select(
            F.col("event_type").alias("antecedent"), F.col("c").alias("ca")
        )
    )
    sb = F.broadcast(
        singles.select(
            F.col("event_type").alias("consequent"), F.col("c").alias("cb")
        )
    )
    sc = F.col("support_count")
    return (
        pairs.join(F.broadcast(n_users))
        .join(sa, "antecedent")
        .join(sb, "consequent")
        .select(
            "antecedent",
            "consequent",
            "support_count",
            round_int_ratio(sc, F.col("n_users"), 6).alias("support"),
            round_int_ratio(sc, F.col("ca"), 6).alias("confidence"),
            round_int_ratio(
                sc * F.col("n_users"), F.col("ca") * F.col("cb"), 6
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Mutual information between event type and weekday
# ---------------------------------------------------------------------------


@register(
    "events_mutual_information",
    oracle="""
    WITH cell AS (
      SELECT event_type, CAST(date_part('dow', ts) AS INT) AS dow,
             count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, sum(o) AS r FROM cell GROUP BY 1),
    ct AS (SELECT dow, sum(o) AS c FROM cell GROUP BY 1),
    n  AS (SELECT sum(o) AS n FROM cell)
    SELECT cell.event_type, cell.dow,
           CAST(cell.o AS BIGINT) AS n_events,
           ((2 * cell.o * 1000000 + n.n) // (2 * n.n)) / 1000000.0
               AS p_joint,
           round(cell.o * 1.0 / n.n
                 * ln(cell.o * 1.0 * n.n / (rt.r * ct.c)), 6)
             AS mi_contrib
    FROM cell JOIN rt USING (event_type) JOIN ct USING (dow), n
    """,
    tags=("agg", "stats"),
)
def events_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and day-of-week, reported as
    per-cell contributions p(x,y)·ln(p(x,y)/(p(x)p(y))) whose sum is
    I(type; weekday) — the information-theoretic sibling of
    ``events_chi_square_independence`` (χ² measures deviation mass, MI
    measures it in nats; both share the contingency machinery).

    One corpus-scale cell aggregate; marginals and the total are
    aggregates OF the 35-cell table, broadcast back — the same
    contingency shape as the χ² query.  Every ratio inside the log is
    pure integer arithmetic widened to double in the same operand order
    in both engines, so only ln() itself is platform math (both use
    IEEE double ln; drift ~1 ulp, 10 orders below the round-6 cut).
    """
    o, r, c, nn = (F.col(x) for x in ("o", "r", "c", "n"))
    return (
        _type_dow_cells(load(spark, sf_dir, "events"))
        .select(
            "event_type",
            "dow",
            o.cast("long").alias("n_events"),
            round_int_ratio(o, nn, 6).alias("p_joint"),
            F.round(
                o * 1.0 / nn * F.log(o * 1.0 * nn / (r * c)), 6
            ).alias("mi_contrib"),
        )
    )


# ---------------------------------------------------------------------------
# Per-entity trend slopes (grouped regression)
# ---------------------------------------------------------------------------


@register(
    "events_user_trend",
    oracle="""
    WITH x AS (
      SELECT user_id,
             CAST(epoch_us(ts) / 1000000 AS DOUBLE) AS t,
             value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT)            AS n_purchases,
           round(regr_slope(value, t) * 86400, 6) AS slope_per_day,
           round(regr_r2(value, t), 6)         AS r2,
           CASE WHEN count(*) < 3 THEN 'insufficient'
                WHEN regr_slope(value, t) > 0 THEN 'rising'
                ELSE 'flat_or_falling' END      AS trend
    FROM x
    GROUP BY user_id
    """,
    tags=("agg", "stats", "events"),
)
def events_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user purchase-value trend: OLS slope (per day) and R² of value
    against event time, with a coarse trend label — the grouped
    regression every account-health dashboard computes, and the grouped
    companion to ``agg_regression_suite``'s global OLS.

    ``regr_slope``/``regr_r2`` are single-pass moment aggregates
    (sums of t, v, t², tv) — map-side combinable, k rows out, no
    window and no per-group sort at any scale.  Time enters as epoch
    SECONDS in double (µs precision ÷ 1e6 — exactly representable),
    identically derived in both engines; the slope scales to per-day
    after aggregation.  The trend label compares the unrounded slope.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    x = e.select(
        "user_id",
        (F.unix_micros("ts") / F.lit(1000000.0)).alias("t"),
        "value",
    )
    slope = F.regr_slope("value", "t")
    return x.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(slope * 86400, 6).alias("slope_per_day"),
        F.round(F.regr_r2("value", "t"), 6).alias("r2"),
        F.when(F.count(F.lit(1)) < 3, "insufficient")
        .when(slope > 0, "rising")
        .otherwise("flat_or_falling")
        .alias("trend"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) per user
# ---------------------------------------------------------------------------


@register(
    "events_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, value,
             CAST(epoch_us(ts) AS BIGINT) AS t_us,
             CAST(lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id)
               AS BIGINT) AS t_next_us
      FROM events
    ),
    held AS (
      SELECT user_id, value,
             (t_next_us - t_us) AS dur_us
      FROM seq WHERE t_next_us IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT)                       AS n_intervals,
           CAST(sum(dur_us) AS BIGINT)                    AS total_us,
           round(avg(value), 6)                           AS simple_avg,
           round(sum(value * (dur_us * 1.0)) / sum(dur_us * 1.0), 6)
             AS time_weighted_avg
    FROM held
    GROUP BY user_id
    """,
    tags=("window", "stats", "events"),
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP): each event's value
    holds until the user's next event, weighted by that holding
    duration — the correct average for irregularly-sampled state
    (a value held 3 hours should count 100× one held 2 minutes, which
    the naive mean ignores; compare ``simple_avg``).

    One lead() window per user for the holding interval (the
    sessionization exchange), then a map-side-combinable weighted sum.
    Durations are integer MICROSECONDS (exact in both engines); the
    weighted sum widens them to double in the same operand order, and
    the final ratio rounds to 6 — drift bounded the same way as every
    aggregate ratio in the suite.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    seq = e.select(
        "user_id",
        "value",
        t.alias("t_us"),
        F.lead(t).over(w).alias("t_next_us"),
    ).filter(F.col("t_next_us").isNotNull())
    dur = F.col("t_next_us") - F.col("t_us")
    held = seq.select("user_id", "value", dur.alias("dur_us"))
    return held.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dur_us").cast("long").alias("total_us"),
        F.round(F.avg("value"), 6).alias("simple_avg"),
        F.round(
            F.sum(F.col("value") * (F.col("dur_us") * 1.0))
            / F.sum(F.col("dur_us") * 1.0),
            6,
        ).alias("time_weighted_avg"),
    )


# ---------------------------------------------------------------------------
# Per-(type, day) latency-style percentile bands
# ---------------------------------------------------------------------------


@register(
    "events_value_bands",
    oracle="""
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(count(*) AS BIGINT)                   AS n_events,
           round(quantile_cont(value, 0.5), 6)        AS p50,
           round(quantile_cont(value, 0.9), 6)        AS p90,
           round(quantile_cont(value, 0.99), 6)       AS p99
    FROM events
    GROUP BY 1, 2
    """,
    tags=("agg", "stats", "events"),
)
def events_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 value bands per (event type, day) — the SLO
    band chart every latency dashboard renders, at the grain where
    approximate sketches are overkill and exactness is cheap (each
    band cell holds a few hundred values).

    Runs on ``functions/stats.py::group_percentile_cont`` — the same
    exact-percentile operator as ``agg_stats``, here with a composite
    (type, day) key: 150 small groups instead of 3 large ones.
    Interpolation arithmetic (linear between adjacent order
    statistics) is the same formula DuckDB's quantile_cont applies to
    the same sorted doubles.
    """
    from lambda_arc_events_filter_spark.functions.stats import (
        group_percentile_cont,
    )

    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", "ts").alias("day"), "value"
    )
    return group_percentile_cont(
        e,
        ["event_type", "day"],
        "value",
        {"p50": 0.5, "p90": 0.9, "p99": 0.99},
        extra_aggs=[F.count(F.lit(1)).alias("n_events")],
    ).select(
        "event_type",
        "day",
        "n_events",
        F.round("p50", 6).alias("p50"),
        F.round("p90", 6).alias("p90"),
        F.round("p99", 6).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Pairwise correlation matrix (one-pass moment aggregates)
# ---------------------------------------------------------------------------


@register(
    "lineitem_corr_matrix",
    oracle="""
    SELECT round(corr(l_quantity, l_extendedprice), 6) AS qty_price,
           round(corr(l_quantity, l_discount), 6)      AS qty_discount,
           round(corr(l_quantity, l_tax), 6)           AS qty_tax,
           round(corr(l_extendedprice, l_discount), 6) AS price_discount,
           round(corr(l_extendedprice, l_tax), 6)      AS price_tax,
           round(corr(l_discount, l_tax), 6)           AS discount_tax
    FROM lineitem
    """,
    tags=("agg", "stats"),
)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation over the four lineitem measures —
    the feature-redundancy screen run before any modeling step — all
    six pairs in ONE aggregation pass (each corr is a set of co-moment
    accumulators; Spark fuses them into a single hash-aggregate over a
    single scan, versus six separate passes of a naive loop).

    Co-moment aggregates are map-side combinable, so at 100 TB this is
    exactly one scan + one 1-row exchange no matter how many pairs; the
    full p×p matrix for wide feature tables is the same plan with
    p(p−1)/2 accumulator sets.
    """
    l = load(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice", "qty_price"),
        ("l_quantity", "l_discount", "qty_discount"),
        ("l_quantity", "l_tax", "qty_tax"),
        ("l_extendedprice", "l_discount", "price_discount"),
        ("l_extendedprice", "l_tax", "price_tax"),
        ("l_discount", "l_tax", "discount_tax"),
    ]
    return l.agg(
        *[F.round(F.corr(a, b), 6).alias(n) for a, b, n in pairs]
    )


# ---------------------------------------------------------------------------
# Benford's-law first-digit audit (fraud/data-quality screen)
# ---------------------------------------------------------------------------


@register(
    "orders_benford_audit",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS d
      FROM orders WHERE o_totalprice >= 1
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM digits)
    SELECT d AS first_digit,
           CAST(count(*) AS BIGINT)                   AS n_observed,
           ((2 * count(*) * 1000000 + n.total) // (2 * n.total))
               / 1000000.0                            AS p_observed,
           round(ln(1.0 + 1.0 / d) / ln(10.0), 6)     AS p_benford,
           round(count(*) * 1.0 / n.total
                 - ln(1.0 + 1.0 / d) / ln(10.0), 6)   AS deviation
    FROM digits, n
    GROUP BY d, n.total
    """,
    tags=("agg", "stats", "maintenance"),
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed
    leading-digit frequencies against log10(1 + 1/d) — the classic
    forensic/data-quality screen for fabricated or truncated monetary
    data (synthetically uniform fixtures deviate loudly, which is
    itself the demonstration).

    First digits extract via integer → string (no float formatting in
    the digit path); one 9-group aggregate + a broadcast total.  The
    observed/expected ratios divide integers and a closed-form
    constant, rounded to 6.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("long")
    digits = o.select(d.alias("d"))
    n = digits.agg(F.count(F.lit(1)).alias("total"))
    p_benford = F.round(F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0)), 6)
    return (
        digits.groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_observed"))
        .join(F.broadcast(n))
        .select(
            F.col("d").alias("first_digit"),
            "n_observed",
            round_int_ratio(F.col("n_observed"), F.col("total"), 6).alias(
                "p_observed"
            ),
            p_benford.alias("p_benford"),
            F.round(
                F.col("n_observed") * 1.0 / F.col("total")
                - F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0)),
                6,
            ).alias("deviation"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal adjustment (hour-of-day profile removal + trend)
# ---------------------------------------------------------------------------


@register(
    "events_seasonal_adjust",
    oracle="""
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    profile AS (
      SELECT CAST(hour(hr) AS BIGINT) AS hod, round(avg(n), 6) AS seasonal
      FROM hourly GROUP BY 1
    )
    SELECT h.hr, h.n, p.seasonal,
           round(h.n - p.seasonal, 6) AS deseasonalized,
           round(avg(h.n) OVER (ORDER BY h.hr
                                ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING),
                 6) AS trend_24h
    FROM hourly h JOIN profile p ON CAST(hour(h.hr) AS BIGINT) = p.hod
    """,
    tags=("events", "timeseries", "window"),
)
def events_seasonal_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive decomposition of the hourly event-rate series:
    subtract each hour-of-day's average (the seasonal profile) to get
    the deseasonalized residual, alongside a centered 24-hour moving
    average as the trend — the STL-lite every traffic dashboard runs
    before anomaly thresholds (a 3 a.m. spike and a noon spike are
    different events at the same absolute rate).

    Corpus-scale work is one hourly rollup; the 24-row seasonal profile
    broadcasts back and the trend window runs over the time-bounded
    series (like ``events_peak_detection``).  Counts are integers, the
    profile mean divides integers — deterministic throughout.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("n")
    )
    profile = hourly.groupBy(
        F.hour("hr").cast("long").alias("hod")
    ).agg(F.round(F.avg("n"), 6).alias("seasonal"))
    # the ±12h sliding mean runs over the value-banded global hour
    # rank (offset-explode + rank equi-join, functions/rank.py) — the
    # series is time-bounded, but the plan stays single-partition-free
    # either way; counts are integers, so the re-associated average is
    # exact
    trended = global_order_neighbors(
        hourly,
        ["hr"],
        key=["hr"],
        frames={"trend_raw": ("n", "avg", -11, 12)},
    )
    return (
        trended.join(
            F.broadcast(profile),
            F.hour(F.col("hr")).cast("long") == F.col("hod"),
        )
        .select(
            "hr",
            "n",
            "seasonal",
            F.round(F.col("n") - F.col("seasonal"), 6).alias(
                "deseasonalized"
            ),
            F.round(F.col("trend_raw"), 6).alias("trend_24h"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM control chart (statistical process control)
# ---------------------------------------------------------------------------


@register(
    "events_cusum_control",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type, round(avg(x), 6) AS mu FROM daily GROUP BY 1
    )
    SELECT d.event_type, d.day, d.x,
           round(sum(round(d.x - b.mu, 6))
                 OVER (PARTITION BY d.event_type ORDER BY d.day), 6)
             AS cusum,
           abs(sum(round(d.x - b.mu, 6))
               OVER (PARTITION BY d.event_type ORDER BY d.day)) > 50
             AS out_of_control
    FROM daily d JOIN base b USING (event_type)
    """,
    tags=("stats", "timeseries", "window"),
)
def events_cusum_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM control chart per event type: the running sum of daily-mean
    deviations from the series baseline, flagged when it leaves the
    control band — the SPC change detector that catches slow drifts a
    per-point z-score never sees (each point stays in-spec while the
    cumulative deviation marches out).

    Corpus-scale work is the daily rollup; baseline is a per-type
    broadcast; the cumulative window runs over the time-bounded daily
    series.  Each deviation rounds to 6 BEFORE the cumulative sum, so
    both engines accumulate identical operands in identical frame order
    — the same discipline as the cohort-LTV cumsum.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.round(F.avg("value"), 6).alias("x"))
    base = daily.groupBy("event_type").agg(
        F.round(F.avg("x"), 6).alias("mu")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = F.round(F.col("x") - F.col("mu"), 6)
    cusum = F.sum(dev).over(w)
    return (
        daily.join(F.broadcast(base), "event_type")
        .select(
            "event_type",
            "day",
            "x",
            F.round(cusum, 6).alias("cusum"),
            (F.abs(cusum) > 50).alias("out_of_control"),
        )
    )


# ---------------------------------------------------------------------------
# EWMA smoothing (the recurrence as an ordered HOF fold)
# ---------------------------------------------------------------------------


@register(
    "events_ewma_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1
    ),
    seq AS (
      SELECT day, x,
             list(x) OVER (ORDER BY day
                           ROWS UNBOUNDED PRECEDING) AS xs
      FROM daily
    )
    SELECT day, x,
           round(list_reduce(xs, (s, v) -> 0.3 * v + 0.7 * s), 6) AS ewma
    FROM seq
    """,
    tags=("stats", "timeseries", "window"),
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of the daily value series
    (α = 0.3): s_t = αx_t + (1−α)s_{t−1} — the smoother behind every
    monitoring baseline, whose RECURRENCE does not fit a frame
    aggregate (each output needs the previous OUTPUT, not the previous
    input).

    The engine runs the recurrence as an ordered higher-order fold:
    ``collect_list`` over the running frame hands each row its ordered
    prefix, and ``aggregate`` folds it left-to-right — O(n²) in series
    length, which is the right trade for a TIME-BOUNDED series (≤ a few
    hundred points at any corpus size; the corpus-scale work remains
    the daily rollup).  An unbounded-length recurrence would move to
    the ``events_capped_running_balance`` applyInPandas shape instead —
    the cutover is series length, and both ends are covered.  The fold
    order and the dyadic-friendly α keep both engines' arithmetic
    sequence identical; DuckDB's list_reduce seeds with the first
    element, so the Spark fold does the same (slice + head seed).
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.round(F.avg("value"), 6).alias("x")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seq = daily.select(
        "day", "x", F.collect_list("x").over(w).alias("xs")
    )
    ewma = F.expr(
        "aggregate(slice(xs, 2, size(xs) - 1), xs[0],"
        " (s, v) -> cast(0.3 * v + 0.7 * s as double))"
    )
    return seq.select("day", "x", F.round(ewma, 6).alias("ewma"))


# ---------------------------------------------------------------------------
# Population stability index (feature-drift monitoring)
# ---------------------------------------------------------------------------


@register(
    "events_psi_drift",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value, ts,
             ntile(2) OVER (PARTITION BY event_type ORDER BY ts, event_id)
               AS half
      FROM events
    ),
    edges AS (
      SELECT event_type,
             quantile_cont(value, [0.2, 0.4, 0.6, 0.8]) AS qs
      FROM ranked WHERE half = 1 GROUP BY event_type
    ),
    binned AS (
      SELECT r.event_type, r.half,
             CASE WHEN r.value < e.qs[1] THEN 0
                  WHEN r.value < e.qs[2] THEN 1
                  WHEN r.value < e.qs[3] THEN 2
                  WHEN r.value < e.qs[4] THEN 3
                  ELSE 4 END AS bin
      FROM ranked r JOIN edges e USING (event_type)
    ),
    counts AS (
      SELECT event_type, half, bin, count(*) AS c
      FROM binned GROUP BY 1, 2, 3
    ),
    tot AS (SELECT event_type, half, sum(c) AS n FROM counts GROUP BY 1, 2),
    props AS (
      SELECT c.event_type, c.bin,
             max(CASE WHEN c.half = 1 THEN c.c * 1.0 / t.n END) AS p,
             max(CASE WHEN c.half = 2 THEN c.c * 1.0 / t.n END) AS q
      FROM counts c JOIN tot t ON c.event_type = t.event_type
                              AND c.half = t.half
      GROUP BY 1, 2
    )
    SELECT event_type,
           round(sum(((coalesce(p, 0) + 1e-6) - (coalesce(q, 0) + 1e-6))
                     * ln((coalesce(p, 0) + 1e-6)
                          / (coalesce(q, 0) + 1e-6))), 6) AS psi,
           CAST(count(*) AS BIGINT)           AS n_bins
    FROM props
    GROUP BY event_type
    """,
    tags=("stats", "ml"),
)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the first and second half of
    each event type's timeline: quintile bin edges FIT on the first
    half, both halves scored against them, PSI = Σ(p−q)·ln(p/q) — the
    standard model-monitoring drift score (rule of thumb: >0.1 watch,
    >0.25 retrain), built exactly like production: bins frozen on the
    reference window, never refit on the comparison window.

    The time split uses ntile over (ts, event_id) — deterministic halves
    — and the quintile edges come from the exact percentile machinery.
    Bin proportions divide integer counts; both engines compare values
    against IDENTICAL edge values, so bin membership only flips if an
    edge lands exactly on a data value, where `<` is identical anyway.
    """
    e = load(spark, sf_dir, "events")
    w_half = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ranked = e.select(
        "event_type", "value", F.ntile(2).over(w_half).alias("half")
    )
    from lambda_arc_events_filter_spark.functions.stats import (
        group_percentile_cont,
    )

    edges = group_percentile_cont(
        ranked.filter(F.col("half") == 1),
        ["event_type"],
        "value",
        {"q1": 0.2, "q2": 0.4, "q3": 0.6, "q4": 0.8},
    )
    binned = (
        ranked.join(F.broadcast(edges), "event_type")
        .select(
            "event_type",
            "half",
            F.when(F.col("value") < F.col("q1"), 0)
            .when(F.col("value") < F.col("q2"), 1)
            .when(F.col("value") < F.col("q3"), 2)
            .when(F.col("value") < F.col("q4"), 3)
            .otherwise(4)
            .alias("bin"),
        )
    )
    counts = binned.groupBy("event_type", "half", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = counts.groupBy("event_type", "half").agg(F.sum("c").alias("n"))
    props = (
        counts.join(tot, ["event_type", "half"])
        .groupBy("event_type", "bin")
        .agg(
            F.max(
                F.when(F.col("half") == 1, F.col("c") * 1.0 / F.col("n"))
            ).alias("p"),
            F.max(
                F.when(F.col("half") == 2, F.col("c") * 1.0 / F.col("n"))
            ).alias("q"),
        )
    )
    # ε-smoothing: a bin with zero mass in either half yields NULL p or q;
    # without the floor its (p−q)·ln(p/q) term would silently drop from
    # the sum — understating PSI precisely when drift is most extreme (a
    # bin emptying out).  coalesce-to-0 + 1e-6 floor keeps every bin's
    # term finite and counted, mirrored token-for-token in the oracle.
    p_s = F.coalesce(F.col("p"), F.lit(0.0)) + 1e-6
    q_s = F.coalesce(F.col("q"), F.lit(0.0)) + 1e-6
    return props.groupBy("event_type").agg(
        F.round(F.sum((p_s - q_s) * F.log(p_s / q_s)), 6).alias("psi"),
        F.count(F.lit(1)).alias("n_bins"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival estimator (time-to-conversion with censoring)
# ---------------------------------------------------------------------------


@register(
    "users_survival_km",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             min(date_trunc('day', ts)) AS first_day,
             min(CASE WHEN event_type = 'purchase'
                      THEN date_trunc('day', ts) END) AS conv_day,
             max(date_trunc('day', ts)) AS last_day
      FROM events GROUP BY user_id
    ),
    durations AS (
      SELECT user_id,
             CASE WHEN conv_day IS NOT NULL
                  THEN date_diff('day', first_day, conv_day)
                  ELSE date_diff('day', first_day, last_day) END AS t,
             (conv_day IS NOT NULL) AS converted
      FROM spans
    ),
    per_t AS (
      SELECT CAST(t AS BIGINT) AS t,
             CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS exits
      FROM durations GROUP BY t
    ),
    risk AS (
      SELECT t, d,
             CAST(sum(exits) OVER (ORDER BY t DESC
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_at_risk
      FROM per_t
    )
    SELECT t, d, n_at_risk,
           CASE WHEN min(1.0 - d * 1.0 / n_at_risk)
                     OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 0
                THEN 0.0
                ELSE round(exp(sum(ln(CASE WHEN d < n_at_risk
                                          THEN 1.0 - d * 1.0 / n_at_risk
                                          ELSE 1.0 END))
                           OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 6)
           END AS survival
    FROM risk
    WHERE d > 0
    """,
    tags=("stats", "events"),
)
def users_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase: users who
    never purchase are right-CENSORED at their last observed day — the
    estimator that makes churn/conversion timing analysis honest
    (dropping censored users biases survival down; counting them as
    never-converting biases it up; KM does neither).

    S(t) = Π_{t_i ≤ t} (1 − dᵢ/nᵢ) computes as exp(Σ ln(·)) — the
    cumulative-PRODUCT-as-window trick (no product aggregate exists in
    either engine); the at-risk counts nᵢ come from a reverse-ordered
    cumulative sum of exits.  All counts are integers, every ratio
    divides identical operands, the log/exp round-trip is the only
    platform math (~1 ulp, far below round-6).  Corpus-scale work is
    one per-user aggregate; the curve itself is day-granular and
    time-bounded.
    """
    e = load(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    spans = e.groupBy("user_id").agg(
        F.min(day).alias("first_day"),
        F.min(
            F.when(F.col("event_type") == "purchase", day)
        ).alias("conv_day"),
        F.max(day).alias("last_day"),
    )
    t = F.when(
        F.col("conv_day").isNotNull(),
        F.datediff("conv_day", "first_day"),
    ).otherwise(F.datediff("last_day", "first_day"))
    durations = spans.select(
        t.cast("long").alias("t"), F.col("conv_day").isNotNull().alias("conv")
    )
    per_t = durations.groupBy("t").agg(
        F.sum(F.when(F.col("conv"), 1).otherwise(0)).cast("long").alias("d"),
        F.count(F.lit(1)).alias("exits"),
    )
    # both cumulative passes (reverse at-risk count, forward log-survival)
    # run value-banded (functions/rank.py) — the duration axis is
    # day-granular and time-bounded, but the plan stays free of
    # single-partition windows either way.  The cross-partition combine
    # re-associates the double log-sum (±1 ulp vs a sequential fold, far
    # inside the round-6 guard; the at-risk count is integer-exact).
    risk = global_order_stats(
        per_t,
        [("t", "desc")],
        running={"n_at_risk": ("exits", "sum")},
        key=["t"],
    ).withColumn("n_at_risk", F.col("n_at_risk").cast("long"))
    # the final event time can have d == n (everyone remaining converts):
    # that factor is exactly 0 and ln(0) ERRORS in DuckDB (−inf in Spark)
    # — zero factors go through as a neutral 1 inside the log-sum and a
    # running-min guard pins survival to 0.0 from that point on
    factor = 1.0 - F.col("d") * 1.0 / F.col("n_at_risk")
    enriched = risk.withColumn("factor", factor).withColumn(
        "lg",
        F.log(
            F.when(F.col("d") < F.col("n_at_risk"), F.col("factor")).otherwise(
                F.lit(1.0)
            )
        ),
    )
    run = global_order_stats(
        enriched,
        ["t"],
        running={"log_surv": ("lg", "sum"), "min_f": ("factor", "min")},
        key=["t"],
    )
    surv = F.when(F.col("min_f") == 0, F.lit(0.0)).otherwise(
        F.round(F.exp(F.col("log_surv")), 6)
    )
    return run.withColumn("survival", surv).filter(
        F.col("d") > 0
    ).select("t", "d", "n_at_risk", "survival")


# ---------------------------------------------------------------------------
# Difference-in-differences estimator
# ---------------------------------------------------------------------------


@register(
    "events_diff_in_diff",
    oracle="""
    WITH mid AS (
      SELECT (CAST(epoch_us(min(ts)) AS BIGINT)
              + CAST(epoch_us(max(ts)) AS BIGINT)) // 2 AS m_us
      FROM events
    ),
    cells AS (
      SELECT (user_id % 2 = 0)                        AS treated,
             (CAST(epoch_us(ts) AS BIGINT) >= mid.m_us) AS post,
             round(avg(value), 6) AS mean_v,
             CAST(count(*) AS BIGINT) AS n
      FROM events, mid
      GROUP BY 1, 2
    )
    SELECT
      max(CASE WHEN treated AND post THEN mean_v END)      AS treated_post,
      max(CASE WHEN treated AND NOT post THEN mean_v END)  AS treated_pre,
      max(CASE WHEN NOT treated AND post THEN mean_v END)  AS control_post,
      max(CASE WHEN NOT treated AND NOT post THEN mean_v END) AS control_pre,
      round((max(CASE WHEN treated AND post THEN mean_v END)
             - max(CASE WHEN treated AND NOT post THEN mean_v END))
            - (max(CASE WHEN NOT treated AND post THEN mean_v END)
               - max(CASE WHEN NOT treated AND NOT post THEN mean_v END)),
            6) AS did_estimate
    FROM cells
    """,
    tags=("stats", "events"),
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: treated cohort (even user ids — the
    deterministic stand-in for a rollout group) vs control, before vs
    after the timeline midpoint; the DiD estimate is (ΔTreated −
    ΔControl) — the workhorse quasi-experimental estimator that
    subtracts out both group-level baselines and common time shocks.

    One 4-cell aggregate over the corpus (the 2×2 design IS the query),
    the midpoint a 1-row broadcast.  Cell means round to 6 before the
    arithmetic, so the estimate combines identical operands in both
    engines.
    """
    e = load(spark, sf_dir, "events")
    # midpoint in integer MICROSECONDS — timestamp interval arithmetic
    # differs across engines; (min+max) div 2 on epoch longs is exact
    mid = e.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").alias(
            "m_us"
        )
    )
    cells = (
        e.join(F.broadcast(mid))
        .groupBy(
            (F.col("user_id") % 2 == 0).alias("treated"),
            (F.unix_micros("ts") >= F.col("m_us")).alias("post"),
        )
        .agg(
            F.round(F.avg("value"), 6).alias("mean_v"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    cell = lambda tr, po: F.max(  # noqa: E731
        F.when((F.col("treated") == tr) & (F.col("post") == po), F.col("mean_v"))
    )
    return cells.agg(
        cell(True, True).alias("treated_post"),
        cell(True, False).alias("treated_pre"),
        cell(False, True).alias("control_post"),
        cell(False, False).alias("control_pre"),
        F.round(
            (cell(True, True) - cell(True, False))
            - (cell(False, True) - cell(False, False)),
            6,
        ).alias("did_estimate"),
    )


# ---------------------------------------------------------------------------
# Forecast backtest (seasonal-naive baseline scored on holdout)
# ---------------------------------------------------------------------------


@register(
    "events_forecast_backtest",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    scored AS (
      SELECT event_type, hr, n,
             lag(n, 24) OVER (PARTITION BY event_type ORDER BY hr) AS pred
      FROM hourly
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT)                       AS n_scored,
           round(avg(abs(n - pred)), 6)                   AS mae,
           round(avg(abs(n - pred) * 1.0 / n), 6)         AS mape,
           round(sqrt(avg(power(n - pred, 2))), 6)        AS rmse
    FROM scored WHERE pred IS NOT NULL
    GROUP BY event_type
    """,
    tags=("stats", "timeseries"),
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest of the seasonal-naive baseline (predict each
    hour with the same hour yesterday), scored MAE / MAPE / RMSE per
    event type — the evaluation harness every forecasting effort needs
    FIRST, because a model that cannot beat lag-24 is not a model.

    The hourly rollup is the corpus-scale pass; prediction is one lag
    window over the time-bounded series; errors aggregate from integer
    counts (sqrt/power are the only platform math, ~1 ulp under the
    round-6).  Walk-forward honesty comes free: lag-24 never sees the
    future.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("hr")
    scored = hourly.withColumn("pred", F.lag("n", 24).over(w)).filter(
        F.col("pred").isNotNull()
    )
    err = F.col("n") - F.col("pred")
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.round(F.avg(F.abs(err)), 6).alias("mae"),
        F.round(F.avg(F.abs(err) * 1.0 / F.col("n")), 6).alias("mape"),
        F.round(F.sqrt(F.avg(F.pow(err, 2))), 6).alias("rmse"),
    )


# ---------------------------------------------------------------------------
# Trimmed and winsorized means (robust location estimators)
# ---------------------------------------------------------------------------


@register(
    "events_robust_means",
    oracle="""
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*)    OVER (PARTITION BY event_type)    AS n
      FROM events
    ),
    cuts AS (
      SELECT event_type, value, rn, n,
             CAST(floor(n * 0.10) AS BIGINT)     AS lo_k,
             n - CAST(floor(n * 0.10) AS BIGINT) AS hi_k
      FROM r
    ),
    lo_v AS (SELECT event_type, value AS lo_val FROM cuts
             WHERE rn = lo_k + 1),
    hi_v AS (SELECT event_type, value AS hi_val FROM cuts WHERE rn = hi_k)
    SELECT c.event_type,
           round(avg(c.value), 6) AS plain_mean,
           round(avg(CASE WHEN c.rn > c.lo_k AND c.rn <= c.hi_k
                          THEN c.value END), 6) AS trimmed_mean,
           round(avg(CASE WHEN c.rn <= c.lo_k THEN l.lo_val
                          WHEN c.rn >  c.hi_k THEN h.hi_val
                          ELSE c.value END), 6) AS winsorized_mean
    FROM cuts c
    JOIN lo_v l USING (event_type)
    JOIN hi_v h USING (event_type)
    GROUP BY c.event_type
    """,
    tags=("stats", "agg"),
)
def events_robust_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location estimators per event type: the 10 %-trimmed mean
    (drop each tail) and the winsorized mean (CLAMP each tail to the cut
    values instead of dropping — keeps n, caps influence), beside the
    plain mean they correct — the estimators that survive the heavy
    tails plain averages drown in (companion to ``events_mad_outlier``
    on the dispersion side).

    One rank window per group (deterministic (value, event_id) order),
    cut indices in integer arithmetic from the group count, the two cut
    VALUES joined back as per-group scalars — then all three means in
    one aggregate.  At scale the rank pass is the same machinery as the
    exact percentiles; the banded global rank of ``group_percentile_cont``
    applies identically if a single group outgrows a task.
    """
    e = load(spark, sf_dir, "events")
    w_rank = Window.partitionBy("event_type").orderBy("value", "event_id")
    w_all = Window.partitionBy("event_type")
    r = e.select(
        "event_type",
        "value",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    cuts = r.select(
        "event_type",
        "value",
        "rn",
        F.floor(F.col("n") * 0.10).cast("long").alias("lo_k"),
        (F.col("n") - F.floor(F.col("n") * 0.10)).cast("long").alias("hi_k"),
    )
    lo_v = cuts.filter(F.col("rn") == F.col("lo_k") + 1).select(
        "event_type", F.col("value").alias("lo_val")
    )
    hi_v = cuts.filter(F.col("rn") == F.col("hi_k")).select(
        "event_type", F.col("value").alias("hi_val")
    )
    inside = (F.col("rn") > F.col("lo_k")) & (F.col("rn") <= F.col("hi_k"))
    wins = (
        F.when(F.col("rn") <= F.col("lo_k"), F.col("lo_val"))
        .when(F.col("rn") > F.col("hi_k"), F.col("hi_val"))
        .otherwise(F.col("value"))
    )
    return (
        cuts.join(F.broadcast(lo_v), "event_type")
        .join(F.broadcast(hi_v), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.avg("value"), 6).alias("plain_mean"),
            F.round(F.avg(F.when(inside, F.col("value"))), 6).alias(
                "trimmed_mean"
            ),
            F.round(F.avg(wins), 6).alias("winsorized_mean"),
        )
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator (extreme-value heaviness)
# ---------------------------------------------------------------------------


@register(
    "orders_tail_index",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice AS x,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS rk
      FROM orders
    ),
    xk AS (SELECT x AS x_k FROM ranked WHERE rk = 101)
    SELECT CAST(count(*) AS BIGINT)                       AS k_used,
           round(min(r.x), 2)                             AS x_threshold,
           round(avg(ln(r.x / xk.x_k)), 6)                AS mean_log_excess,
           round(1.0 / avg(ln(r.x / xk.x_k)), 6)          AS hill_alpha
    FROM ranked r, xk
    WHERE r.rk <= 100
    """,
    tags=("stats", "agg"),
)
def orders_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the tail index over the top-100 order totals:
    α̂ = 1 / mean(ln(x_i / x_{k+1})) — the extreme-value-theory measure
    of how heavy the upper tail is (α < 2: variance effectively
    infinite, sampling and capacity planning must change regime).  The
    practical question it answers: can the biggest orders be treated as
    outliers, or are they the distribution?

    Top-k+1 via ``orderBy(desc).limit(101)`` — plans
    TakeOrderedAndProject (per-partition heap of 101, merge on the
    driver-side reduce; never a full sort, never a single-partition
    window; pinned by test_plans).  The whole computation is then
    aggregates over the bounded 101-row relation: sorted desc by x, the
    101st row has x = min(x) = x_k (the threshold order statistic), its
    own log-excess term is ln(x_k/x_k) = 0, so the top-100 sum equals
    the top-101 sum and the divisor is count−1; x_threshold (min over
    the top-100) is the second-smallest of the 101, and under a tie at
    the boundary every candidate for exclusion carries the identical x —
    so all aggregates are rank-free.  Both engines divide identical
    doubles inside ln().
    """
    o = load(spark, sf_dir, "orders")
    top101 = (
        o.select(F.col("o_totalprice").alias("x"), "o_orderkey")
        .orderBy(F.col("x").desc(), "o_orderkey")
        .limit(101)
    )
    xk = top101.agg(F.min("x").alias("x_k"))
    log_excess = F.log(F.col("x") / F.col("x_k"))
    k = F.count(F.lit(1)) - 1
    mean_log = F.sum(log_excess) / k
    return top101.join(F.broadcast(xk)).agg(
        k.cast("long").alias("k_used"),
        F.round(F.sort_array(F.collect_list("x")).getItem(1), 2).alias(
            "x_threshold"
        ),
        F.round(mean_log, 6).alias("mean_log_excess"),
        F.round(1.0 / mean_log, 6).alias("hill_alpha"),
    )


# ---------------------------------------------------------------------------
# Gini coefficient + concentration shares (revenue inequality)
# ---------------------------------------------------------------------------


@register(
    "customer_revenue_gini",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS i,
             count(*)    OVER ()                           AS n,
             sum(cents)  OVER ()                           AS total
      FROM rev
    ),
    flagged AS (
      SELECT cents, i, n, total,
             i > n - CAST(floor(n / 10) AS BIGINT) AS top_decile
      FROM ranked
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           round(max(total) / 1e2, 2) AS total_revenue,
           round((2.0 * sum(i * cents)) / (max(n) * 1.0 * max(total))
                 - (max(n) + 1.0) / max(n), 6) AS gini,
           round(sum(CASE WHEN top_decile THEN cents ELSE 0 END)
                 * 1.0 / max(total), 6) AS top_decile_share
    FROM flagged
    """,
    tags=("stats", "agg"),
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration across customers: the Gini coefficient
    (G = 2Σi·xᵢ/(n·Σx) − (n+1)/n over rank-ordered revenues) and the
    top-decile share — the inequality metrics behind key-account risk
    ("how much business walks out if the top 10 % churn") and the
    economic view of the same skew the salted-join operator handles
    physically.

    Revenues accumulate in integer cents (the structural rounding
    discipline), ranks are a deterministic (cents, custkey) order, and
    every product i·xᵢ is integer×integer summed exactly — the Gini
    arithmetic is fully exact until the final two divisions of identical
    operands.  One aggregate over orders, then the rank over the
    per-customer relation (≪ orders, but GROWS with the data) runs
    value-banded (``functions/rank.py``) — no single-partition
    window anywhere; n/total are a 1-row broadcast.
    """
    o = load(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(round_half_up(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    tot = rev.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total")
    )
    ranked = (
        global_order_stats(
            rev.select("cents", "o_custkey"), ["cents", "o_custkey"], rank="i"
        )
        .join(F.broadcast(tot))
        .withColumn(
            "top_decile",
            F.col("i") > F.col("n") - F.floor(F.col("n") / 10).cast("long"),
        )
    )
    n, total = F.max("n"), F.max("total")
    return ranked.agg(
        n.cast("long").alias("n_customers"),
        F.round(total / 1e2, 2).alias("total_revenue"),
        F.round(
            (2.0 * F.sum(F.col("i") * F.col("cents")))
            / (n * 1.0 * total)
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
        F.round(
            F.sum(F.when(F.col("top_decile"), F.col("cents")).otherwise(0))
            * 1.0
            / total,
            6,
        ).alias("top_decile_share"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov statistic
# ---------------------------------------------------------------------------


@register(
    "events_ks_two_sample",
    oracle="""
    WITH s AS (
      SELECT value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    tot AS (
      SELECT sum(is_a) AS na, sum(1 - is_a) AS nb FROM s
    ),
    steps AS (
      SELECT value,
             sum(is_a)     OVER (ORDER BY value
                                 ROWS UNBOUNDED PRECEDING) AS ca,
             sum(1 - is_a) OVER (ORDER BY value
                                 ROWS UNBOUNDED PRECEDING) AS cb
      FROM s
    ),
    at_points AS (
      SELECT value, max(ca) AS ca, max(cb) AS cb
      FROM steps GROUP BY value
    )
    SELECT CAST(tot.na AS BIGINT) AS n_a,
           CAST(tot.nb AS BIGINT) AS n_b,
           round(max(abs(ca * 1.0 * tot.nb - cb * 1.0 * tot.na))
                 / (tot.na * 1.0 * tot.nb), 6) AS ks_d
    FROM at_points, tot
    GROUP BY tot.na, tot.nb
    """,
    tags=("stats", "agg"),
)
def events_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the purchase and
    view value distributions: D = sup|F̂ₐ − F̂ᵦ| — the shape-sensitive
    distribution comparison that catches what mean tests miss (same
    mean, different spread), completing the comparison toolkit beside
    Welch (means), χ²/MI (categorical), and PSI (binned drift).

    The supremum is attained at sample points, so per-VALUE counts
    suffice: group the fact table down to one row per distinct value
    (map-side combinable — the only corpus-scale stage), then the
    running CDF counts come from the value-banded running sum
    (``functions/rank.py``) — the fact table never feeds a
    single-partition window.  max|ca·nb − cb·na| stays in INTEGERS
    (cross-multiplied — no per-step float division) and divides once at
    the end.  Exact up to that single division of identical operands.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    s = e.select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "is_a"
        ),
    )
    g = s.groupBy("value").agg(
        F.sum("is_a").alias("a_inc"),
        F.sum(1 - F.col("is_a")).alias("b_inc"),
    )
    tot = g.agg(
        F.sum("a_inc").alias("na"), F.sum("b_inc").alias("nb")
    )
    at_points = global_order_stats(
        g, ["value"], running={"ca": ("a_inc", "sum"), "cb": ("b_inc", "sum")}
    )
    return (
        at_points.join(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("ca") * 1.0 * F.col("nb")
                        - F.col("cb") * 1.0 * F.col("na")
                    )
                )
                / (F.col("na") * 1.0 * F.col("nb")),
                6,
            ).alias("ks_d")
        )
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            "ks_d",
        )
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) test
# ---------------------------------------------------------------------------


@register(
    "events_mann_whitney_u",
    oracle="""
    WITH s AS (
      SELECT value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    ranked AS (
      SELECT is_a,
             avg(rn) OVER (PARTITION BY value) AS avg_rank
      FROM (SELECT value, is_a,
                   row_number() OVER (ORDER BY value) AS rn
            FROM s)
    )
    SELECT CAST(sum(is_a) AS BIGINT)                       AS n_a,
           CAST(sum(1 - is_a) AS BIGINT)                   AS n_b,
           round(sum(CASE WHEN is_a = 1 THEN avg_rank END), 1)
                                                           AS rank_sum_a,
           round(sum(CASE WHEN is_a = 1 THEN avg_rank END)
                 - sum(is_a) * (sum(is_a) + 1.0) / 2, 1)   AS u_a
    FROM ranked
    """,
    tags=("stats", "agg"),
)
def events_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between purchase and view
    values: ranks replace magnitudes, ties share their average rank,
    U = R₁ − n₁(n₁+1)/2 — the nonparametric location test that ignores
    the heavy tails Welch's t inherits (its KS sibling above compares
    whole shapes; U asks only "which group tends larger").

    A tie group occupying ranks [C_prev+1, C_prev+cnt] has average rank
    C_prev + (cnt+1)/2, so ranks never need materializing per ROW: group
    the fact table to one row per distinct value (cnt, ca — the only
    corpus-scale stage, map-side combinable), take the value-banded
    running count (``functions/rank.py`` — no single-partition window
    over the fact table or anything else), and each group contributes
    ca·avg_rank to the rank sum.  Average ranks are k+0.5-exact dyadics
    and every product/sum stays an exact dyadic below 2^52, so both
    engines agree bit-for-bit before the final half-integer rounding.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    s = e.select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "is_a"
        ),
    )
    g = s.groupBy("value").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("is_a").alias("ca")
    )
    run = global_order_stats(
        g, ["value"], running={"cum": ("cnt", "sum")}, key=["value"]
    )
    avg_rank = (F.col("cum") - F.col("cnt")) + (F.col("cnt") + 1.0) / 2
    na = F.sum("ca")
    ra = F.sum(F.col("ca") * avg_rank)
    return run.agg(
        na.cast("long").alias("n_a"),
        F.sum(F.col("cnt") - F.col("ca")).cast("long").alias("n_b"),
        F.round(ra, 1).alias("rank_sum_a"),
        F.round(ra - na * (na + 1.0) / 2, 1).alias("u_a"),
    )


# ---------------------------------------------------------------------------
# Geospatial: haversine distance + nearest-hub assignment
# ---------------------------------------------------------------------------

#: (name, lat, lon) — fixed hub sites, part of the query definition
_HUBS = [
    ("toronto", 43.65, -79.38),
    ("london", 51.51, -0.13),
    ("singapore", 1.35, 103.82),
    ("sydney", -33.87, 151.21),
]


@register(
    "users_geo_nearest_hub",
    oracle="""
    WITH pts AS (
      SELECT user_id,
             ((user_id * 2654435761) % 16000) / 100.0 - 80.0  AS lat,
             ((user_id * 40503) % 36000) / 100.0 - 180.0      AS lon
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    hubs(hub, hlat, hlon) AS (VALUES
      ('toronto', 43.65, -79.38), ('london', 51.51, -0.13),
      ('singapore', 1.35, 103.82), ('sydney', -33.87, 151.21)
    ),
    dists AS (
      SELECT p.user_id, h.hub,
             round(2 * 6371.0 * asin(sqrt(least(1.0,
               pow(sin(radians(h.hlat - p.lat) / 2), 2)
               + cos(radians(p.lat)) * cos(radians(h.hlat))
                 * pow(sin(radians(h.hlon - p.lon) / 2), 2)))), 3) AS km
      FROM pts p CROSS JOIN hubs h
    ),
    nearest AS (
      SELECT user_id, hub, km,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY km, hub) AS rk
      FROM dists
    )
    SELECT hub,
           CAST(count(*) AS BIGINT) AS n_users,
           round(avg(km), 3)        AS avg_km,
           round(max(km), 3)        AS max_km
    FROM nearest WHERE rk = 1
    GROUP BY hub
    """,
    tags=("stats", "geo"),
)
def users_geo_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geospatial assignment: users (at deterministic hash-derived
    coordinates — the fixture has no geo columns, so the derivation is
    part of the query definition) routed to their nearest of four hubs
    by haversine great-circle distance, with per-hub load and reach —
    the serving-region assignment every latency-sensitive deployment
    computes, and the geo member of the argmin-over-candidates family
    (kmeans assigns to centroids; this assigns on a sphere).

    Haversine runs as pure codegen trig (both engines IEEE double
    sin/cos/asin — ~1 ulp, then rounded to 3 before the argmin so the
    winner is tie-disciplined like every argmin in the suite, hub name
    as tiebreak).  The hub table is a 4-row broadcast; at scale this is
    a map-only pass over the user dimension.
    """
    e = load(spark, sf_dir, "events")
    pts = e.select("user_id").distinct().select(
        "user_id",
        (((F.col("user_id") * 2654435761) % 16000) / 100.0 - 80.0).alias(
            "lat"
        ),
        (((F.col("user_id") * 40503) % 36000) / 100.0 - 180.0).alias("lon"),
    )
    hubs = values_relation(
        pts.sparkSession, _HUBS, "hub string, hlat double, hlon double"
    )
    # clamp the haversine argument at 1.0: near-antipodal pairs can float-
    # round fractionally above 1, turning asin(sqrt(x)) into NaN in both
    # engines — mirrored as least(1.0, ...) in the oracle
    hav = F.round(
        2
        * 6371.0
        * F.asin(
            F.sqrt(
                F.least(
                    F.lit(1.0),
                    F.pow(
                        F.sin(F.radians(F.col("hlat") - F.col("lat")) / 2), 2
                    )
                    + F.cos(F.radians("lat"))
                    * F.cos(F.radians("hlat"))
                    * F.pow(
                        F.sin(F.radians(F.col("hlon") - F.col("lon")) / 2), 2
                    ),
                )
            )
        ),
        3,
    )
    dists = pts.crossJoin(F.broadcast(hubs)).select(
        "user_id", "hub", hav.alias("km")
    )
    w = Window.partitionBy("user_id").orderBy("km", "hub")
    nearest = dists.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    return nearest.groupBy("hub").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg("km"), 3).alias("avg_km"),
        F.round(F.max("km"), 3).alias("max_km"),
    )


# ---------------------------------------------------------------------------
# G4: Count-Min sketch frequency estimation with exact verification
# ---------------------------------------------------------------------------

#: CMS geometry + hash family — part of the query definition.  The hashes
#: are 2-universal (a·u + b mod P mod W) over PORTABLE int64 arithmetic so
#: the DuckDB oracle reproduces the sketch bit-for-bit (engine-native
#: hashes like xxhash64 differ across engines).
_CMS_W = 256
_CMS_P = 1_000_000_007
_CMS_ROWS = [(9973, 7), (99991, 77), (999983, 777), (4999999, 7777)]


@register(
    "events_countmin_user_freq",
    oracle=f"""
    WITH rows_ AS (
      SELECT unnest([0, 1, 2, 3]) AS j,
             unnest([{", ".join(str(a) for a, _ in _CMS_ROWS)}]) AS a,
             unnest([{", ".join(str(b) for _, b in _CMS_ROWS)}]) AS b
    ),
    sketch AS (
      SELECT j, ((a * user_id + b) % {_CMS_P}) % {_CMS_W} AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM events CROSS JOIN rows_ GROUP BY 1, 2
    ),
    exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
      FROM events GROUP BY 1
      ORDER BY exact_n DESC, user_id LIMIT 20
    ),
    est AS (
      SELECT e.user_id, e.exact_n, min(s.c) AS est_n
      FROM exact e
      CROSS JOIN rows_ r
      JOIN sketch s
        ON s.j = r.j
       AND s.bucket = ((r.a * e.user_id + r.b) % {_CMS_P}) % {_CMS_W}
      GROUP BY e.user_id, e.exact_n
    )
    SELECT user_id, exact_n, est_n, est_n - exact_n AS overcount
    FROM est
    """,
    tags=("agg", "approx", "sketch"),
)
def events_countmin_user_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005, public) over user
    event frequencies: d=4 hash rows × w=256 counters, estimate = min of
    a key's 4 counters, verified against exact counts for the 20 heaviest
    users.  CMS never undercounts (overcount ≥ 0 by construction — the
    estimate is exact count plus colliding mass), and this query reports
    that error the way a capacity planner audits a sketch deployment.

    The sketch build is ONE map-side-combinable aggregate over a 4-way
    in-row explode (d·w = 1024 cells regardless of data volume — the
    mergeability that makes CMS the distributed frequency sketch); the
    probe side is a TakeOrdered top-20 joined against the broadcast-sized
    sketch.  All arithmetic is portable int64 (a·u + b mod p mod w), so
    unlike the HLL family this sketch IS oracle-exact: DuckDB rebuilds
    the identical sketch and the driver hash-compares every cell-derived
    estimate.
    """
    e = load(spark, sf_dir, "events")
    rows_ = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    (F.lit(a) * F.col("user_id") + F.lit(b)) % _CMS_P % _CMS_W
                ).alias("bucket"),
            )
            for j, (a, b) in enumerate(_CMS_ROWS)
        ]
    )
    sketch = (
        e.select(F.explode(rows_).alias("h"))
        .groupBy(F.col("h.j").alias("j"), F.col("h.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(20)
    )
    probes = exact.select(
        "user_id", "exact_n", F.explode(rows_).alias("h")
    ).select("user_id", "exact_n", "h.j", "h.bucket")
    est = (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("est_n"))
    )
    return est.select(
        "user_id",
        "exact_n",
        "est_n",
        (F.col("est_n") - F.col("exact_n")).alias("overcount"),
    )


# ---------------------------------------------------------------------------
# G5: Theil inequality index (entropy-based, map-combinable)
# ---------------------------------------------------------------------------


@register(
    "customer_theil_index",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    agg_ AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             sum(cents * ln(cents)) AS sxlx
      FROM rev
    )
    SELECT n AS n_customers,
           round(s / 100.0, 2) AS total_revenue,
           round(sxlx / s + ln(n) - ln(s), 6) AS theil_t
    FROM agg_
    """,
    tags=("agg", "stats"),
)
def customer_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index of customer revenue concentration — the
    entropy-based inequality measure: T = Σ (x/S)·ln(x·n/S), 0 for
    perfect equality, ln(n) at maximal concentration.  The decomposable
    complement to the Gini family: unlike ``customer_revenue_gini``
    (rank-based, needs a global order), Theil is a pure MAP-COMBINABLE
    aggregate — T = (Σx·ln x)/S + ln n − ln S — so it costs one
    groupBy-agg pass at any data volume, the cheapest inequality scalar
    a 100 TB ledger can produce.

    Revenue quantizes to integer cents per row (the engine-wide
    discipline), so ln() sees identical integers in both engines;
    Σ x·ln x is the one float accumulation (±1 ulp association,
    absorbed by round(·, 6) — the regression-family caveat).
    """
    o = load(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(
            round_half_up(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents")
    )
    a = rev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.log(F.col("cents"))).alias("sxlx"),
    )
    return a.select(
        F.col("n").alias("n_customers"),
        F.round(F.col("s") / 100.0, 2).alias("total_revenue"),
        F.round(
            F.col("sxlx") / F.col("s") + F.log("n") - F.log("s"), 6
        ).alias("theil_t"),
    )


# ---------------------------------------------------------------------------
# J2: join-size estimation via Count-Min inner product
# ---------------------------------------------------------------------------


@register(
    "joinsize_cms_estimate",
    oracle=f"""
    WITH rows_ AS (
      SELECT unnest([0, 1, 2, 3]) AS j,
             unnest([{", ".join(str(a) for a, _ in _CMS_ROWS)}]) AS a,
             unnest([{", ".join(str(b) for _, b in _CMS_ROWS)}]) AS b
    ),
    se AS (
      SELECT j, ((a * user_id + b) % {_CMS_P}) % {_CMS_W} AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM events CROSS JOIN rows_ GROUP BY 1, 2
    ),
    sc AS (
      SELECT j, ((a * c_custkey + b) % {_CMS_P}) % {_CMS_W} AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM customer CROSS JOIN rows_ GROUP BY 1, 2
    ),
    ip AS (
      SELECT se.j, sum(se.c * sc.c) AS dot
      FROM se JOIN sc ON se.j = sc.j AND se.bucket = sc.bucket
      GROUP BY se.j
    ),
    est AS (SELECT min(dot) AS est_join_size FROM ip),
    exact AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_join_size
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
    )
    SELECT exact_join_size, CAST(est_join_size AS BIGINT) AS est_join_size,
           CAST(est_join_size - exact_join_size AS BIGINT) AS overcount
    FROM exact, est
    """,
    tags=("agg", "approx", "sketch", "join"),
)
def joinsize_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: equi-join cardinality estimation by Count-Min inner product
    (Alon-Matias-Szegedy / Cormode-Muthukrishnan, public): |R ⋈ S| on a
    key equals the inner product of the two frequency vectors, and the
    CMS estimate is min over hash rows of Σ_bucket cR·cS — never an
    undercount.  This is the optimizer-statistics primitive behind join
    reordering: two O(d·w)-cell sketches built in one pass per table
    answer the join-size question without running the join.

    Both sketches share the portable 2-universal hash family of
    ``events_countmin_user_freq``, so the estimate is bit-reproducible
    in the DuckDB oracle; the exact join count rides a broadcast hash
    join.  Every number is int64-exact.
    """
    e = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer")

    def sketch(df: DataFrame, key: str) -> DataFrame:
        rows_ = F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    (
                        (F.lit(a) * F.col(key) + F.lit(b)) % _CMS_P % _CMS_W
                    ).alias("bucket"),
                )
                for j, (a, b) in enumerate(_CMS_ROWS)
            ]
        )
        return (
            df.select(F.explode(rows_).alias("h"))
            .groupBy(F.col("h.j").alias("j"), F.col("h.bucket").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("c"))
        )

    se, sc = sketch(e, "user_id"), sketch(c, "c_custkey")
    ip = (
        se.join(sc.withColumnRenamed("c", "c2"), ["j", "bucket"])
        .groupBy("j")
        .agg(F.sum(F.col("c") * F.col("c2")).alias("dot"))
    )
    est = ip.agg(F.min("dot").alias("est_join_size"))
    exact = (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .agg(F.count(F.lit(1)).alias("exact_join_size"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_join_size",
        "est_join_size",
        (F.col("est_join_size") - F.col("exact_join_size")).alias(
            "overcount"
        ),
    )


# ---------------------------------------------------------------------------
# M2: rolling-window burst (rate-limit) audit
# ---------------------------------------------------------------------------


@register(
    "events_rate_limit_audit",
    oracle="""
    WITH rated AS (
      SELECT user_id, ts,
             count(*) OVER (PARTITION BY user_id ORDER BY ts
                            RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                                      AND CURRENT ROW) AS rate
      FROM events
    )
    SELECT user_id,
           CAST(count(*) FILTER (WHERE rate >= 3) AS BIGINT) AS n_burst_events,
           CAST(max(rate) AS BIGINT)                         AS peak_rate,
           min(ts) FILTER (WHERE rate >= 3)                  AS first_burst_ts
    FROM rated
    GROUP BY user_id
    HAVING max(rate) >= 3
    """,
    tags=("events", "window", "analytics"),
)
def events_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: burst detection / rate-limit audit — for every event, the
    exact count of the user's events in the trailing 1-hour window (a
    value-RANGE frame, not a row frame: simultaneous events all see the
    same rate), then per user the number of over-threshold events, the
    peak rate, and the first breach time.  The abuse/ops question "who
    exceeded 3 requests per rolling hour, when, and how hard".

    The RANGE frame orders on integer epoch MICROseconds so the frame
    boundary is microsecond-exact and inclusive on both engines (a
    seconds truncation would disagree with the oracle's INTERVAL
    arithmetic on sub-second timestamps).  One user-keyed window pass +
    one aggregate — nothing global, nothing quadratic.
    """
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    rated = e.select(
        "user_id", "ts", F.count(F.lit(1)).over(w).alias("rate")
    )
    return (
        rated.groupBy("user_id")
        .agg(
            F.count(F.when(F.col("rate") >= 3, 1)).alias("n_burst_events"),
            F.max("rate").alias("peak_rate"),
            F.min(F.when(F.col("rate") >= 3, F.col("ts"))).alias(
                "first_burst_ts"
            ),
        )
        .filter(F.col("peak_rate") >= 3)
    )


# ---------------------------------------------------------------------------
# M3: nonparametric (order-statistic) confidence interval for the median
# ---------------------------------------------------------------------------


@register(
    "orders_median_ci_binomial",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice AS x,
             row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS r
      FROM orders
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked),
    bounds AS (
      SELECT n,
             CAST(floor((n - 1.96 * sqrt(n)) / 2) AS BIGINT)    AS lo_r,
             CAST(ceil(1 + (n + 1.96 * sqrt(n)) / 2) AS BIGINT) AS hi_r,
             CAST(floor((n + 1) / 2.0) AS BIGINT)               AS m1,
             CAST(ceil((n + 1) / 2.0) AS BIGINT)                AS m2
      FROM nn
    )
    SELECT b.n AS n_orders,
           round(((SELECT x FROM ranked, bounds WHERE r = m1)
                + (SELECT x FROM ranked, bounds WHERE r = m2)) / 2, 2)
             AS median,
           round((SELECT x FROM ranked, bounds WHERE r = lo_r), 2) AS ci_lo,
           round((SELECT x FROM ranked, bounds WHERE r = hi_r), 2) AS ci_hi
    FROM bounds b
    """,
    tags=("stats", "agg"),
)
def orders_median_ci_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: distribution-free 95% confidence interval for the median by
    the binomial order-statistic method: the CI endpoints are the sample
    values at ranks (n ± 1.96√n)/2 — no normality assumption, no
    resampling, just two more rank lookups on the sort the median
    already needs.  The robust-statistics companion to the Poisson
    bootstrap (E4): same question, closed form, one pass.

    Ranks ride the banded global order (one fact shuffle); the three
    target ranks are data-dependent 1-row values broadcast into a rank
    filter, so the big relation is touched exactly twice (rank pass +
    filtered lookup).  sqrt/floor/ceil run on the same integer n in both
    engines — deterministic — and values pass through unrounded until
    the final round(·, 2).
    """
    o = load(spark, sf_dir, "orders")
    ranked = global_order_stats(
        o.select(F.col("o_totalprice").alias("x"), "o_orderkey"),
        ["x", "o_orderkey"],
        rank="r",
    )
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    sq = F.lit(1.96) * F.sqrt(F.col("n"))
    bounds = n.select(
        "n",
        F.floor((F.col("n") - sq) / 2).cast("long").alias("lo_r"),
        F.ceil(1 + (F.col("n") + sq) / 2).cast("long").alias("hi_r"),
        F.floor((F.col("n") + 1) / F.lit(2.0)).cast("long").alias("m1"),
        F.ceil((F.col("n") + 1) / F.lit(2.0)).cast("long").alias("m2"),
    )
    hits = (
        ranked.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("r") == F.col("lo_r"))
            | (F.col("r") == F.col("hi_r"))
            | (F.col("r") == F.col("m1"))
            | (F.col("r") == F.col("m2"))
        )
        .select("x", "r", "lo_r", "hi_r", "m1", "m2", "n")
    )
    return hits.groupBy("n").agg(
        F.round(
            (
                F.max(F.when(F.col("r") == F.col("m1"), F.col("x")))
                + F.max(F.when(F.col("r") == F.col("m2"), F.col("x")))
            )
            / 2,
            2,
        ).alias("median"),
        F.round(
            F.max(F.when(F.col("r") == F.col("lo_r"), F.col("x"))), 2
        ).alias("ci_lo"),
        F.round(
            F.max(F.when(F.col("r") == F.col("hi_r"), F.col("x"))), 2
        ).alias("ci_hi"),
    ).withColumnRenamed("n", "n_orders")


# ---------------------------------------------------------------------------
# Q2: A/B test power analysis — minimum detectable effect at the observed
# variance and sample size
# ---------------------------------------------------------------------------


@register(
    "events_ab_power_mde",
    oracle="""
    WITH per_user AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS variant,
             avg(value) AS y
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
      GROUP BY user_id
    ),
    v AS (
      SELECT variant,
             CAST(count(*) AS BIGINT) AS n,
             round(avg(y), 6)         AS mean_y,
             var_samp(y)              AS s2
      FROM per_user GROUP BY variant
    ),
    pooled AS (
      SELECT (SELECT n FROM v WHERE variant = 0) AS n0,
             (SELECT n FROM v WHERE variant = 1) AS n1,
             ((SELECT (n - 1) * s2 FROM v WHERE variant = 0)
            + (SELECT (n - 1) * s2 FROM v WHERE variant = 1))
             / ((SELECT n FROM v WHERE variant = 0)
              + (SELECT n FROM v WHERE variant = 1) - 2) AS s2p
    )
    SELECT n0 AS n_control, n1 AS n_treatment,
           round(s2p, 6) AS pooled_variance,
           round((1.959964 + 0.841621) * sqrt(s2p * (1.0 / n0 + 1.0 / n1)),
                 6) AS mde_abs
    FROM pooled
    """,
    tags=("stats", "ml"),
)
def events_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: experiment power analysis — the minimum detectable effect of
    the running A/B split (user_id parity, the same assignment the CUPED
    query uses) at α = 0.05 two-sided and 80% power:
    MDE = (z_{0.975} + z_{0.8})·√(s²_pooled·(1/n₀ + 1/n₁)) over per-user
    purchase means.  The pre-launch question every experimentation
    platform answers: what lift could this traffic even see?

    Per-user means collapse the fact in one keyed aggregate; the two
    variant rows carry (n, variance) and the MDE is closed-form
    arithmetic on the 2-row relation with the z constants as literals —
    both engines evaluate identical doubles.  var_samp rides each
    engine's streaming moments (the D23/E14 float-association caveat,
    absorbed by round 6).
    """
    e = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    per_user = e.groupBy("user_id").agg(F.avg("value").alias("y"))
    v = (
        per_user.withColumn("variant", (F.col("user_id") % 2))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.var_samp("y").alias("s2"),
        )
    )
    w = v.groupBy().pivot("variant", [0, 1]).agg(
        F.first("n").alias("n"), F.first("s2").alias("s2")
    )
    n0, n1 = F.col("0_n"), F.col("1_n")
    s2p = ((n0 - 1) * F.col("0_s2") + (n1 - 1) * F.col("1_s2")) / (
        n0 + n1 - 2
    )
    z = F.lit(1.959964 + 0.841621)
    return w.select(
        n0.alias("n_control"),
        n1.alias("n_treatment"),
        F.round(s2p, 6).alias("pooled_variance"),
        F.round(
            z * F.sqrt(s2p * (F.lit(1.0) / n0 + F.lit(1.0) / n1)), 6
        ).alias("mde_abs"),
    )




# ---------------------------------------------------------------------------
# R1: quantile treatment effects (A/B beyond the mean)
# ---------------------------------------------------------------------------


@register(
    "events_ab_quantile_effect",
    oracle="""
    WITH per_user AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS variant,
             CAST(round(avg(value) * 1000000) AS BIGINT) AS y6
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
      GROUP BY user_id
    ),
    q AS (
      SELECT variant,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(round(4 * quantile_cont(y6, 0.25)) AS BIGINT) AS t25,
             CAST(round(4 * quantile_cont(y6, 0.50)) AS BIGINT) AS t50,
             CAST(round(4 * quantile_cont(y6, 0.75)) AS BIGINT) AS t75
      FROM per_user GROUP BY variant
    ),
    r AS (
      SELECT variant, n_users,
             ((2 * t25 + 4) // 8) / 1000000.0 AS p25,
             ((2 * t50 + 4) // 8) / 1000000.0 AS p50,
             ((2 * t75 + 4) // 8) / 1000000.0 AS p75
      FROM q
    )
    SELECT a.variant, a.n_users, a.p25, a.p50, a.p75,
           CASE WHEN a.variant = 1
                THEN round(a.p25 - (SELECT p25 FROM r WHERE variant = 0), 6)
           END AS qte_p25,
           CASE WHEN a.variant = 1
                THEN round(a.p50 - (SELECT p50 FROM r WHERE variant = 0), 6)
           END AS qte_p50,
           CASE WHEN a.variant = 1
                THEN round(a.p75 - (SELECT p75 FROM r WHERE variant = 0), 6)
           END AS qte_p75
    FROM r a
    """,
    tags=("stats", "ml"),
)
def events_ab_quantile_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: quantile treatment effects — the A/B readout beyond the mean:
    per-variant p25/p50/p75 of per-user purchase value plus the
    treatment−control difference at each quantile (a lift concentrated
    in the upper quantiles tells a different product story than a
    uniform shift; Welch (D63), CUPED (E11) and the MDE (Q2) only see
    means).

    Cross-engine exactness is engineered through the INTERPOLATION, the
    step that bit the first version at sf0.001 (an interpolated value
    landed on a true decimal half and the engines' rounding mechanisms
    split — the COVERAGE.md divergence class): per-user means scale to
    integer micro-units FIRST, so the PERCENTILE_CONT interpolation
    v_lo + frac·Δ runs on integer-valued doubles with frac ∈ {0, ¼, ½,
    ¾} — every term exactly representable — and 4×quantile recovers an
    exact integer that rounds to whole micro-units in INTEGER space
    (half-up (2t+4) div 8).  The QTE differences subtract exact
    6-decimal values, which cannot manufacture a new half.  Per-variant
    quantiles ride the banded ``group_percentile_cont`` with variant as
    the group key.
    """
    from lambda_arc_events_filter_spark.functions.stats import (
        group_percentile_cont,
    )

    e = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    per_user = (
        e.groupBy("user_id")
        .agg(
            round_half_up(F.avg("value") * 1_000_000).cast("long").alias("y6")
        )
        .withColumn("variant", F.col("user_id") % 2)
    )
    q = group_percentile_cont(
        per_user,
        ["variant"],
        "y6",
        {"q25": 0.25, "q50": 0.5, "q75": 0.75},
        extra_aggs=[F.count(F.lit(1)).alias("n_users")],
    )

    def exact6(col: str):
        # the quantile of integer micro-units is an exact quarter-integer
        # (frac ∈ {0, ¼, ½, ¾} on ≤2⁵³ values): 4× casts back to an exact
        # integer; half-up to whole micro-units stays in integer space
        t = round_half_up(F.col(col) * 4).cast("long")
        return F.call_function(
            "div", F.lit(2) * t + F.lit(4), F.lit(8)
        ) / F.lit(1_000_000.0)

    r = q.select(
        "variant",
        "n_users",
        exact6("q25").alias("p25"),
        exact6("q50").alias("p50"),
        exact6("q75").alias("p75"),
    )
    ctl = r.filter(F.col("variant") == 0).select(
        F.col("p25").alias("c25"),
        F.col("p50").alias("c50"),
        F.col("p75").alias("c75"),
    )
    out = r.crossJoin(F.broadcast(ctl))
    is_t = F.col("variant") == 1
    return out.select(
        "variant",
        "n_users",
        "p25",
        "p50",
        "p75",
        F.when(is_t, F.round(F.col("p25") - F.col("c25"), 6)).alias("qte_p25"),
        F.when(is_t, F.round(F.col("p50") - F.col("c50"), 6)).alias("qte_p50"),
        F.when(is_t, F.round(F.col("p75") - F.col("c75"), 6)).alias("qte_p75"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over per-nation Welch tests
# ---------------------------------------------------------------------------


@register(
    "nations_welch_bh_fdr",
    oracle="""
    WITH cents AS (
      SELECT n_name AS nation,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation   ON n_nationkey = c_nationkey
    ),
    per AS (
      SELECT nation,
             CAST(count(*) AS BIGINT) AS n1,
             CAST(sum(v) AS BIGINT) AS s1,
             CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q1
      FROM cents GROUP BY 1
    ),
    gtot AS (
      SELECT CAST(sum(n1) AS BIGINT) AS ng,
             CAST(sum(s1) AS BIGINT) AS sg,
             CAST(sum(q1) AS HUGEINT) AS qg,
             CAST(count(*) AS BIGINT) AS m
      FROM per
    ),
    stat AS (
      SELECT nation, n1, ng - n1 AS n2,
             CAST(s1 AS DOUBLE) / n1 AS m1,
             CAST(sg - s1 AS DOUBLE) / (ng - n1) AS m2,
             (CAST(q1 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1)
               / (n1 - 1) AS v1,
             (CAST(qg - q1 AS DOUBLE)
              - CAST(sg - s1 AS DOUBLE) * CAST(sg - s1 AS DOUBLE)
                / (ng - n1)) / (ng - n1 - 1) AS v2,
             m
      FROM per, gtot
    ),
    z AS (
      SELECT nation, n1 AS n_orders, m,
             (m1 - m2) / sqrt(v1 / n1 + v2 / n2) AS z
      FROM stat
    ),
    p AS (
      SELECT nation, n_orders, m, z, abs(z) AS az,
             1.0 / (1.0 + 0.2316419 * abs(z)) AS t
      FROM z
    ),
    pv AS (
      SELECT nation, n_orders, m, z,
             2 * (exp(-az * az / 2) / sqrt(2 * pi())
                  * (0.319381530 * t - 0.356563782 * t * t
                     + 1.781477937 * t * t * t
                     - 1.821255978 * t * t * t * t
                     + 1.330274429 * t * t * t * t * t)) AS p
      FROM p
    ),
    rk AS (
      SELECT *, row_number() OVER (ORDER BY p, nation) AS i FROM pv
    ),
    k AS (
      SELECT coalesce(max(i) FILTER (WHERE p <= 0.10 * i / m), 0) AS kk
      FROM rk
    )
    SELECT nation, n_orders, round(z, 6) AS z_score,
           round(p, 6) AS p_value, CAST(i AS BIGINT) AS bh_rank,
           CASE WHEN i <= kk THEN 1 ELSE 0 END AS significant
    FROM rk, k ORDER BY bh_rank
    """,
    tags=("stats", "inference"),
)
def nations_welch_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing-corrected screening: Welch's z of every nation's
    order value against the REST of the world, then Benjamini-Hochberg
    at FDR q=0.10 — rank p-values ascending, find the largest i with
    ``p_i ≤ q·i/m``, flag ranks ≤ i — the correction that keeps a
    25-segment screen from "discovering" 2-3 segments by chance alone
    (the per-comparison α=0.1 would).

    Determinism discipline: BH depends on the p-value ORDER, so moments
    accumulate as exact integers (Σv in BIGINT, Σv² in DECIMAL(38)/
    HUGEINT — cents² crosses 2⁶³ at real volumes) and every float op
    after them (casts, means, variances, z, the shared Abramowitz-Stegun
    tail polynomial) is the identical IEEE sequence in both engines —
    ranks cannot flip.  The rest-of-world moments come from the global
    totals minus the nation's (no second scan); the rank over the
    schema-bounded 25-row test relation is a broadcast self-join count,
    keeping the plan lint clean.
    """
    import math

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = o.join(
        F.broadcast(
            c.join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
            .select("c_custkey", F.col("n_name").alias("nation"))
        ),
        F.col("c_custkey") == F.col("o_custkey"),
    ).select(
        "nation", round_half_up(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    per = cents.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("q1"),
    )
    glob = per.agg(
        F.sum("n1").alias("ng"),
        F.sum("s1").alias("sg"),
        F.sum("q1").alias("qg"),
        F.count(F.lit(1)).alias("m"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    st = per.crossJoin(F.broadcast(glob))
    n1, ng = F.col("n1"), F.col("ng")
    s1, sg, q1, qg = F.col("s1"), F.col("sg"), F.col("q1"), F.col("qg")
    m1 = d(s1) / n1
    m2 = d(sg - s1) / (ng - n1)
    v1 = (d(q1) - d(s1) * d(s1) / n1) / (n1 - 1)
    v2 = (d(qg - q1) - d(sg - s1) * d(sg - s1) / (ng - n1)) / (ng - n1 - 1)
    zc = (m1 - m2) / F.sqrt(v1 / n1 + v2 / (ng - n1))
    pv_base = st.select(
        "nation",
        F.col("n1").alias("n_orders"),
        "m",
        zc.alias("z"),
    )
    az = F.abs(F.col("z"))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * az)
    poly = (
        F.lit(0.319381530) * t
        - F.lit(0.356563782) * t * t
        + F.lit(1.781477937) * t * t * t
        - F.lit(1.821255978) * t * t * t * t
        + F.lit(1.330274429) * t * t * t * t * t
    )
    pv = pv_base.select(
        "nation",
        "n_orders",
        "m",
        "z",
        (
            F.lit(2.0)
            * (
                F.exp(-az * az / 2)
                / F.sqrt(F.lit(2.0) * F.lit(math.pi))
                * poly
            )
        ).alias("p"),
    )
    peers = pv.select(
        F.col("nation").alias("pn"), F.col("p").alias("pp")
    )
    rk = (
        pv.join(
            F.broadcast(peers),
            (F.col("pp") < F.col("p"))
            | ((F.col("pp") == F.col("p")) & (F.col("pn") < F.col("nation"))),
            "left",
        )
        .groupBy("nation", "n_orders", "m", "z", "p")
        .agg((F.count("pn") + 1).alias("i"))
    )
    k = rk.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p") <= F.lit(0.10) * F.col("i") / F.col("m"),
                    F.col("i"),
                )
            ),
            F.lit(0),
        ).alias("kk")
    )
    return (
        rk.crossJoin(F.broadcast(k))
        .select(
            "nation",
            "n_orders",
            F.round("z", 6).alias("z_score"),
            F.round("p", 6).alias("p_value"),
            F.col("i").alias("bh_rank"),
            F.when(F.col("i") <= F.col("kk"), 1).otherwise(0).alias(
                "significant"
            ),
        )
        .orderBy("bh_rank")
    )


# ---------------------------------------------------------------------------
# Overdispersion index of daily event counts
# ---------------------------------------------------------------------------


@register(
    "events_overdispersion_index",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS q
      FROM daily GROUP BY 1
    )
    SELECT event_type, n AS n_days,
           round(CAST(s AS DOUBLE) / n, 6) AS mean_daily,
           round((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                 / (n - 1), 6) AS var_daily,
           round(((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                  / (n - 1)) / (CAST(s AS DOUBLE) / n), 6)
             AS dispersion_index,
           round((n - 1) * ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                  / (n - 1)) / (CAST(s AS DOUBLE) / n), 6)
             AS chi2_stat
    FROM m ORDER BY event_type
    """,
    tags=("stats", "timeseries"),
)
def events_overdispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion screening: the index of dispersion (sample
    variance over mean) of each event type's daily counts, with the
    (n−1)·D chi-square statistic — the test that tells a capacity
    planner whether arrivals are Poisson-like (D≈1, queueing math
    applies) or bursty (D≫1, provision for spikes; the negative-binomial
    regime).

    One map-side-combinable daily rollup, then exact integer moments per
    type (counts² stay far under 2⁶³ at daily granularity) and
    identical-op float ratios rounded to 6.  Everything after the
    rollup is |types|×|days| rows.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    mean = s.cast("double") / n
    var = (q.cast("double") - s.cast("double") * s / n) / (n - 1)
    return m.select(
        "event_type",
        n.alias("n_days"),
        F.round(mean, 6).alias("mean_daily"),
        F.round(var, 6).alias("var_daily"),
        F.round(var / mean, 6).alias("dispersion_index"),
        F.round((n - 1) * var / mean, 6).alias("chi2_stat"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# One-way ANOVA across event types
# ---------------------------------------------------------------------------


@register(
    "events_anova_oneway",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS x
      FROM events
    ),
    g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
      FROM v GROUP BY 1
    ),
    packed AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(s) AS BIGINT) AS ss,
             CAST(sum(q) AS HUGEINT) AS qq,
             list(CAST(s AS DOUBLE) * s / n ORDER BY event_type) AS terms
      FROM g
    ),
    parts AS (
      SELECT k, nn,
             list_reduce(terms, (a, b) -> a + b) AS sgn,
             CAST(qq AS DOUBLE) AS qd,
             CAST(ss AS DOUBLE) * ss / nn AS grand
      FROM packed
    )
    SELECT CAST(k AS INT) AS k_groups, nn AS n_total,
           round(sgn - grand, 4) AS ss_between,
           round(qd - sgn, 4) AS ss_within,
           round(((sgn - grand) / (k - 1)) / ((qd - sgn) / (nn - k)), 6)
             AS f_stat
    FROM parts
    """,
    tags=("stats", "inference"),
)
def events_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean event value differ ACROSS the five event
    types?  F = (SS_between/(k−1)) / (SS_within/(N−k)) — the k-group
    generalization of the two-sample tests (Welch z, Mann-Whitney)
    already in the suite, and the gatekeeper before any per-pair
    comparison matrix.

    Exactness discipline, two layers: per-group moments are exact
    integers (Σx in cents, Σx² in DECIMAL(38)/HUGEINT), and the ONE
    cross-group float reduction — Σᵍ s²ᵍ/nᵍ, whose 5 terms an engine may
    otherwise sum in any order — folds left-to-right over the
    event-type-SORTED term list on both engines (the EWMA fold pattern),
    because a free-order sum measurably flipped the 4th decimal of SSB
    at sf0.01 (~1e-12 relative drift landing on a round boundary).  One
    map-side-combinable aggregate; the statistic is arithmetic on a
    1-row relation.
    """
    v = load(spark, sf_dir, "events").select(
        "event_type", round_half_up(F.col("value") * 100).cast("long").alias("x")
    )
    g = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("q"),
    )
    packed = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s").alias("ss"),
        F.sum("q").alias("qq"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    "event_type",
                    (
                        F.col("s").cast("double") * F.col("s") / F.col("n")
                    ).alias("t"),
                )
            )
        ).alias("arr"),
    )
    # DuckDB's list_reduce seeds with the first element; mirror that:
    # fold the tail onto the head (same op sequence on both engines)
    sgn = F.expr(
        "aggregate(slice(transform(arr, x -> x.t), 2, size(arr) - 1),"
        " transform(arr, x -> x.t)[0], (a, b) -> a + b)"
    )
    parts = packed.select(
        "k",
        "nn",
        sgn.alias("sgn"),
        F.col("qq").cast("double").alias("qd"),
        (F.col("ss").cast("double") * F.col("ss") / F.col("nn")).alias(
            "grand"
        ),
    )
    ssb = F.col("sgn") - F.col("grand")
    ssw = F.col("qd") - F.col("sgn")
    return parts.select(
        F.col("k").cast("int").alias("k_groups"),
        F.col("nn").alias("n_total"),
        F.round(ssb, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        F.round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("nn") - F.col("k"))), 6
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Raking / iterative proportional fitting (post-stratification weights)
# ---------------------------------------------------------------------------


@register(
    "events_raking_ipf",
    oracle="""
    WITH cells AS (
      SELECT event_type AS et, CAST(isodow(ts) AS INT) AS dow,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                   CAST(count(DISTINCT et) AS BIGINT) AS k FROM cells),
    colt AS (SELECT dow, CAST(sum(c) AS BIGINT) AS ct FROM cells GROUP BY 1),
    w0 AS (SELECT et, dow, c, CAST(c AS DOUBLE) AS w FROM cells),
    rm1 AS (
      SELECT et, list_reduce(list(w ORDER BY dow), (a, b) -> a + b) AS m
      FROM w0 GROUP BY et
    ),
    w1 AS (
      SELECT w0.et, w0.dow, w0.c,
             w0.w * ((CAST(t.n AS DOUBLE) / t.k) / rm1.m) AS w
      FROM w0 JOIN rm1 USING (et) CROSS JOIN tot t
    ),
    cm1 AS (
      SELECT dow, list_reduce(list(w ORDER BY et), (a, b) -> a + b) AS m
      FROM w1 GROUP BY dow
    ),
    w2 AS (
      SELECT w1.et, w1.dow, w1.c,
             w1.w * (CAST(colt.ct AS DOUBLE) / cm1.m) AS w
      FROM w1 JOIN cm1 USING (dow) JOIN colt USING (dow)
    ),
    rm2 AS (
      SELECT et, list_reduce(list(w ORDER BY dow), (a, b) -> a + b) AS m
      FROM w2 GROUP BY et
    ),
    w3 AS (
      SELECT w2.et, w2.dow, w2.c,
             w2.w * ((CAST(t.n AS DOUBLE) / t.k) / rm2.m) AS w
      FROM w2 JOIN rm2 USING (et) CROSS JOIN tot t
    ),
    cm2 AS (
      SELECT dow, list_reduce(list(w ORDER BY et), (a, b) -> a + b) AS m
      FROM w3 GROUP BY dow
    ),
    w4 AS (
      SELECT w3.et, w3.dow, w3.c,
             w3.w * (CAST(colt.ct AS DOUBLE) / cm2.m) AS w
      FROM w3 JOIN cm2 USING (dow) JOIN colt USING (dow)
    )
    SELECT et AS event_type, dow, c AS n_obs,
           round(w, 6) AS raked_weighted_n,
           round(w / c, 6) AS unit_weight
    FROM w4 ORDER BY et, dow
    """,
    tags=("stats", "weighting", "iterative"),
)
def events_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raking (iterative proportional fitting): re-weight the (event
    type × ISO weekday) contingency table so the EVENT-TYPE margin
    becomes uniform (the design target) while the WEEKDAY margin stays
    at its observed totals — two full IPF rounds (row-fit, column-fit,
    twice), the post-stratification machinery survey statistics and ads
    calibration run over activity tables.

    Every margin reduction — the only cross-row float sums — folds
    left-to-right over a key-SORTED weight list on BOTH engines (the
    ANOVA/EWMA fold pattern), so all four half-steps produce
    bit-identical weights with no per-step rounding needed; cell counts
    and target margins are exact integers.  The table is |types|×7
    cells after one map-side-combinable aggregate — iteration cost is
    volume-independent.  ``unit_weight`` is what a downstream estimator
    multiplies each observation by.
    """
    e = load(spark, sf_dir, "events")
    # ISO weekday: Spark weekday() is 0=Mon..6=Sun; isodow is 1..7
    cells = e.groupBy(
        F.col("event_type").alias("et"),
        (F.weekday("ts") + 1).cast("int").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("c"))
    cells = cells.localCheckpoint(eager=False)
    tot = cells.agg(
        F.sum("c").alias("n"), F.countDistinct("et").alias("k")
    )
    colt = cells.groupBy("dow").agg(F.sum("c").alias("ct"))

    def fold_margin(df, key, order_key):
        arr = F.sort_array(
            F.collect_list(F.struct(F.col(order_key).alias("o"), F.col("w")))
        )
        folded = F.expr(
            "aggregate(slice(transform(_arr, x -> x.w), 2, size(_arr) - 1),"
            " transform(_arr, x -> x.w)[0], (a, b) -> a + b)"
        )
        return (
            df.groupBy(key)
            .agg(arr.alias("_arr"))
            .select(key, folded.alias("m"))
        )

    w = cells.select("et", "dow", "c", F.col("c").cast("double").alias("w"))
    for _ in range(2):
        rm = fold_margin(w, "et", "dow")
        w = (
            w.join(F.broadcast(rm), "et")
            .crossJoin(F.broadcast(tot))
            .select(
                "et",
                "dow",
                "c",
                (
                    F.col("w")
                    * (
                        (F.col("n").cast("double") / F.col("k"))
                        / F.col("m")
                    )
                ).alias("w"),
            )
        )
        cm = fold_margin(w, "dow", "et")
        w = (
            w.join(F.broadcast(cm), "dow")
            .join(F.broadcast(colt), "dow")
            .select(
                "et",
                "dow",
                "c",
                (
                    F.col("w")
                    * (F.col("ct").cast("double") / F.col("m"))
                ).alias("w"),
            )
        )
    return w.select(
        F.col("et").alias("event_type"),
        "dow",
        F.col("c").alias("n_obs"),
        F.round("w", 6).alias("raked_weighted_n"),
        F.round(F.col("w") / F.col("c"), 6).alias("unit_weight"),
    ).orderBy("event_type", "dow")


# ---------------------------------------------------------------------------
# Geometric and harmonic means (log-space / reciprocal aggregation)
# ---------------------------------------------------------------------------


@register(
    "agg_geometric_harmonic",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(value), 6) AS arith_mean,
           round(exp(avg(ln(value))), 6) AS geo_mean,
           round(count(*) / sum(1.0 / value), 6) AS harm_mean
    FROM events
    WHERE value > 0
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "stats"),
)
def agg_geometric_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pythagorean-mean family per event type: arithmetic, geometric
    (exp of the mean log — the multiplicative-process average: growth
    rates, latency ratios), and harmonic (reciprocal-space — the rate
    average: throughput, price/earnings), completing the mean family
    beyond B23's arithmetic aggregates.  AM ≥ GM ≥ HM holds row-wise by
    the classical inequality (non-positive values are filtered
    before the log/reciprocal — sf0.1 carries a handful of exact zeros,
    which ANSI mode correctly refuses to divide by).

    All three are single-pass map-side-combinable aggregates — log and
    reciprocal transforms commute with partial aggregation, which is why
    these means scale for free while a median doesn't.  Cross-row float
    accumulation order can drift ~1 ulp between engines; round-6 on
    O(100)-magnitude means absorbs it (the suite's standard posture for
    inexact-by-nature float aggregates, vs integer cents for money).
    """
    e = (
        load(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("value") > 0)
    )
    n = F.count(F.lit(1))
    return (
        e.groupBy("event_type")
        .agg(
            n.alias("n"),
            F.round(F.avg("value"), 6).alias("arith_mean"),
            F.round(F.exp(F.avg(F.log("value"))), 6).alias("geo_mean"),
            F.round(
                n / F.sum(F.lit(1.0) / F.col("value")), 6
            ).alias("harm_mean"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals (distribution-free coverage)
# ---------------------------------------------------------------------------


@register(
    "events_conformal_interval",
    oracle="""
    WITH v AS (
      SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN event_id % 2 = 0 THEN 'cal' ELSE 'test' END AS split
      FROM events
    ),
    mu AS (
      SELECT event_type,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM v WHERE split = 'cal' GROUP BY 1
    ),
    resid AS (
      SELECT v.event_type,
             abs(v.cents - CAST(mu.s AS DOUBLE) / mu.n) AS r
      FROM v JOIN mu USING (event_type) WHERE v.split = 'cal'
    ),
    q AS (
      SELECT event_type, quantile_cont(r, 0.9) AS q90 FROM resid
      GROUP BY 1
    )
    SELECT v.event_type,
           round(CAST(mu.s AS DOUBLE) / mu.n / 100, 6) AS predicted,
           round(q.q90 / 100, 6) AS half_width,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(count(*) FILTER (
             WHERE abs(v.cents - CAST(mu.s AS DOUBLE) / mu.n) <= q.q90)
             AS BIGINT) AS n_covered
    FROM v
    JOIN mu USING (event_type)
    JOIN q  USING (event_type)
    WHERE v.split = 'test'
    GROUP BY v.event_type, mu.s, mu.n, q.q90
    ORDER BY v.event_type
    """,
    tags=("stats", "inference", "percentile"),
)
def events_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals: fit a (deliberately naive)
    per-type mean predictor on the CALIBRATION half, take the 90th
    percentile of its absolute residuals as the interval half-width,
    and measure empirical coverage on the held-out TEST half — the
    distribution-free uncertainty wrapper (coverage ≈ 90% regardless of
    the residual distribution) modern ML serving puts around any point
    predictor.

    Determinism: the split is a hash-free parity rule on event_id; the
    predictor mean is one float division of exact integer sums; the
    residual quantile rides ``group_percentile_cont`` (banded global
    rank — no per-group sort cliff); the coverage test compares each residual
    to the SAME identical-op threshold both engines computed.  Two
    pushed-down scans of the fact, two map-side-combinable aggregates,
    one broadcast join of the |types|-row model.
    """
    from lambda_arc_events_filter_spark.functions.stats import (
        group_percentile_cont,
    )

    v = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        round_half_up(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.col("event_id") % 2 == 0, "cal").otherwise("test").alias(
            "split"
        ),
    )
    mu = (
        v.filter(F.col("split") == "cal")
        .groupBy("event_type")
        .agg(F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    resid = (
        v.filter(F.col("split") == "cal")
        .join(F.broadcast(mu), "event_type")
        .select(
            "event_type",
            F.abs(
                F.col("cents") - F.col("s").cast("double") / F.col("n")
            ).alias("r"),
        )
    )
    q = group_percentile_cont(resid, ["event_type"], "r", {"q90": 0.9})
    test = (
        v.filter(F.col("split") == "test")
        .join(F.broadcast(mu), "event_type")
        .join(F.broadcast(q), "event_type")
    )
    covered = F.abs(
        F.col("cents") - F.col("s").cast("double") / F.col("n")
    ) <= F.col("q90")
    return (
        test.groupBy("event_type", "s", "n", "q90")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.count(F.when(covered, 1)).alias("n_covered"),
        )
        .select(
            "event_type",
            F.round(F.col("s").cast("double") / F.col("n") / 100, 6).alias(
                "predicted"
            ),
            F.round(F.col("q90") / 100, 6).alias("half_width"),
            "n_test",
            "n_covered",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# A/A-test calibration (null-experiment p-value uniformity)
# ---------------------------------------------------------------------------


@register(
    "events_aa_calibration",
    oracle="""
    WITH cells AS (
      SELECT event_type, CAST(isodow(ts) AS INT) AS dow,
             (user_id // 2) % 2 AS arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
             CAST(sum(CAST(round(value * 100) AS HUGEINT)
                      * CAST(round(value * 100) AS BIGINT)) AS HUGEINT)
               AS q
      FROM events GROUP BY 1, 2, 3
    ),
    tests AS (
      SELECT a.event_type, a.dow,
             (CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
             / sqrt(((CAST(a.q AS DOUBLE)
                      - CAST(a.s AS DOUBLE) * a.s / a.n) / (a.n - 1)) / a.n
                    + ((CAST(b.q AS DOUBLE)
                        - CAST(b.s AS DOUBLE) * b.s / b.n) / (b.n - 1))
                      / b.n) AS z
      FROM cells a JOIN cells b
        ON a.event_type = b.event_type AND a.dow = b.dow
      WHERE a.arm = 1 AND b.arm = 0
    ),
    pv AS (
      SELECT event_type, dow, abs(z) AS az,
             1.0 / (1.0 + 0.2316419 * abs(z)) AS t
      FROM tests
    ),
    p AS (
      SELECT event_type, dow,
             2 * (exp(-az * az / 2) / sqrt(2 * pi())
                  * (0.319381530 * t - 0.356563782 * t * t
                     + 1.781477937 * t * t * t
                     - 1.821255978 * t * t * t * t
                     + 1.330274429 * t * t * t * t * t)) AS p
      FROM pv
    ),
    binned AS (
      SELECT least(CAST(floor(p * 5) AS INT), 4) AS p_bin,
             CAST(count(*) AS BIGINT) AS n_tests
      FROM p GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_tests) AS BIGINT) AS m FROM binned)
    SELECT b.p_bin, b.n_tests,
           round(CAST(t.m AS DOUBLE) / 5, 6) AS expected,
           round((b.n_tests - CAST(t.m AS DOUBLE) / 5)
                 * (b.n_tests - CAST(t.m AS DOUBLE) / 5)
                 / (CAST(t.m AS DOUBLE) / 5), 6) AS chi2_term
    FROM binned b, tot t ORDER BY b.p_bin
    """,
    tags=("stats", "inference"),
)
def events_aa_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/A-test calibration: run the Welch test machinery on a NULL
    split (neither arm was treated) across 35 (event type × weekday)
    strata and check the p-values land UNIFORMLY in their quintile bins
    — the experimentation-platform hygiene test that catches broken
    variance estimators, unit-of-randomization mistakes, and
    interference long before a real A/B is trusted (a healthy platform
    shows ~m/5 per bin; clumping near 0 means false positives at scale).

    Same exactness discipline as the BH screen: integer moments
    (Σcents² in DECIMAL(38)/HUGEINT), identical-op z and tail
    polynomial, so each p-value — and therefore its bin — is
    bit-identical across engines.  One map-side-combinable (stratum ×
    arm) aggregate over the fact, everything after is 35 rows.
    """
    import math

    e = load(spark, sf_dir, "events").select(
        "event_type",
        (F.weekday("ts") + 1).cast("int").alias("dow"),
        (F.call_function(
            "div",
            F.col("user_id").cast("decimal(38,0)"),
            F.lit(2).cast("decimal(38,0)"),
        ) % 2).alias("arm"),
        round_half_up(F.col("value") * 100).cast("long").alias("v"),
    )
    cells = e.groupBy("event_type", "dow", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).alias("q"),
    )
    a = cells.filter(F.col("arm") == 1).select(
        "event_type",
        "dow",
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
        F.col("q").alias("qa"),
    )
    b = cells.filter(F.col("arm") == 0).select(
        "event_type",
        "dow",
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
        F.col("q").alias("qb"),
    )
    j = a.join(b, ["event_type", "dow"])
    d = lambda c: c.cast("double")  # noqa: E731
    va = (d(F.col("qa")) - d(F.col("sa")) * F.col("sa") / F.col("na")) / (
        F.col("na") - 1
    )
    vb = (d(F.col("qb")) - d(F.col("sb")) * F.col("sb") / F.col("nb")) / (
        F.col("nb") - 1
    )
    z = (
        d(F.col("sa")) / F.col("na") - d(F.col("sb")) / F.col("nb")
    ) / F.sqrt(va / F.col("na") + vb / F.col("nb"))
    az = F.abs(z)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * az)
    poly = (
        F.lit(0.319381530) * t
        - F.lit(0.356563782) * t * t
        + F.lit(1.781477937) * t * t * t
        - F.lit(1.821255978) * t * t * t * t
        + F.lit(1.330274429) * t * t * t * t * t
    )
    p = F.lit(2.0) * (
        F.exp(-az * az / 2) / F.sqrt(F.lit(2.0) * F.lit(math.pi)) * poly
    )
    binned = (
        j.select(
            F.least(F.floor(p * 5).cast("int"), F.lit(4)).alias("p_bin")
        )
        .groupBy("p_bin")
        .agg(F.count(F.lit(1)).alias("n_tests"))
    )
    tot = binned.agg(F.sum("n_tests").alias("m"))
    exp = F.col("m").cast("double") / 5
    return (
        binned.crossJoin(F.broadcast(tot))
        .select(
            "p_bin",
            "n_tests",
            F.round(exp, 6).alias("expected"),
            F.round(
                (F.col("n_tests") - exp) * (F.col("n_tests") - exp) / exp, 6
            ).alias("chi2_term"),
        )
        .orderBy("p_bin")
    )


# ---------------------------------------------------------------------------
# Sequential A/B testing: Wald SPRT over daily conversion checkpoints
# ---------------------------------------------------------------------------


@register(
    "events_ab_sequential_sprt",
    oracle="""
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(count(*) AS BIGINT) AS n_obs,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_conv
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT day, n_obs, n_conv,
             n_conv * ln(0.22 / 0.18)
               + (n_obs - n_conv) * ln(0.78 / 0.82) AS llr_day,
             sum(n_conv * ln(0.22 / 0.18)
                 + (n_obs - n_conv) * ln(0.78 / 0.82))
               OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS llr_cum
      FROM d
    )
    SELECT day, n_obs, n_conv,
           round(llr_day, 6) AS llr_day,
           round(llr_cum, 6) AS llr_cum,
           CASE WHEN round(llr_cum, 6) >= round(ln(19.0), 6)
                  THEN 'accept_h1'
                WHEN round(llr_cum, 6) <= -round(ln(19.0), 6)
                  THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM c
    """,
    tags=("events", "stats", "sequential"),
)
def events_ab_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential hypothesis testing (Wald SPRT): monitor the purchase
    conversion rate against H0: p = 0.18 vs H1: p = 0.22 with DAILY
    checkpoints — the always-valid early-stopping readout an
    experimentation platform runs instead of a fixed-horizon test, so an
    experiment stops the day the evidence clears the boundary rather
    than at a pre-committed sample size.  Each day contributes
    llr = conv·ln(p1/p0) + (n−conv)·ln((1−p1)/(1−p0)); the running sum
    crosses ln((1−β)/α) = ln 19 (α = β = 0.05) to accept H1, −ln 19 to
    accept H0, else the test continues.

    One map-side-combinable daily rollup is the only fact-scale shuffle
    — the sequential scan runs over the CALENDAR-BOUNDED day series
    (≤ the experiment's span; same bounded-relation class as
    ``events_ewma_daily``, allowlisted in the single-partition-window
    lint with that justification).  Decision compares ROUNDED cumulative
    evidence to the ROUNDED boundary on both engines, so the emitted
    cell and the decision can never disagree cross-engine.  ln() on the
    shared literals is identical-input libm — noise orders of magnitude
    under the round-6 emit.
    """
    e = load(spark, sf_dir, "events")
    d = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_conv"),
    )
    lr1 = F.log(F.lit(0.22) / F.lit(0.18))
    lr0 = F.log(F.lit(0.78) / F.lit(0.82))
    llr_day = F.col("n_conv") * lr1 + (F.col("n_obs") - F.col("n_conv")) * lr0
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bound = F.round(F.log(F.lit(19.0)), 6)
    cum = F.round(F.col("llr_cum_raw"), 6)
    return (
        d.withColumn("llr_day_raw", llr_day)
        .withColumn("llr_cum_raw", F.sum("llr_day_raw").over(w))
        .select(
            "day",
            "n_obs",
            "n_conv",
            F.round("llr_day_raw", 6).alias("llr_day"),
            cum.alias("llr_cum"),
            F.when(cum >= bound, "accept_h1")
            .when(cum <= -bound, "accept_h0")
            .otherwise("continue")
            .alias("decision"),
        )
    )


# ---------------------------------------------------------------------------
# Theta sketches: set INTERSECTION / DIFFERENCE cardinality (beyond HLL)
# ---------------------------------------------------------------------------


@register(
    "agg_theta_set_ops",
    oracle=None,  # hash-seeded sketch; error bound pinned in pytest
    tags=("agg", "sketch"),
)
def agg_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches (Datasketches) AS VALUES: per-event-type user
    sketches via ``theta_sketch_agg``, then UNION / INTERSECTION /
    DIFFERENCE cardinality estimates across behaviors — the set-algebra
    HLL structurally cannot do (``agg_hll_sketch_union`` merges unions
    only; theta's KMV retention supports ∩ and ∖), powering audience-
    overlap questions ("how many users both click AND purchase?") from
    per-segment sketches without rescanning raw events.

    One map-combinable pass builds all per-type sketches; the set
    algebra runs on the tiny sketch relation.  At 100 TB the sketches
    are the persisted per-partition artifact and every overlap query is
    sketch-side only.  Approximate by design (seeded KMV hashing — no
    DuckDB twin) → rows-only driver check; the error bound vs exact
    intersection/difference counts is pinned in tests/test_approx.py.
    """
    e = load(spark, sf_dir, "events")
    sk = e.groupBy("event_type").agg(
        F.expr("theta_sketch_agg(user_id)").alias("_sk")
    )
    click = sk.filter(F.col("event_type") == "click").select(
        F.col("_sk").alias("_a")
    )
    buy = sk.filter(F.col("event_type") == "purchase").select(
        F.col("_sk").alias("_b")
    )
    both = click.join(F.broadcast(buy))
    return both.select(
        F.expr("theta_sketch_estimate(_a)").alias("approx_click"),
        F.expr("theta_sketch_estimate(_b)").alias("approx_purchase"),
        F.expr("theta_sketch_estimate(theta_union(_a, _b))").alias(
            "approx_union"
        ),
        F.expr("theta_sketch_estimate(theta_intersection(_a, _b))").alias(
            "approx_both"
        ),
        F.expr("theta_sketch_estimate(theta_difference(_a, _b))").alias(
            "approx_click_only"
        ),
    )


# ---------------------------------------------------------------------------
# KLL sketch: mergeable quantiles (partial-sketch rollup for percentiles)
# ---------------------------------------------------------------------------


@register(
    "agg_kll_quantile_merge",
    oracle=None,  # rank-error sketch; bound pinned in pytest
    tags=("agg", "sketch"),
)
def agg_kll_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketches (Datasketches) AS VALUES: per-event-type
    value sketches via ``kll_sketch_agg_double``, merged across types
    with ``kll_sketch_merge_double`` and queried for p50/p90/p99 — the
    MERGEABLE quantile path that ``approx_percentile`` cannot provide as
    a reusable artifact: build per-partition/day sketches once, answer
    percentile questions over ANY later subset by merging sketches, no
    raw-data rescan.  This is the sketch-side dual of the exact
    sort-based percentiles in ``agg_stats`` (the documented scale
    alternative).

    One map-combinable pass builds the per-type sketches (k=200 default,
    ~1.65% one-sided rank error at 99% confidence); merge + quantile
    queries run on the tiny sketch relation.  Approximate by design
    (rank-error guarantee, not value equality — no DuckDB twin) →
    rows-only driver check; the rank-error bound vs exact quantiles is
    pinned in tests/test_approx.py.
    """
    e = load(spark, sf_dir, "events")
    sk = e.groupBy("event_type").agg(
        F.expr("kll_sketch_agg_double(value)").alias("_sk"),
        F.count(F.lit(1)).alias("n"),
    )
    per_type = sk.select(
        F.col("event_type").alias("scope"),
        F.expr("kll_sketch_get_quantile_double(_sk, 0.5)").alias("p50"),
        F.expr("kll_sketch_get_quantile_double(_sk, 0.9)").alias("p90"),
        F.expr("kll_sketch_get_quantile_double(_sk, 0.99)").alias("p99"),
    )
    # kll_sketch_merge_double is a 2-ary scalar merge (no aggregate
    # form): fold the per-type sketches — a bounded list, one per
    # event_type — with an ordered HOF reduce.  collect_list order is
    # shuffle-dependent and KLL merge is merge-order-dependent, so sort
    # the (event_type, sketch) structs by event_type FIRST: the fold
    # consumes a deterministic sequence.  Residual run-to-run variation
    # remains WITHIN the sketch's rank-error guarantee — the merge
    # itself flips random compaction coins (pinned with a 5% band in
    # tests/test_approx.py) — which is the nature of the artifact;
    # rows-only driver check for the same reason.
    total = sk.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(event_type, _sk))),"
            " s -> s._sk)"
        ).alias("_sks")
    ).select(
        F.expr(
            "aggregate(slice(_sks, 2, greatest(size(_sks) - 1, 0)),"
            " _sks[0],"
            " (a, x) -> kll_sketch_merge_double(a, x))"
        ).alias("_m")
    ).select(
        F.lit("total").alias("scope"),
        F.expr("kll_sketch_get_quantile_double(_m, 0.5)").alias("p50"),
        F.expr("kll_sketch_get_quantile_double(_m, 0.9)").alias("p90"),
        F.expr("kll_sketch_get_quantile_double(_m, 0.99)").alias("p99"),
    )
    return per_type.unionAll(total)


# ---------------------------------------------------------------------------
# Sample-ratio mismatch (SRM) guardrail for the A/B assignment
# ---------------------------------------------------------------------------


@register(
    "events_ab_srm_check",
    oracle="""
    WITH arm AS (
      SELECT user_id % 2 AS grp, CAST(count(DISTINCT user_id) AS BIGINT) n
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT coalesce(sum(CASE WHEN grp = 1 THEN n END), 0) AS n_treat,
             coalesce(sum(CASE WHEN grp = 0 THEN n END), 0) AS n_ctrl
      FROM arm
    ),
    s AS (
      SELECT n_treat, n_ctrl,
             CASE WHEN n_treat + n_ctrl = 0 THEN 0.0
                  ELSE (n_treat - n_ctrl) * (n_treat - n_ctrl) * 1.0
                       / (n_treat + n_ctrl) END AS chi2
      FROM m
    ),
    c AS (
      SELECT *, sqrt(chi2) AS az,
             1.0 / (1.0 + 0.2316419 * sqrt(chi2)) AS t
      FROM s
    )
    SELECT CAST(n_treat AS BIGINT) AS n_treat,
           CAST(n_ctrl AS BIGINT) AS n_ctrl,
           round(chi2, 6) AS chi2,
           round(2 * (exp(-az * az / 2) / sqrt(2 * pi())
                 * (0.319381530 * t - 0.356563782 * t * t
                    + 1.781477937 * t * t * t
                    - 1.821255978 * t * t * t * t
                    + 1.330274429 * t * t * t * t * t)), 6) AS p_value,
           round(2 * (exp(-az * az / 2) / sqrt(2 * pi())
                 * (0.319381530 * t - 0.356563782 * t * t
                    + 1.781477937 * t * t * t
                    - 1.821255978 * t * t * t * t
                    + 1.330274429 * t * t * t * t * t)), 6) < 0.001
             AS srm_flag
    FROM c
    """,
    tags=("events", "stats"),
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: before ANY A/B readout
    (``events_ab_welch_ztest`` and friends), test whether the observed
    user split actually matches the designed 50/50 allocation — a
    significant mismatch means broken assignment (bot filtering,
    redirect loss, logging bugs) and invalidates every downstream
    metric.  Chi-square 1-df goodness of fit, which for two arms reduces
    to (n1−n0)²/(n1+n0); the p-value is the two-sided normal tail at
    z = √χ² via the same Abramowitz-Stegun 26.2.17 polynomial the
    z-test query pins (identical 5-term arithmetic in both engines),
    and the flag compares the ROUNDED p-value so the cell and the
    decision agree cross-engine.

    One distinct-user count per arm (two-level aggregate,
    map-combinable) — the guardrail costs one scan at any traffic
    volume; the test statistic is row-level arithmetic on a 2-row
    relation.
    """
    import math

    e = load(spark, sf_dir, "events")
    arm = e.groupBy((F.col("user_id") % 2).alias("grp")).agg(
        F.countDistinct("user_id").alias("n")
    )
    # coalesce: an EMPTY arm (every user in one parity class) must yield
    # a finite chi2 and srm_flag=true — without it the conditional sum is
    # NULL and the guardrail silently goes NULL exactly when the
    # sample-ratio mismatch is maximal (r11 ADVICE).
    m = arm.agg(
        F.coalesce(
            F.sum(F.when(F.col("grp") == 1, F.col("n"))), F.lit(0)
        ).alias("n_treat"),
        F.coalesce(
            F.sum(F.when(F.col("grp") == 0, F.col("n"))), F.lit(0)
        ).alias("n_ctrl"),
    )
    chi2 = F.when(F.col("n_treat") + F.col("n_ctrl") == 0, F.lit(0.0)).otherwise(
        (F.col("n_treat") - F.col("n_ctrl"))
        * (F.col("n_treat") - F.col("n_ctrl"))
        * 1.0
        / (F.col("n_treat") + F.col("n_ctrl"))
    )
    s = m.withColumn("chi2", chi2)
    az = F.sqrt(F.col("chi2"))
    t = 1.0 / (1.0 + 0.2316419 * az)
    poly = (
        0.319381530 * t
        - 0.356563782 * t * t
        + 1.781477937 * t * t * t
        - 1.821255978 * t * t * t * t
        + 1.330274429 * t * t * t * t * t
    )
    pdf = F.exp(-az * az / 2) / F.lit(math.sqrt(2 * math.pi))
    p = F.round(2 * pdf * poly, 6)
    return s.select(
        F.col("n_treat").cast("bigint").alias("n_treat"),
        F.col("n_ctrl").cast("bigint").alias("n_ctrl"),
        F.round("chi2", 6).alias("chi2"),
        p.alias("p_value"),
        (p < 0.001).alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# Bradley-Terry pairwise strength (MM fixed-point)
# ---------------------------------------------------------------------------


@register(
    "parts_bradley_terry_strength",
    oracle="""
    WITH lines AS (
      SELECT DISTINCT l_orderkey, l_linenumber, p_brand AS brand, l_quantity
      FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    comp AS (
      SELECT CASE WHEN a.l_quantity > b.l_quantity
                  THEN a.brand ELSE b.brand END AS w,
             CASE WHEN a.l_quantity > b.l_quantity
                  THEN b.brand ELSE a.brand END AS l
      FROM lines a JOIN lines b ON a.l_orderkey = b.l_orderkey
        AND (a.l_linenumber, a.brand, a.l_quantity)
          < (b.l_linenumber, b.brand, b.l_quantity)
      WHERE a.brand <> b.brand AND a.l_quantity <> b.l_quantity
    ),
    c AS MATERIALIZED (
      -- MATERIALIZED is load-bearing: seven downstream CTEs reference
      -- this (p3 -> p2 x2 -> p1 x2 ...); inlined, the fact-scale pair
      -- join re-evaluates once per expansion path (196 s at sf0.1 vs
      -- 1.2 s materialized) -- the oracle twin of the engine's
      -- localCheckpoint on the same relation
      SELECT w, l, CAST(count(*) AS BIGINT) AS c FROM comp GROUP BY 1, 2
    ),
    qual AS (SELECT w AS brand FROM c INTERSECT SELECT l FROM c),
    c2 AS (
      SELECT c.w, c.l, c.c FROM c
      JOIN qual qw ON c.w = qw.brand JOIN qual ql ON c.l = ql.brand
    ),
    opp AS (
      SELECT i, j, sum(c) AS n FROM (
        SELECT w AS i, l AS j, c FROM c2
        UNION ALL SELECT l AS i, w AS j, c FROM c2
      ) GROUP BY 1, 2
    ),
    wins AS (SELECT w AS brand, CAST(sum(c) AS BIGINT) AS wins
             FROM c2 GROUP BY 1),
    games AS (SELECT i AS brand, CAST(sum(n) AS BIGINT) AS games
              FROM opp GROUP BY 1),
    p1 AS (
      SELECT g.brand, round(coalesce(w.wins, 0) * 2.0 / g.games, 9) AS p
      FROM games g LEFT JOIN wins w ON w.brand = g.brand
    ),
    -- LEFT JOIN wins + coalesce(wins,0) (r12 ADVICE): a qualified brand
    -- whose only wins were against non-qualified brands has NO wins row
    -- after the qual x qual filter; an inner join would drop it from the
    -- p2/p3 updates and the report, diverging from the canonical MM
    -- replay which carries it at p = 0.  Its MM denominator is always
    -- positive: every opponent of a zero-win brand beat it, so that
    -- opponent's rating is > 0 from round 1 on.
    p2 AS (
      SELECT o.i AS brand,
             round(coalesce(w.wins, 0) / sum(o.n / (pi.p + pj.p)), 9) AS p
      FROM opp o JOIN p1 pi ON pi.brand = o.i JOIN p1 pj ON pj.brand = o.j
      LEFT JOIN wins w ON w.brand = o.i GROUP BY o.i, w.wins
    ),
    p3 AS (
      SELECT o.i AS brand,
             round(coalesce(w.wins, 0) / sum(o.n / (pi.p + pj.p)), 9) AS p
      FROM opp o JOIN p2 pi ON pi.brand = o.i JOIN p2 pj ON pj.brand = o.j
      LEFT JOIN wins w ON w.brand = o.i GROUP BY o.i, w.wins
    )
    SELECT p3.brand, CAST(coalesce(w.wins, 0) AS BIGINT) AS wins, g.games,
           round(p3.p / (SELECT avg(p) FROM p3), 6) AS strength
    FROM p3 LEFT JOIN wins w ON w.brand = p3.brand
    JOIN games g ON g.brand = p3.brand
    ORDER BY p3.brand
    """,
    tags=("stats", "iterative", "agg"),
)
def parts_bradley_terry_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry (1952) pairwise-preference strength per brand, fit
    with three Hunter-(2004)-MM iterations — the model behind RLHF
    preference-pair reward aggregation and ranking-from-comparisons
    pipelines.  Comparisons are mined from order baskets: within each
    order, every DISTINCT line pair with differing brands and differing
    quantities is a "game" the higher-quantity brand wins; the MM update
    is ``p_i ← W_i / Σ_j n_ij/(p_i+p_j)`` from the uniform vector, and
    the report normalizes to mean 1 so strengths are relative odds.

    Scale shape: pair generation is IN-ROW — one exchange keyed on
    ``l_orderkey`` builds the per-order distinct-line array (bounded by
    lines-per-order, a schema constant) and a nested-``transform`` HOF
    emits ordered pairs without any fact self-join; the comparison
    matrix that leaves the fact stage is ≤ |brands|² rows.  Each MM
    round is then a join-aggregate over that tiny matrix with the
    rating vector broadcast both sides — the pagerank discipline
    (round4_q.py): iterate on the AGGREGATED relation, never re-touch
    facts.  The pair set is pinned to a strict lexicographic order on
    distinct (linenumber, brand, quantity) triples so both engines
    enumerate the identical multiset (the fixture has duplicate
    linenumbers within orders; ``collect_set`` + ``sort_array`` here ≡
    DISTINCT + row-value ``<`` in the oracle).  Ratings round to 9
    between rounds (identical trajectories) and to 6 at the end.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    lines = li.join(
        F.broadcast(p), F.col("p_partkey") == F.col("l_partkey")
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("p_brand").alias("brand"),
        "l_quantity",
    )
    basket = lines.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_set(F.struct("l_linenumber", "brand", "l_quantity"))
        ).alias("xs")
    )
    comp = basket.select(
        F.explode(
            F.expr(
                """
                filter(
                  flatten(transform(xs, (a, i) -> transform(xs, (b, j) ->
                    IF(j > i AND a.brand <> b.brand
                           AND a.l_quantity <> b.l_quantity,
                       named_struct(
                         'w', IF(a.l_quantity > b.l_quantity,
                                 a.brand, b.brand),
                         'l', IF(a.l_quantity > b.l_quantity,
                                 b.brand, a.brand)),
                       CAST(NULL AS struct<w: string, l: string>))))),
                  x -> x IS NOT NULL)
                """
            )
        ).alias("g")
    )
    # ≤ |brands|² rows; EVERY downstream relation (qual, opp, wins,
    # games, 3 MM rounds) re-reads it, so without this checkpoint the
    # fact-scale pair generation would re-execute once per consumer
    # (measured 50 s → ~3 s at sf0.01).  Being query-private, it keeps
    # the plan out of the prepared-plan cache, which would pin it.
    c = comp.groupBy(
        F.col("g.w").alias("w"), F.col("g.l").alias("l")
    ).agg(F.count(F.lit(1)).alias("c")).localCheckpoint(eager=False)
    qual = c.select(F.col("w").alias("brand")).distinct().join(
        c.select(F.col("l").alias("brand")).distinct(), "brand"
    )
    c2 = c.join(
        F.broadcast(qual.withColumnRenamed("brand", "w")), "w"
    ).join(F.broadcast(qual.withColumnRenamed("brand", "l")), "l")
    opp = (
        c2.select(F.col("w").alias("i"), F.col("l").alias("j"), "c")
        .unionAll(c2.select(F.col("l").alias("i"), F.col("w").alias("j"), "c"))
        .groupBy("i", "j")
        .agg(F.sum("c").alias("n"))
    )
    wins = c2.groupBy("w").agg(F.sum("c").alias("wins")).select(
        F.col("w").alias("brand"), F.col("wins").cast("bigint").alias("wins")
    )
    games = opp.groupBy("i").agg(F.sum("n").alias("games")).select(
        F.col("i").alias("brand"),
        F.col("games").cast("bigint").alias("games"),
    )
    prev = games.join(F.broadcast(wins), "brand", "left").select(
        "brand",
        F.round(
            F.coalesce(F.col("wins"), F.lit(0)) * 2.0 / F.col("games"), 9
        ).alias("p"),
    )
    # LEFT join wins + coalesce(wins, 0) in the MM rounds and the report
    # (r12 ADVICE): a qualified brand whose only wins were against
    # non-qualified brands has no `wins` row after the qual×qual filter;
    # an inner join would silently drop it from p2/p3 and the output,
    # while the canonical MM replay carries it at p = 0.  Its denominator
    # is always positive — every opponent of a zero-win brand beat it, so
    # that opponent's rating is > 0 from round 1 on.
    for _ in range(2):  # p1 computed above; two more MM rounds → p3
        pi = prev.select(F.col("brand").alias("i"), F.col("p").alias("pi"))
        pj = prev.select(F.col("brand").alias("j"), F.col("p").alias("pj"))
        prev = (
            opp.join(F.broadcast(pi), "i")
            .join(F.broadcast(pj), "j")
            .groupBy("i")
            .agg(F.sum(F.col("n") / (F.col("pi") + F.col("pj"))).alias("den"))
            .join(F.broadcast(wins.withColumnRenamed("brand", "i")), "i", "left")
            .select(
                F.col("i").alias("brand"),
                F.round(
                    F.coalesce(F.col("wins"), F.lit(0)) / F.col("den"), 9
                ).alias("p"),
            )
        )
    mean_p = prev.agg(F.avg("p").alias("mp"))
    return (
        prev.join(F.broadcast(wins), "brand", "left")
        .join(F.broadcast(games), "brand")
        .crossJoin(F.broadcast(mean_p))
        .select(
            "brand",
            F.coalesce(F.col("wins"), F.lit(0)).cast("bigint").alias("wins"),
            "games",
            F.round(F.col("p") / F.col("mp"), 6).alias("strength"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# Delete-one-group jackknife CI for a ratio metric
# ---------------------------------------------------------------------------


@register(
    "orders_jackknife_ratio_ci",
    oracle="""
    WITH g AS (
      SELECT n_name AS grp, CAST(count(*) AS BIGINT) AS n_g,
             sum(o_totalprice) AS s_g
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      GROUP BY 1
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS grps,
                 CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS s FROM g),
    loo AS (
      SELECT grp, (t.s - g.s_g) / (t.n - g.n_g) AS th FROM g, t
    ),
    m AS (SELECT avg(th) AS thbar FROM loo),
    v AS (SELECT sum((th - thbar) * (th - thbar)) AS ss FROM loo, m)
    SELECT t.grps AS n_groups, t.n AS n_orders,
           round(t.s / t.n, 6) AS estimate,
           round(sqrt((t.grps - 1.0) / t.grps * v.ss), 6) AS se_jack,
           round(t.s / t.n
                 - 1.959964 * sqrt((t.grps - 1.0) / t.grps * v.ss),
                 6) AS ci_lo,
           round(t.s / t.n
                 + 1.959964 * sqrt((t.grps - 1.0) / t.grps * v.ss),
                 6) AS ci_hi
    FROM t, v
    """,
    tags=("stats", "agg"),
)
def orders_jackknife_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife (Quenouille 1956 / Tukey 1958) CI for
    a ratio metric — average order value ``Σ totalprice / Σ orders``
    grouped by customer nation.  Ratio metrics have no closed-form SE
    (the denominator is random); the delete-one jackknife is the
    standard experimentation-platform answer: recompute the ratio
    leaving each group out (closed form from per-group sums — no
    resampling pass), then ``se² = (G−1)/G · Σ(θ₍g₎ − θ̄)²``.

    Scale shape: ONE fact-scale aggregate keyed on ``o_custkey``
    (map-side combinable) collapses orders before any join; the
    customer→nation enrichment then joins ≤|customers| rows with nation
    broadcast, and every jackknife step after that operates on the
    G=25-row group relation via broadcast cross joins — leave-one-out
    NEVER rescans facts, which is exactly why the closed-form grouped
    jackknife (not bootstrap resampling) is the estimator a 100 TB
    metrics pipeline runs.  z = 1.959964 (two-sided 95%), round-6.
    """
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cu = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    na = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    percust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_c"), F.sum("o_totalprice").alias("s_c")
    )
    g = (
        percust.join(cu, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(na), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(F.col("n_name").alias("grp"))
        .agg(
            F.sum("n_c").cast("bigint").alias("n_g"),
            F.sum("s_c").alias("s_g"),
        )
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("grps"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").alias("s"),
    )
    loo = g.crossJoin(F.broadcast(t)).select(
        ((F.col("s") - F.col("s_g")) / (F.col("n") - F.col("n_g"))).alias(
            "th"
        )
    )
    m = loo.agg(F.avg("th").alias("thbar"))
    v = (
        loo.crossJoin(F.broadcast(m))
        .agg(
            F.sum(
                (F.col("th") - F.col("thbar"))
                * (F.col("th") - F.col("thbar"))
            ).alias("ss")
        )
    )
    se = F.sqrt((F.col("grps") - 1.0) / F.col("grps") * F.col("ss"))
    est = F.col("s") / F.col("n")
    return t.crossJoin(F.broadcast(v)).select(
        F.col("grps").alias("n_groups"),
        F.col("n").alias("n_orders"),
        F.round(est, 6).alias("estimate"),
        F.round(se, 6).alias("se_jack"),
        F.round(est - 1.959964 * se, 6).alias("ci_lo"),
        F.round(est + 1.959964 * se, 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Stratified-propensity IPW average treatment effect
# ---------------------------------------------------------------------------

#: the confounded cohort's pre/post cut: days 1-10 are the pre-period,
#: days 11+ the post-period (the oracles spell the same date)
_COHORT_CUT = "2024-01-11"


def _confounded_cohort(e: DataFrame) -> DataFrame:
    """One row per user with events in both periods of ``_COHORT_CUT``:
    ``pre_cnt`` (pre-period event count), ``y`` (post-period mean value),
    ``stratum`` (the pre-activity tertile 1-3, thresholds ``q1``/``q2``
    rounded to 6 so both engines cut identical tertiles) and ``treated``
    — the Lehmer-multiplier rule mod the prime 97 whose treatment share
    rises with the stratum, so exposure is CONFOUNDED with pre-period
    activity.  Shared by the IPW, AIPW and matching estimators.
    """
    cut = F.lit(_COHORT_CUT).cast("timestamp")
    pre = (
        e.filter(F.col("ts") < cut)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pre_cnt"))
    )
    post = (
        e.filter(F.col("ts") >= cut)
        .groupBy("user_id")
        .agg(F.avg("value").alias("y"))
    )
    u = pre.join(post, "user_id")
    th = u.agg(
        F.round(F.expr("percentile(pre_cnt, 1.0/3.0)"), 6).alias("q1"),
        F.round(F.expr("percentile(pre_cnt, 2.0/3.0)"), 6).alias("q2"),
    )
    return (
        u.crossJoin(F.broadcast(th))
        .withColumn(
            "stratum",
            F.when(F.col("pre_cnt") <= F.col("q1"), 1)
            .when(F.col("pre_cnt") <= F.col("q2"), 2)
            .otherwise(3),
        )
        .withColumn(
            "treated",
            (
                (F.col("user_id") * F.lit(48271)) % 97
                < 19 + 10 * F.col("stratum")
            ).cast("int"),
        )
    )


@register(
    "events_ipw_ate_stratified",
    oracle="""
    WITH pre AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS pre_cnt
      FROM events WHERE ts < TIMESTAMP '2024-01-11' GROUP BY 1
    ),
    post AS (
      SELECT user_id, avg(value) AS y
      FROM events WHERE ts >= TIMESTAMP '2024-01-11' GROUP BY 1
    ),
    u AS (SELECT pre.user_id, pre.pre_cnt, post.y
          FROM pre JOIN post ON pre.user_id = post.user_id),
    th AS (SELECT round(quantile_cont(pre_cnt, 1.0/3.0), 6) AS q1,
                  round(quantile_cont(pre_cnt, 2.0/3.0), 6) AS q2 FROM u),
    a AS (
      SELECT u.*,
             CASE WHEN u.pre_cnt <= th.q1 THEN 1
                  WHEN u.pre_cnt <= th.q2 THEN 2 ELSE 3 END AS stratum
      FROM u, th
    ),
    a2 AS (
      SELECT *, CASE WHEN (user_id * 48271) % 97 < 19 + 10 * stratum
                     THEN 1 ELSE 0 END AS treated
      FROM a
    ),
    es AS (SELECT stratum, avg(treated) AS e FROM a2 GROUP BY 1),
    w AS (
      SELECT a2.*, CASE WHEN a2.treated = 1 THEN 1.0 / es.e
                        ELSE 1.0 / (1.0 - es.e) END AS wt
      FROM a2 JOIN es ON es.stratum = a2.stratum
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(treated) AS BIGINT) AS n_treated,
           round(avg(CASE WHEN treated = 1 THEN y END)
                 - avg(CASE WHEN treated = 0 THEN y END), 6) AS naive_diff,
           round(sum(CASE WHEN treated = 1 THEN y * wt END)
                 / sum(CASE WHEN treated = 1 THEN wt END)
                 - sum(CASE WHEN treated = 0 THEN y * wt END)
                 / sum(CASE WHEN treated = 0 THEN wt END), 6) AS ate_ipw
    FROM w
    """,
    tags=("events", "stats"),
)
def events_ipw_ate_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted ATE (Horvitz-Thompson 1952 weights,
    Hájek self-normalized form) with propensity estimated by covariate
    stratification — the observational-causal counterpart to the A/B
    family (Welch, CUPED, diff-in-diff): exposure here is deliberately
    CONFOUNDED with pre-period activity (a Lehmer-multiplier rule mod
    the prime 97 whose treatment share rises ~0.30/0.40/0.51 with the
    activity tertile — full-period mixing, unlike any mod-10 rule on
    sequential ids), so the naive
    treated-minus-control difference is biased and the stratified IPW
    estimate corrects it.  Pre-period (days 1-10) activity defines
    tertile strata; the outcome is each user's post-period (days 11+)
    mean value; propensity êₛ is the observed treatment share per
    stratum; the Hájek estimator normalizes each arm by its weight sum.

    Scale shape: TWO map-side-combinable fact aggregates keyed on
    ``user_id`` (pre-count, post-mean) collapse events to one row per
    user before anything else; tertile thresholds are one exact-
    percentile scalar over the USER relation (broadcast back — no
    global-order window anywhere, per the single-partition-window ban),
    and propensities are a 3-row aggregate joined by broadcast.  The
    assignment rule is plain integer arithmetic (the Lehmer multiplier
    48271 mod 97), identical in both engines — no engine hash functions.
    Thresholds round to 6 before the stratum CASE so both engines cut
    identical tertiles; estimates round to 6.
    """
    e = load(spark, sf_dir, "events")
    a = _confounded_cohort(e)
    es = a.groupBy("stratum").agg(F.avg("treated").alias("e"))
    w = a.join(F.broadcast(es), "stratum").withColumn(
        "wt",
        F.when(F.col("treated") == 1, 1.0 / F.col("e")).otherwise(
            1.0 / (1.0 - F.col("e"))
        ),
    )
    t1 = F.col("treated") == 1
    t0 = F.col("treated") == 0
    y = F.col("y")
    wt = F.col("wt")
    return w.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("treated").cast("bigint").alias("n_treated"),
        F.round(
            F.avg(F.when(t1, y)) - F.avg(F.when(t0, y)), 6
        ).alias("naive_diff"),
        F.round(
            F.sum(F.when(t1, y * wt)) / F.sum(F.when(t1, wt))
            - F.sum(F.when(t0, y * wt)) / F.sum(F.when(t0, wt)),
            6,
        ).alias("ate_ipw"),
    )


# ---------------------------------------------------------------------------
# AIPW doubly-robust average treatment effect
# ---------------------------------------------------------------------------


@register(
    "events_aipw_doubly_robust",
    oracle="""
    WITH pre AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS pre_cnt
      FROM events WHERE ts < TIMESTAMP '2024-01-11' GROUP BY 1
    ),
    post AS (
      SELECT user_id, avg(value) AS y
      FROM events WHERE ts >= TIMESTAMP '2024-01-11' GROUP BY 1
    ),
    u AS (SELECT pre.user_id, pre.pre_cnt, post.y
          FROM pre JOIN post ON pre.user_id = post.user_id),
    th AS (SELECT round(quantile_cont(pre_cnt, 1.0/3.0), 6) AS q1,
                  round(quantile_cont(pre_cnt, 2.0/3.0), 6) AS q2 FROM u),
    a AS (
      SELECT u.*,
             CASE WHEN u.pre_cnt <= th.q1 THEN 1
                  WHEN u.pre_cnt <= th.q2 THEN 2 ELSE 3 END AS stratum
      FROM u, th
    ),
    a2 AS (
      SELECT *, CASE WHEN (user_id * 48271) % 97 < 19 + 10 * stratum
                     THEN 1 ELSE 0 END AS treated
      FROM a
    ),
    sm AS (
      SELECT stratum, avg(treated) AS e,
             avg(CASE WHEN treated = 1 THEN y END) AS m1,
             avg(CASE WHEN treated = 0 THEN y END) AS m0
      FROM a2 GROUP BY 1
    ),
    psi AS (
      SELECT sm.m1 - sm.m0
             + a2.treated * (a2.y - sm.m1) / sm.e
             - (1 - a2.treated) * (a2.y - sm.m0) / (1.0 - sm.e) AS psi
      FROM a2 JOIN sm ON sm.stratum = a2.stratum
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(avg(psi), 6) AS ate_aipw,
           round(stddev_samp(psi) / sqrt(count(*)), 6) AS se_if,
           round(avg(psi) - 1.959964 * stddev_samp(psi) / sqrt(count(*)),
                 6) AS ci_lo,
           round(avg(psi) + 1.959964 * stddev_samp(psi) / sqrt(count(*)),
                 6) AS ci_hi
    FROM psi
    """,
    tags=("events", "stats"),
)
def events_aipw_doubly_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented IPW (doubly-robust; Robins-Rotnitzky-Zhao 1994) ATE on
    the SAME confounded construction as ``events_ipw_ate_stratified``:
    stratum outcome means m₁/m₀ are the outcome model, the propensity
    is the per-stratum treatment share, and each user contributes the
    influence value ``ψ = m₁−m₀ + T(y−m₁)/e − (1−T)(y−m₀)/(1−e)``.
    Consistent if EITHER model is right; the influence-function SE
    (``sd(ψ)/√n``) gives the CI for free — the modern experimentation-
    platform estimator for observational readouts.

    Scale shape: identical to the IPW twin — two user-keyed fact
    aggregates, one exact-percentile scalar, then the outcome/propensity
    model is ONE 3-row aggregate joined back by broadcast; ψ and its
    moments are a single global aggregate.  No window, no Python, no
    fact rescan; every per-stratum quantity rides the same broadcast.
    """
    e = load(spark, sf_dir, "events")
    a = _confounded_cohort(e)
    sm = a.groupBy("stratum").agg(
        F.avg("treated").alias("e"),
        F.avg(F.when(F.col("treated") == 1, F.col("y"))).alias("m1"),
        F.avg(F.when(F.col("treated") == 0, F.col("y"))).alias("m0"),
    )
    psi_col = (
        F.col("m1")
        - F.col("m0")
        + F.col("treated") * (F.col("y") - F.col("m1")) / F.col("e")
        - (1 - F.col("treated"))
        * (F.col("y") - F.col("m0"))
        / (1.0 - F.col("e"))
    )
    psi = a.join(F.broadcast(sm), "stratum").select(psi_col.alias("psi"))
    se = F.stddev_samp("psi") / F.sqrt(F.count(F.lit(1)))
    return psi.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(F.avg("psi"), 6).alias("ate_aipw"),
        F.round(se, 6).alias("se_if"),
        F.round(F.avg("psi") - 1.959964 * se, 6).alias("ci_lo"),
        F.round(F.avg("psi") + 1.959964 * se, 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test across ordered dose groups
# ---------------------------------------------------------------------------


@register(
    "events_cochran_armitage_trend",
    oracle="""
    WITH pre AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS pre_cnt
      FROM events WHERE ts < TIMESTAMP '2024-01-11' GROUP BY 1
    ),
    conv AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS purch
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-11' AND event_type = 'purchase'
      GROUP BY 1
    ),
    uj AS (SELECT pre.user_id, pre.pre_cnt,
                  coalesce(conv.purch, 0) AS purch
           FROM pre LEFT JOIN conv ON conv.user_id = pre.user_id),
    th AS (SELECT round(quantile_cont(pre_cnt, 1.0/3.0), 6) AS q1,
                  round(quantile_cont(pre_cnt, 2.0/3.0), 6) AS q2,
                  round(quantile_cont(purch, 0.5), 6) AS pmed FROM uj),
    u AS (SELECT uj.user_id, uj.pre_cnt,
                 CASE WHEN uj.purch > th.pmed THEN 1 ELSE 0 END AS resp
          FROM uj, th),
    d AS (
      SELECT CASE WHEN u.pre_cnt <= th.q1 THEN 1
                  WHEN u.pre_cnt <= th.q2 THEN 2 ELSE 3 END AS dose,
             u.resp
      FROM u, th
    ),
    g AS (SELECT dose, CAST(count(*) AS BIGINT) AS n_d,
                 CAST(sum(resp) AS BIGINT) AS r_d
          FROM d GROUP BY 1),
    t AS (SELECT sum(n_d) AS n, sum(r_d) AS r,
                 sum(n_d * dose) * 1.0 / sum(n_d) AS xbar FROM g),
    s AS (
      SELECT t.n, t.r,
             sum(g.r_d * (g.dose - t.xbar)) AS num,
             (t.r * 1.0 / t.n) * (1 - t.r * 1.0 / t.n)
               * sum(g.n_d * (g.dose - t.xbar) * (g.dose - t.xbar)) AS den
      FROM g, t GROUP BY t.n, t.r
    ),
    z AS (SELECT CAST(n AS BIGINT) AS n_users, CAST(r AS BIGINT) AS n_resp,
                 num / sqrt(den) AS zv FROM s),
    c AS (SELECT *, abs(zv) AS az, 1.0 / (1.0 + 0.2316419 * abs(zv)) AS t
          FROM z)
    SELECT n_users, n_resp, round(zv, 6) AS z_trend,
           round(2 * (exp(-az * az / 2) / sqrt(2 * pi())
                 * (0.319381530 * t - 0.356563782 * t * t
                    + 1.781477937 * t * t * t
                    - 1.821255978 * t * t * t * t
                    + 1.330274429 * t * t * t * t * t)), 6) AS p_value
    FROM c
    """,
    tags=("events", "stats"),
)
def events_cochran_armitage_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran-Armitage (1954/1955) test for a LINEAR TREND in a binary
    response across ordered dose groups — here: is a user's post-period
    purchase count more likely to clear the cross-user median as the
    pre-period activity tertile rises?  (An any-purchase flag is
    degenerate on this corpus — every user buys — so the response is
    the median-split purchase VOLUME, rate ~1/2 by construction.)  The chi-square independence test (D69) only detects ANY
    association; CA weights the 2×k table by dose scores x_s ∈ {1,2,3}
    and tests the single trend degree of freedom:
    ``z = Σ r_s(x_s−x̄) / √( p̄(1−p̄) Σ n_s(x_s−x̄)² )`` with the
    two-sided p via the house Abramowitz-Stegun 26.2.17 polynomial.

    Scale shape: two user-keyed fact aggregates (pre-count, post
    purchase count — non-buyers kept via LEFT JOIN + coalesce so the
    denominator is the full exposed population), one exact-percentile
    scalar for the tertile cuts and the response median, then the entire test is
    arithmetic over the 3-row dose table.  Everything after the user
    rollup is broadcast-sized; no window, no Python.
    """
    e = load(spark, sf_dir, "events")
    cut = F.lit(_COHORT_CUT).cast("timestamp")
    pre = (
        e.filter(F.col("ts") < cut)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pre_cnt"))
    )
    conv = (
        e.filter((F.col("ts") >= cut) & (F.col("event_type") == "purchase"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("purch"))
    )
    uj = pre.join(conv, "user_id", "left").select(
        "user_id",
        "pre_cnt",
        F.coalesce(F.col("purch"), F.lit(0)).alias("purch"),
    )
    th = uj.agg(
        F.round(F.expr("percentile(pre_cnt, 1.0/3.0)"), 6).alias("q1"),
        F.round(F.expr("percentile(pre_cnt, 2.0/3.0)"), 6).alias("q2"),
        F.round(F.expr("percentile(purch, 0.5)"), 6).alias("pmed"),
    )
    d = (
        uj.crossJoin(F.broadcast(th))
        .withColumn("resp", (F.col("purch") > F.col("pmed")).cast("int"))
        .select(
            F.when(F.col("pre_cnt") <= F.col("q1"), 1)
            .when(F.col("pre_cnt") <= F.col("q2"), 2)
            .otherwise(3)
            .alias("dose"),
            "resp",
        )
    )
    g = d.groupBy("dose").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_d"),
        F.sum("resp").cast("bigint").alias("r_d"),
    )
    t = g.agg(
        F.sum("n_d").alias("n"),
        F.sum("r_d").alias("r"),
        (F.sum(F.col("n_d") * F.col("dose")) * 1.0 / F.sum("n_d")).alias(
            "xbar"
        ),
    )
    s = g.crossJoin(F.broadcast(t)).groupBy("n", "r").agg(
        F.sum(F.col("r_d") * (F.col("dose") - F.col("xbar"))).alias("num"),
        (
            (F.first("r") * 1.0 / F.first("n"))
            * (1 - F.first("r") * 1.0 / F.first("n"))
            * F.sum(
                F.col("n_d")
                * (F.col("dose") - F.col("xbar"))
                * (F.col("dose") - F.col("xbar"))
            )
        ).alias("den"),
    )
    z = s.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.col("r").cast("bigint").alias("n_resp"),
        (F.col("num") / F.sqrt(F.col("den"))).alias("zv"),
    )
    az = F.abs(F.col("zv"))
    tt = 1.0 / (1.0 + 0.2316419 * az)
    poly = (
        0.319381530 * tt
        - 0.356563782 * tt * tt
        + 1.781477937 * tt * tt * tt
        - 1.821255978 * tt * tt * tt * tt
        + 1.330274429 * tt * tt * tt * tt * tt
    )
    pdf = F.exp(-az * az / 2) / F.lit(math.sqrt(2 * math.pi))
    return z.select(
        "n_users",
        "n_resp",
        F.round("zv", 6).alias("z_trend"),
        F.round(2 * pdf * poly, 6).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Empirical-Bayes beta-binomial shrinkage of per-part return rates
# ---------------------------------------------------------------------------


@register(
    "parts_return_rate_shrinkage",
    oracle="""
    WITH g AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM lineitem GROUP BY 1
    ),
    m AS (
      SELECT avg(r * 1.0 / n) AS xb, var_samp(r * 1.0 / n) AS s2 FROM g
    ),
    ab AS (
      SELECT round(greatest(xb * (1 - xb) / greatest(s2, 1e-12) - 1,
                            1e-9), 9) AS ab0,
             xb FROM m
    ),
    p AS (SELECT round(ab0 * xb, 9) AS alpha, ab0 FROM ab)
    SELECT g.l_partkey, g.n, g.r,
           round(g.r * 1.0 / g.n, 6) AS raw_rate,
           round((g.r + p.alpha) / (g.n + p.ab0), 6) AS shrunk_rate
    FROM g, p ORDER BY g.l_partkey
    """,
    tags=("stats", "agg"),
)
def parts_return_rate_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-part return rates under a
    beta-binomial prior fit by method of moments (Morris 1983 lineage;
    the James-Stein idea applied to proportions): small-n parts get
    pulled toward the corpus rate — ``shrunk = (r+α)/(n+α+β)`` with
    ``α+β = x̄(1−x̄)/s² − 1`` from the across-part rate moments — the
    standard fix for ranking noisy per-item rates (return-rate, CTR,
    defect-rate leaderboards).

    Scale shape: ONE part-keyed map-side-combinable fact aggregate,
    then the prior is a 1-row moment aggregate over the PART relation
    broadcast back — two aggregates total, no window, no rescan.  The
    prior parameters round to 9 before the shrink (identical
    trajectories in both engines).  BOTH degenerate directions are
    guarded identically on both sides (ADVICE r11): the MoM DENOMINATOR
    via ``greatest(s2, 1e-12)`` — a zero-variance corpus (s2 = 0) would
    otherwise diverge, Spark x/0 → NULL (so the outer greatest silently
    yields 1e-9) while DuckDB IEEE division → inf — and the resulting
    prior strength via the outer ``greatest(·, 1e-9)`` floor.  With the
    inner guard, s2 = 0 gives a HUGE finite ab0 on both engines — full
    shrink to the corpus mean, the statistically right answer for an
    overdispersion-free corpus (pinned by the constructed-case pytest).
    """
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    g = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("r"),
    )
    rate = F.col("r") * 1.0 / F.col("n")
    m = g.agg(
        F.avg(rate).alias("xb"), F.var_samp(rate).alias("s2")
    )
    p = m.select(
        F.round(
            F.greatest(
                F.col("xb") * (1 - F.col("xb"))
                / F.greatest(F.col("s2"), F.lit(1e-12))
                - 1,
                F.lit(1e-9),
            ),
            9,
        ).alias("ab0"),
        "xb",
    ).select(F.round(F.col("ab0") * F.col("xb"), 9).alias("alpha"), "ab0")
    return (
        g.crossJoin(F.broadcast(p))
        .select(
            "l_partkey",
            "n",
            "r",
            F.round(rate, 6).alias("raw_rate"),
            F.round(
                (F.col("r") + F.col("alpha")) / (F.col("n") + F.col("ab0")), 6
            ).alias("shrunk_rate"),
        )
        .orderBy("l_partkey")
    )


# ---------------------------------------------------------------------------
# Permutation test via deterministic hash re-assignments
# ---------------------------------------------------------------------------


@register(
    "events_permutation_test",
    oracle="""
    WITH y AS (
      SELECT user_id, avg(value) AS y, user_id % 2 AS arm
      FROM events WHERE ts >= TIMESTAMP '2024-01-11' GROUP BY 1
    ),
    obs AS (
      SELECT avg(CASE WHEN arm = 1 THEN y END)
             - avg(CASE WHEN arm = 0 THEN y END) AS d,
             CAST(count(*) AS BIGINT) AS n_users
      FROM y
    ),
    perms AS (
      SELECT y.user_id, y.y, t.j,
             ((y.user_id * 48271 + t.j * 2246822519) % 2147483647) % 2 AS parm
      FROM y, unnest(generate_series(1, 199)) AS t(j)
    ),
    pd AS (
      SELECT j, avg(CASE WHEN parm = 1 THEN y END)
                - avg(CASE WHEN parm = 0 THEN y END) AS d
      FROM perms GROUP BY 1
    )
    SELECT obs.n_users, CAST(199 AS BIGINT) AS n_perms,
           round(obs.d, 6) AS obs_diff,
           round((1.0 + sum(CASE WHEN abs(pd.d) >= abs(obs.d)
                                 THEN 1 ELSE 0 END)) / 200.0, 6) AS p_value
    FROM pd, obs GROUP BY obs.n_users, obs.d
    """,
    tags=("events", "stats"),
)
def events_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher-style permutation test of the A/B mean difference with
    199 DETERMINISTIC virtual re-assignments: permutation j labels each
    user by the LCG hash ``((uid·48271 + j·2246822519) mod 2³¹−1) mod 2``
    — exchangeable-under-the-null relabelings without any RNG state, so
    both engines (and any two cluster runs) enumerate the identical
    permutation set.  ``p = (1 + #{|d_j| ≥ |d_obs|}) / (1+J)``, the
    add-one form that keeps p valid (Phipson & Smyth 2010).  This is
    the distribution-free companion to the Welch z (D63): no normality
    assumption, exact under exchangeability.

    Scale shape: the outcome collapses to ONE row per user first
    (map-side combinable); the 199-way fan-out explodes the USER
    relation, not events (|users|×J rows feeding a (j, arm) partial
    aggregate — embarrassingly parallel, no window, no shuffle beyond
    the two keyed aggregates).  A degenerate permutation (single-arm)
    yields a NULL diff that counts as non-exceeding in BOTH engines
    (NULL comparison → CASE else).  Round-6 on the two reported stats.
    """
    e = load(spark, sf_dir, "events")
    cut = F.lit(_COHORT_CUT).cast("timestamp")
    y = (
        e.filter(F.col("ts") >= cut)
        .groupBy("user_id")
        .agg(F.avg("value").alias("y"))
        .withColumn("arm", F.col("user_id") % 2)
    )
    obs = y.agg(
        (
            F.avg(F.when(F.col("arm") == 1, F.col("y")))
            - F.avg(F.when(F.col("arm") == 0, F.col("y")))
        ).alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )
    perms = y.select(
        "user_id", "y", F.explode(F.expr("sequence(1, 199)")).alias("j")
    ).withColumn(
        "parm",
        (
            (F.col("user_id") * F.lit(48271) + F.col("j") * F.lit(2246822519))
            % F.lit(2147483647)
        )
        % 2,
    )
    pd_ = perms.groupBy("j").agg(
        (
            F.avg(F.when(F.col("parm") == 1, F.col("y")))
            - F.avg(F.when(F.col("parm") == 0, F.col("y")))
        ).alias("d")
    )
    exceed = F.when(
        F.abs(F.col("d")) >= F.abs(F.col("obs_d")), 1
    ).otherwise(0)
    return (
        pd_.crossJoin(
            F.broadcast(
                obs.select(
                    F.col("d").alias("obs_d"), "n_users"
                )
            )
        )
        .groupBy("n_users", "obs_d")
        .agg(
            F.round((1.0 + F.sum(exceed)) / 200.0, 6).alias("p_value")
        )
        .select(
            "n_users",
            F.lit(199).cast("bigint").alias("n_perms"),
            F.round("obs_d", 6).alias("obs_diff"),
            "p_value",
        )
    )


# ---------------------------------------------------------------------------
# Nearest-neighbor covariate matching (with replacement) → ATT
# ---------------------------------------------------------------------------


@register(
    "events_psm_nn_att",
    oracle="""
    WITH pre AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS pre_cnt
      FROM events WHERE ts < TIMESTAMP '2024-01-11' GROUP BY 1
    ),
    post AS (
      SELECT user_id, avg(value) AS y
      FROM events WHERE ts >= TIMESTAMP '2024-01-11' GROUP BY 1
    ),
    u AS (SELECT pre.user_id, pre.pre_cnt, post.y
          FROM pre JOIN post ON pre.user_id = post.user_id),
    th AS (SELECT round(quantile_cont(pre_cnt, 1.0/3.0), 6) AS q1,
                  round(quantile_cont(pre_cnt, 2.0/3.0), 6) AS q2 FROM u),
    a AS (
      SELECT u.*,
             CASE WHEN u.pre_cnt <= th.q1 THEN 1
                  WHEN u.pre_cnt <= th.q2 THEN 2 ELSE 3 END AS stratum,
             CAST(floor(u.pre_cnt / 5) AS BIGINT) AS bucket
      FROM u, th
    ),
    a2 AS (
      SELECT *, CASE WHEN (user_id * 48271) % 97 < 19 + 10 * stratum
                     THEN 1 ELSE 0 END AS treated
      FROM a
    ),
    cand AS (
      SELECT t.user_id AS t_id, t.y AS t_y,
             c.user_id AS c_id, c.y AS c_y,
             abs(t.pre_cnt - c.pre_cnt) AS dist
      FROM a2 t
      JOIN (SELECT *, bucket AS cb FROM a2 WHERE treated = 0) c
        ON c.stratum = t.stratum
       AND c.cb BETWEEN t.bucket - 1 AND t.bucket + 1
      WHERE t.treated = 1 AND abs(t.pre_cnt - c.pre_cnt) <= 5
    ),
    best AS (
      SELECT t_id, t_y, c_id, c_y FROM (
        SELECT *, row_number() OVER (PARTITION BY t_id
                                     ORDER BY dist, c_id) AS rk
        FROM cand) WHERE rk = 1
    ),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n_treated
           FROM a2 WHERE treated = 1)
    SELECT nt.n_treated,
           CAST(count(*) AS BIGINT) AS n_matched,
           CAST(count(DISTINCT c_id) AS BIGINT) AS n_controls_used,
           round(avg(t_y - c_y), 6) AS att
    FROM best, nt GROUP BY nt.n_treated
    """,
    tags=("events", "stats"),
)
def events_psm_nn_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor covariate matching WITH replacement (Rubin 1973
    / Abadie-Imbens 2006) on the stratified confounded construction
    shared with BA9/BA11 — the third leg of the causal suite: each
    treated user is matched to the closest control on the pre-period
    activity covariate within its stratum, caliper 5, and the ATT is
    the mean matched difference.  With-replacement matching is chosen
    deliberately: greedy without-replacement depends on match ORDER (a
    nondeterministic sequential scan), while with-replacement 1-NN is a
    pure per-treated argmin — deterministic, parallel, and lower-bias
    (Abadie-Imbens §3).  Ties break on (distance, control id).

    Scale shape: candidate generation is a BANDED equi-join — controls
    join on (stratum, covariate bucket ∈ {b−1,b,b+1}) where the bucket
    width equals the caliper, so the band provably contains every
    within-caliper match and candidates scale with caliper density,
    never |treated|×|control| (the dedup-band discipline applied to
    matching).  The argmin is a row_number over per-treated candidate
    groups; unmatched treated (empty caliper) drop out and are
    accounted by n_treated − n_matched.  No Python, round-6.
    """
    e = load(spark, sf_dir, "events")
    a2 = _confounded_cohort(e).withColumn(
        "bucket", F.floor(F.col("pre_cnt") / 5).cast("bigint")
    )
    t = a2.filter(F.col("treated") == 1).select(
        F.col("user_id").alias("t_id"),
        F.col("y").alias("t_y"),
        F.col("pre_cnt").alias("t_pre"),
        "stratum",
        "bucket",
    )
    c = a2.filter(F.col("treated") == 0).select(
        F.col("user_id").alias("c_id"),
        F.col("y").alias("c_y"),
        F.col("pre_cnt").alias("c_pre"),
        "stratum",
        F.explode(
            F.array(
                F.col("bucket") - 1, F.col("bucket"), F.col("bucket") + 1
            )
        ).alias("bucket"),
    )
    cand = (
        t.join(c, ["stratum", "bucket"])
        .withColumn("dist", F.abs(F.col("t_pre") - F.col("c_pre")))
        .filter(F.col("dist") <= 5)
    )
    rk = Window.partitionBy("t_id").orderBy("dist", "c_id")
    best = (
        cand.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select("t_id", "t_y", "c_id", "c_y")
    )
    nt = a2.filter(F.col("treated") == 1).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_treated")
    )
    return (
        best.crossJoin(F.broadcast(nt))
        .groupBy("n_treated")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matched"),
            F.countDistinct("c_id").cast("bigint").alias("n_controls_used"),
            F.round(F.avg(F.col("t_y") - F.col("c_y")), 6).alias("att"),
        )
        .select("n_treated", "n_matched", "n_controls_used", "att")
    )


# ---------------------------------------------------------------------------
# V-optimal histogram construction (BB21)
# ---------------------------------------------------------------------------


@register(
    "histogram_v_optimal",
    oracle="""
    WITH f0 AS (
      SELECT least(CAST(floor(value / 25) AS INT) + 1, 20) AS d,
             count(*) AS c
      FROM events GROUP BY 1),
    spine AS (SELECT unnest(generate_series(1, 20)) AS d),
    f AS (SELECT spine.d, CAST(coalesce(f0.c, 0) AS BIGINT) AS c
          FROM spine LEFT JOIN f0 ON f0.d = spine.d),
    pre AS (SELECT a.d, CAST(sum(b.c) AS BIGINT) AS p,
                   CAST(sum(b.c * b.c) AS BIGINT) AS q
            FROM f a JOIN f b ON b.d <= a.d GROUP BY a.d),
    pre0 AS (SELECT d, p, q FROM pre
             UNION ALL SELECT 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
    iv AS (SELECT lo.d + 1 AS i, hi.d AS j,
                  CAST(hi.q - lo.q AS DOUBLE)
                  - CAST(hi.p - lo.p AS DOUBLE)
                    * CAST(hi.p - lo.p AS DOUBLE) / (hi.d - lo.d) AS sse
           FROM pre0 lo JOIN pre0 hi ON hi.d > lo.d),
    e1 AS (SELECT j AS d, sse AS v FROM iv WHERE i = 1),
    e2 AS (SELECT d, v, s FROM (
             SELECT iv.j AS d, e1.v + iv.sse AS v, e1.d AS s,
                    row_number() OVER (PARTITION BY iv.j
                                       ORDER BY e1.v + iv.sse, e1.d) AS rk
             FROM e1 JOIN iv ON iv.i = e1.d + 1) t WHERE rk = 1),
    e3 AS (SELECT d, v, s FROM (
             SELECT iv.j AS d, e2.v + iv.sse AS v, e2.d AS s,
                    row_number() OVER (PARTITION BY iv.j
                                       ORDER BY e2.v + iv.sse, e2.d) AS rk
             FROM e2 JOIN iv ON iv.i = e2.d + 1) t WHERE rk = 1),
    e4 AS (SELECT d, v, s FROM (
             SELECT iv.j AS d, e3.v + iv.sse AS v, e3.d AS s,
                    row_number() OVER (PARTITION BY iv.j
                                       ORDER BY e3.v + iv.sse, e3.d) AS rk
             FROM e3 JOIN iv ON iv.i = e3.d + 1) t WHERE rk = 1),
    b4 AS (SELECT s AS s4 FROM e4 WHERE d = 20),
    b3 AS (SELECT e3.s AS s3, b4.s4 FROM e3 JOIN b4 ON e3.d = b4.s4),
    b2 AS (SELECT e2.s AS s2, b3.s3, b3.s4 FROM e2 JOIN b3 ON e2.d = b3.s3),
    bins AS (
      SELECT 1 AS bin, 1 AS lo, s2 AS hi FROM b2
      UNION ALL SELECT 2, s2 + 1, s3 FROM b2
      UNION ALL SELECT 3, s3 + 1, s4 FROM b2
      UNION ALL SELECT 4, s4 + 1, 20 FROM b2)
    SELECT CAST(bins.bin AS INT) AS bin, CAST(bins.lo AS INT) AS lo,
           CAST(bins.hi AS INT) AS hi,
           CAST(ph.p - pl.p AS BIGINT) AS n_rows,
           iv.sse AS bin_sse
    FROM bins
    JOIN pre0 pl ON pl.d = bins.lo - 1
    JOIN pre0 ph ON ph.d = bins.hi
    JOIN iv ON iv.i = bins.lo AND iv.j = bins.hi
    """,
    tags=("stats", "engine"),
)
def histogram_v_optimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-optimal histogram construction (Jagadish et al. VLDB 1998) — the
    optimizer-statistics structure a query engine builds over a column:
    partition the 20-bucket frequency vector of ``events.value`` into 4
    variance-minimal bins (global minimum of Σ within-bin SSE, the
    v-optimal criterion that dominates equi-width/equi-depth for
    selectivity estimation).  Exact dynamic program E_k[d] =
    min_s E_{k−1}[s] + SSE(s+1..d), k unrolled to 4, then the split
    backtrack — not a heuristic: the pytest brute-forces all C(19,3)
    splittings and confirms global optimality.

    Scale shape: ONE map-combinable fact scan reduces the corpus to the
    20-bucket frequency vector; prefix sums, the 210-interval SSE
    relation, all four DP rounds, and the backtrack are joins over
    ≤20²-row broadcast-scale relations, so histogram construction cost
    is independent of corpus size (what an ANALYZE command needs).
    Exactness: frequencies/prefixes are BIGINT; SSE = (Q-span) −
    (P-span)²/len is one IEEE division; DP value chains add identical
    doubles in both engines and every argmin tiebreaks on the split
    index."""
    e = load(spark, sf_dir, "events")
    f0 = e.groupBy(
        F.least((F.floor(F.col("value") / 25) + 1).cast("int"), F.lit(20))
        .alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    spine = spark.range(1, 21).select(F.col("id").cast("int").alias("d"))
    f = spine.join(F.broadcast(f0), "d", "left").select(
        "d", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    fa, fb = f.alias("fa"), f.alias("fb")
    pre = (
        fa.join(F.broadcast(fb), F.col("fb.d") <= F.col("fa.d"))
        .groupBy(F.col("fa.d").alias("d"))
        .agg(
            F.sum("fb.c").cast("long").alias("p"),
            F.sum(F.col("fb.c") * F.col("fb.c")).cast("long").alias("q"),
        )
    )
    pre0 = pre.union(
        spark.range(1).select(
            F.lit(0).cast("int").alias("d"),
            F.lit(0).cast("long").alias("p"),
            F.lit(0).cast("long").alias("q"),
        )
    )
    lo, hi = pre0.alias("lo"), pre0.alias("hi")
    iv = lo.join(F.broadcast(hi), F.col("hi.d") > F.col("lo.d")).select(
        (F.col("lo.d") + 1).alias("i"),
        F.col("hi.d").alias("j"),
        (
            (F.col("hi.q") - F.col("lo.q")).cast("double")
            - (F.col("hi.p") - F.col("lo.p")).cast("double")
            * (F.col("hi.p") - F.col("lo.p")).cast("double")
            / (F.col("hi.d") - F.col("lo.d"))
        ).alias("sse"),
    )
    e_k = iv.filter(F.col("i") == 1).select(
        F.col("j").alias("d"), F.col("sse").alias("v")
    )
    # fresh column names per DP round: e_k derives FROM iv, so an
    # un-renamed self-join would trip the ambiguous-self-join analyzer
    ivr = iv.select(
        F.col("i").alias("ii"), F.col("j").alias("jj"),
        F.col("sse").alias("ss"),
    )
    rounds = [e_k]
    for _ in range(3):
        prev = rounds[-1].select(
            F.col("d").alias("pd"), F.col("v").alias("pv")
        )
        nxt = (
            prev.join(F.broadcast(ivr), F.col("ii") == F.col("pd") + 1)
            .groupBy(F.col("jj").alias("d"))
            .agg(
                F.min(
                    F.struct(
                        (F.col("pv") + F.col("ss")).alias("v"),
                        F.col("pd").alias("s"),
                    )
                ).alias("b")
            )
            .select("d", F.col("b.v").alias("v"), F.col("b.s").alias("s"))
        )
        rounds.append(nxt)
    e2, e3, e4 = rounds[1], rounds[2], rounds[3]
    b4 = e4.filter(F.col("d") == 20).select(F.col("s").alias("s4"))
    b3 = e3.join(F.broadcast(b4), e3["d"] == b4["s4"]).select(
        F.col("s").alias("s3"), "s4"
    )
    b2 = e2.join(F.broadcast(b3), e2["d"] == b3["s3"]).select(
        F.col("s").alias("s2"), "s3", "s4"
    )
    bins = (
        b2.select(
            F.lit(1).alias("bin"), F.lit(1).alias("lo"),
            F.col("s2").alias("hi"),
        )
        .union(
            b2.select(
                F.lit(2), (F.col("s2") + 1).alias("lo"),
                F.col("s3").alias("hi"),
            )
        )
        .union(
            b2.select(
                F.lit(3), (F.col("s3") + 1).alias("lo"),
                F.col("s4").alias("hi"),
            )
        )
        .union(
            b2.select(
                F.lit(4), (F.col("s4") + 1).alias("lo"), F.lit(20).alias("hi")
            )
        )
    )
    pl, ph = pre0.alias("pl"), pre0.alias("ph")
    return (
        bins.join(F.broadcast(pl), F.col("pl.d") == F.col("lo") - 1)
        .join(F.broadcast(ph), F.col("ph.d") == F.col("hi"))
        .join(
            F.broadcast(iv.alias("bi")),
            (F.col("bi.i") == F.col("lo")) & (F.col("bi.j") == F.col("hi")),
        )
        .select(
            F.col("bin").cast("int").alias("bin"),
            F.col("lo").cast("int").alias("lo"),
            F.col("hi").cast("int").alias("hi"),
            (F.col("ph.p") - F.col("pl.p")).cast("long").alias("n_rows"),
            F.col("bi.sse").alias("bin_sse"),
        )
    )


# ---------------------------------------------------------------------------
# Haar wavelet synopsis (BB22)
# ---------------------------------------------------------------------------


@register(
    "histogram_wavelet_synopsis",
    oracle="""
    WITH f0 AS (
      SELECT least(CAST(floor(value / 31) AS INT) + 1, 16) AS d, count(*) AS c
      FROM events GROUP BY 1),
    spine AS (SELECT unnest(generate_series(1, 16)) AS d),
    s0 AS (SELECT spine.d - 1 AS i, CAST(coalesce(f0.c, 0) AS DOUBLE) AS s
           FROM spine LEFT JOIN f0 ON f0.d = spine.d),
    s1 AS (SELECT i // 2 AS i, sum(s) / 2 AS s,
                  sum(s * (1 - 2 * (i % 2))) / 2 AS dd
           FROM s0 GROUP BY i // 2),
    s2 AS (SELECT i // 2 AS i, sum(s) / 2 AS s,
                  sum(s * (1 - 2 * (i % 2))) / 2 AS dd
           FROM s1 GROUP BY i // 2),
    s3 AS (SELECT i // 2 AS i, sum(s) / 2 AS s,
                  sum(s * (1 - 2 * (i % 2))) / 2 AS dd
           FROM s2 GROUP BY i // 2),
    s4 AS (SELECT i // 2 AS i, sum(s) / 2 AS s,
                  sum(s * (1 - 2 * (i % 2))) / 2 AS dd
           FROM s3 GROUP BY i // 2),
    coeffs AS (
      SELECT 1 AS lvl, i AS j, dd AS v FROM s1
      UNION ALL SELECT 2, i, dd FROM s2
      UNION ALL SELECT 3, i, dd FROM s3
      UNION ALL SELECT 4, i, dd FROM s4),
    ranked AS (
      SELECT a.lvl, a.j, a.v,
             (SELECT count(*) FROM coeffs b
              WHERE (abs(b.v), -b.lvl, -b.j) > (abs(a.v), -a.lvl, -a.j))
                 + 1 AS rk
      FROM coeffs a),
    kept AS (SELECT lvl, j, v FROM ranked WHERE rk <= 3),
    recon AS (
      SELECT s0.i,
             (SELECT s FROM s4) +
             coalesce(sum(k.v * CASE WHEN (s0.i // CAST(2 ** (k.lvl - 1)
                                           AS INT)) % 2 = 0
                                     THEN 1 ELSE -1 END), 0) AS fh
      FROM s0 LEFT JOIN kept k
        ON s0.i // CAST(2 ** k.lvl AS INT) = k.j
      GROUP BY s0.i)
    SELECT CAST(s0.i + 1 AS INT) AS bucket, CAST(s0.s AS BIGINT) AS f,
           recon.fh AS f_hat, abs(s0.s - recon.fh) AS abs_err
    FROM s0 JOIN recon ON recon.i = s0.i
    """,
    tags=("stats", "engine"),
)
def histogram_wavelet_synopsis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet synopsis of the value histogram (Matias, Vitter &
    Wang SIGMOD 1998) — the other classical selectivity-estimation
    synopsis next to the v-optimal histogram (BB21): the 16-bucket
    frequency vector is Haar-decomposed (4 unrolled averaging/difference
    levels), the 3 largest-magnitude detail coefficients plus the
    overall average are RETAINED, and the lossy reconstruction with its
    per-bucket absolute error is reported — exactly the accuracy/space
    trade an optimizer makes when it stores B coefficients instead of
    the full histogram.

    Scale shape: ONE map-combinable fact scan reduces the corpus to the
    16-bucket vector (zero-filled spine); every transform level is a
    groupBy over a relation that HALVES per level (16→8→4→2→1 rows),
    coefficient ranking is a triangular count over ≤15² rows, and the
    reconstruction joins each bucket to the ≤3 kept coefficients by
    dyadic support arithmetic (i>>lvl = j, sign by the half of the
    support) — all broadcast-scale.  Exactness: the averaging Haar
    convention keeps every value a dyadic rational (integer / 2^k),
    which doubles represent EXACTLY, so transform, ranking, and
    reconstruction are bit-identical in both engines with zero rounding
    anywhere."""
    e = load(spark, sf_dir, "events")
    f0 = e.groupBy(
        F.least((F.floor(F.col("value") / 31) + 1).cast("int"), F.lit(16))
        .alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    spine = spark.range(1, 17).select(F.col("id").cast("int").alias("d"))
    s0 = spine.join(F.broadcast(f0), "d", "left").select(
        (F.col("d") - 1).alias("i"),
        F.coalesce(F.col("c"), F.lit(0)).cast("double").alias("s"),
    )
    levels = [s0]
    for _ in range(4):
        prev = levels[-1]
        nxt = prev.groupBy(
            (F.col("i") / 2).cast("int").alias("i")
        ).agg(
            (F.sum("s") / 2).alias("s"),
            (F.sum(F.col("s") * (1 - 2 * (F.col("i") % 2))) / 2).alias("dd"),
        )
        levels.append(nxt)
    coeffs = None
    for lvl, rel in enumerate(levels[1:], start=1):
        part = rel.select(
            F.lit(lvl).alias("lvl"), F.col("i").alias("j"),
            F.col("dd").alias("v"),
        )
        coeffs = part if coeffs is None else coeffs.union(part)
    ca, cb = coeffs.alias("ca"), coeffs.alias("cb")
    ranked = (
        ca.join(
            F.broadcast(cb),
            F.struct(
                F.abs(F.col("cb.v")).alias("a"),
                (-F.col("cb.lvl")).alias("nl"),
                (-F.col("cb.j")).alias("nj"),
            )
            > F.struct(
                F.abs(F.col("ca.v")).alias("a"),
                (-F.col("ca.lvl")).alias("nl"),
                (-F.col("ca.j")).alias("nj"),
            ),
            "left",
        )
        .groupBy(
            F.col("ca.lvl").alias("lvl"),
            F.col("ca.j").alias("j"),
            F.col("ca.v").alias("v"),
        )
        .agg((F.count(F.col("cb.v")) + 1).alias("rk"))
    )
    kept = ranked.filter(F.col("rk") <= 3).select("lvl", "j", "v")
    avg_row = levels[-1].select(F.col("s").alias("c0"))
    recon = (
        s0.join(
            F.broadcast(kept),
            F.expr("i div cast(pow(2, lvl) as int) = j"),
            "left",
        )
        .groupBy(F.col("i"), F.col("s"))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("v")
                    * F.when(
                        F.expr(
                            "(i div cast(pow(2, lvl - 1) as int)) % 2 = 0"
                        ),
                        1,
                    ).otherwise(-1)
                ),
                F.lit(0.0),
            ).alias("detail")
        )
        .crossJoin(F.broadcast(avg_row))
        .select(
            "i", "s", (F.col("c0") + F.col("detail")).alias("fh")
        )
    )
    return recon.select(
        (F.col("i") + 1).cast("int").alias("bucket"),
        F.col("s").cast("long").alias("f"),
        F.col("fh").alias("f_hat"),
        F.abs(F.col("s") - F.col("fh")).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# Mahalanobis multivariate outlier screen (BB24)
# ---------------------------------------------------------------------------


@register(
    "users_mahalanobis_outliers",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM u),
    c AS (
      SELECT n, sx, sy,
             CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS cxx,
             CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS cyy,
             CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cxy
      FROM t),
    d AS (
      SELECT u.user_id, u.x, u.y,
             (c.cyy * (CAST(c.n AS DOUBLE) * u.x - c.sx)
                    * (CAST(c.n AS DOUBLE) * u.x - c.sx)
              - 2 * c.cxy * (CAST(c.n AS DOUBLE) * u.x - c.sx)
                          * (CAST(c.n AS DOUBLE) * u.y - c.sy)
              + c.cxx * (CAST(c.n AS DOUBLE) * u.y - c.sy)
                      * (CAST(c.n AS DOUBLE) * u.y - c.sy))
             / (c.cxx * c.cyy - c.cxy * c.cxy) AS d2
      FROM u, c)
    SELECT user_id, x AS n_events, y AS total_cents,
           round(d2, 6) AS mahalanobis_d2
    FROM d WHERE d2 > 7.377759e0
    """,
    tags=("stats",),
)
def users_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outlier screen by Mahalanobis distance — the 2-D
    upgrade of the univariate z-score/MAD screens (events_anomaly_zscore,
    events_mad_outlier): per-user activity profile (event count, total
    cent-exact spend), sample mean vector and 2×2 covariance, and each
    user's squared Mahalanobis distance d² = δᵀΣ⁻¹δ via the closed-form
    2×2 inverse; users beyond the χ²₂ 97.5% quantile (7.378, a baked
    literal) are flagged — catching users whose count/spend COMBINATION
    is anomalous even when each margin alone is not.

    Exactness: both features are BIGINTs, so the five moment sums are
    integer-exact; with C·· = N·S·· − S·S and D = N·v − S (all
    integer-valued), d² reduces to the pure ratio
    (Cyy·Dx² − 2Cxy·DxDy + Cxx·Dy²)/(CxxCyy − Cxy²) — every operand is
    an integer-valued double, so both engines follow the identical IEEE
    chain.  Scale shape: one shuffle to the per-user profile, ONE global
    moment row broadcast back, per-user d² in-row, no window; the flag
    threshold prunes the output to the tail."""
    u = load(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(round_half_up(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y"),
    )
    t = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    c = t.select(
        "n",
        "sx",
        "sy",
        (
            F.col("n").cast("double") * F.col("sxx")
            - F.col("sx").cast("double") * F.col("sx")
        ).alias("cxx"),
        (
            F.col("n").cast("double") * F.col("syy")
            - F.col("sy").cast("double") * F.col("sy")
        ).alias("cyy"),
        (
            F.col("n").cast("double") * F.col("sxy")
            - F.col("sx").cast("double") * F.col("sy")
        ).alias("cxy"),
    )
    dx = F.col("n").cast("double") * F.col("x") - F.col("sx")
    dy = F.col("n").cast("double") * F.col("y") - F.col("sy")
    d2 = (
        F.col("cyy") * dx * dx
        - 2 * F.col("cxy") * dx * dy
        + F.col("cxx") * dy * dy
    ) / (
        F.col("cxx") * F.col("cyy") - F.col("cxy") * F.col("cxy")
    )
    return (
        u.crossJoin(F.broadcast(c))
        .select(
            "user_id",
            F.col("x").alias("n_events"),
            F.col("y").alias("total_cents"),
            d2.alias("d2"),
        )
        .filter(F.col("d2") > 7.377759)
        .select(
            "user_id",
            "n_events",
            "total_cents",
            F.round("d2", 6).alias("mahalanobis_d2"),
        )
    )


# ---------------------------------------------------------------------------
# Exact 1-D Wasserstein (earth-mover) drift distance (BB26)
# ---------------------------------------------------------------------------


@register(
    "events_wasserstein_drift",
    oracle="""
    WITH v AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN event_type = 'signup'
                           THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM events
      WHERE event_type IN ('purchase', 'signup')
      GROUP BY 1),
    r AS (
      SELECT cents, na, nb,
             CAST(sum(na) OVER (ORDER BY cents) AS BIGINT) AS ca,
             CAST(sum(nb) OVER (ORDER BY cents) AS BIGINT) AS cb,
             lead(cents) OVER (ORDER BY cents) AS nxt
      FROM v),
    tot AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
                   CAST(sum(nb) AS BIGINT) AS tb
            FROM v),
    seg AS (
      SELECT abs(r.ca * t.tb - r.cb * t.ta) * (r.nxt - r.cents) AS piece
      FROM r, tot t WHERE r.nxt IS NOT NULL)
    SELECT t.ta AS n_purchase, t.tb AS n_signup,
           ((2 * CAST(sum(s.piece) AS BIGINT) * 1000000
             + t.ta * t.tb * 100)
            // (2 * t.ta * t.tb * 100)) / 1000000.0 AS w1_dollars
    FROM seg s, tot t
    GROUP BY t.ta, t.tb
    """,
    tags=("stats", "scale"),
)
def events_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) distance between the
    purchase and signup value distributions — the INTEGRAL companion of
    the existing sup-norm (KS) and binned (PSI/KL/JS) drift metrics:
    W₁ = ∫|F_A − F_B| dv, the minimum cost of morphing one distribution
    into the other, sensitive to WHERE the mass moved, not just whether
    it did.  Computed exactly on the merged support: for each adjacent
    pair of observed values, |cumA·N_B − cumB·N_A|·Δv accumulates in
    BIGINT, and the single division N_A·N_B·100 happens once at
    emission through the integer-rounding helper — no approximation, no
    binning, no float accumulation anywhere.

    Scale shape: one fact scan groups to the distinct-cents support
    (map-combinable); the cumulative CDFs ride the value-banded
    global-order machinery (``functions/rank.py`` — integer running
    sums are EXACT there, no single-partition window over the support),
    the adjacent-value join is a self-join on rank r = r+1, and the
    final reduction is one integer sum."""
    from lambda_arc_events_filter_spark.functions.rank import (
        global_order_stats,
    )

    v = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "signup"))
        .groupBy(
            round_half_up(F.col("value") * 100).cast("long").alias("cents")
        )
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("na"),
            F.sum(
                F.when(F.col("event_type") == "signup", 1).otherwise(0)
            )
            .cast("long")
            .alias("nb"),
        )
    )
    r = global_order_stats(
        v,
        ["cents"],
        rank="r",
        running={"ca": ("na", "sum"), "cb": ("nb", "sum")},
        totals={"ta": ("na", "sum"), "tb": ("nb", "sum")},
    )
    cur = r.select("r", "cents", "ca", "cb", "ta", "tb")
    nxt = r.select(
        (F.col("r") - 1).alias("r"), F.col("cents").alias("nxt_cents")
    )
    seg = cur.join(nxt, "r").select(
        "ta",
        "tb",
        (
            F.abs(F.col("ca") * F.col("tb") - F.col("cb") * F.col("ta"))
            * (F.col("nxt_cents") - F.col("cents"))
        ).alias("piece"),
    )
    agg = seg.groupBy("ta", "tb").agg(
        F.sum("piece").cast("long").alias("t")
    )
    return agg.select(
        F.col("ta").alias("n_purchase"),
        F.col("tb").alias("n_signup"),
        round_int_ratio(
            F.col("t"), F.col("ta") * F.col("tb") * 100, 6
        ).alias("w1_dollars"),
    )
